"""Epoch-committed parquet table store behind the foreachBatch maintainers.

A maintainer's state is a few named tables that must change together: a
view must never be visible next to a state it was not built from. Each
micro-batch epoch ``e`` commits in three steps:

1. every table is written to its own version directory ``<root>/<name>/<e>``;
2. ``<root>/_committed.json``, a one-line manifest naming ``e`` and the
   tables, replaces the previous one with ``os.replace`` — the single step
   that publishes all tables at once;
3. every version the manifest does not name is deleted (again when the
   store is next opened, should a crash cut this step short).

Reads resolve through the manifest, so a crash anywhere leaves the old
epoch committed (its versions are still on disk, and the replayed epoch
recomputes from them) or the new one (the replay finds its epoch already
committed and does nothing). This is the epoch-keyed idempotent sink of
Structured Streaming: after a crash the stream redelivers the unfinished
epoch with the same id and the same data. Old versions stay until the
commit, so lazy reads of them inside the batch stay valid.

The guarantee covers a crashed process, not a lost machine: neither the
manifest nor Spark's local parquet writer fsyncs.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_committed.json"


class EpochStore:
    """Named parquet tables under ``root``, all replaced at once per epoch."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.epoch = None  # last committed epoch, None before the first
        try:
            with open(os.path.join(root, MANIFEST)) as f:
                manifest = json.load(f)
        except FileNotFoundError:
            return
        self.epoch = manifest["epoch"]
        self._drop_uncommitted(manifest["tables"])

    def path(self, name: str) -> str:
        """Directory holding the committed version of table ``name``."""
        return os.path.join(self.root, name, str(self.epoch))

    def read(self, name: str, schema) -> DataFrame:
        """The committed table, or an empty frame of ``schema`` before the
        first commit."""
        if self.epoch is None:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.parquet(self.path(name))

    def committed(self, epoch: int) -> bool:
        """True when ``epoch`` is the committed one, i.e. a replay after a
        crash that the caller must skip. An older epoch cannot be applied
        to newer state and raises."""
        if self.epoch is None or epoch > self.epoch:
            return False
        if epoch < self.epoch:
            raise ValueError(
                f"epoch {epoch} is older than the committed epoch {self.epoch}"
            )
        return True

    def commit(self, epoch: int, tables: dict[str, DataFrame]) -> None:
        """Write every table as version ``epoch`` and publish them together."""
        for name, df in tables.items():
            df.write.mode("overwrite").parquet(os.path.join(self.root, name, str(epoch)))
        tmp = os.path.join(self.root, MANIFEST + ".tmp")
        with open(tmp, "w") as f:
            json.dump({"epoch": epoch, "tables": sorted(tables)}, f)
        os.replace(tmp, os.path.join(self.root, MANIFEST))
        self.epoch = epoch
        self._drop_uncommitted(tables)

    def _drop_uncommitted(self, names) -> None:
        for name in names:
            for version in os.listdir(os.path.join(self.root, name)):
                if version != str(self.epoch):
                    shutil.rmtree(os.path.join(self.root, name, version))

"""Tests of the changelog generator: determinism and the expected view.

    python3 -m pytest ktbench/test_gen.py -q      (or: python3 ktbench/test_gen.py)
"""

from __future__ import annotations

import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyarrow.parquet as pq  # noqa: E402

from changelog_gen import ChangelogGenerator, Profile  # noqa: E402

SMALL = Profile(
    keys=2_000, clients=300, zipf_s=0.8, delta=150, stale=20,
    p_tombstone=0.15, p_flip=0.3, lookups=5,
)


def _replay(seed: int, batches: int):
    gen = ChangelogGenerator(SMALL, seed)
    out = []
    for _ in range(batches):
        b = gen.next_batch()
        buf = io.BytesIO()
        pq.write_table(b.table, buf)
        out.append((buf.getvalue(), b.lookups, gen.expected_view()))
    return out


def test_same_seed_same_chunks_lookups_and_views():
    assert _replay(7, 6) == _replay(7, 6)


def test_other_seed_other_chunks():
    assert [c for c, _, _ in _replay(7, 3)] != [c for c, _, _ in _replay(8, 3)]


def test_expected_view_equals_latest_per_key_recompute():
    """The incremental expected view equals the view recomputed from all
    records at once: highest offset per key wins, tombstones delete, NASDAQ
    positions grouped per client; and stale records never win."""
    gen = ChangelogGenerator(SMALL, 11)
    latest: dict[str, tuple[int, dict | None]] = {}
    stale = 0
    for _ in range(8):
        b = gen.next_batch()
        stale_rows = []
        for row in b.table.to_pylist():
            key, value, offset = row["key"], row["value"], row["offset"]
            if offset % 10 == 5:
                stale_rows.append((key, offset))
            if key not in latest or offset > latest[key][0]:
                latest[key] = (offset, value)
        stale += len(stale_rows)
        assert all(offset < latest[key][0] for key, offset in stale_rows)
        view: dict[str, list[str]] = {}
        for key, (_, value) in latest.items():
            if value is not None and value["exchange"] == "NASDAQ":
                assert value["id"] == key and key.startswith(value["client"] + ":::")
                view.setdefault(value["client"], []).append(key)
        assert {c: sorted(ids) for c, ids in view.items()} == gen.expected_view()
        for client, want in b.lookups:
            assert want == (sorted(view[client]) if client in view else None)
    assert stale == 7 * SMALL.stale


def test_batch_sizes_and_order():
    gen = ChangelogGenerator(SMALL, 3)
    base = gen.next_batch()
    assert base.records == SMALL.keys
    nxt = gen.next_batch()
    assert nxt.records == SMALL.delta + SMALL.stale
    offsets = nxt.table.column("offset").to_pylist()
    assert offsets == sorted(offsets)
    live = [k for k, o in zip(nxt.table.column("key").to_pylist(), offsets) if o % 10 == 0]
    assert len(set(live)) == SMALL.delta


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print("ok", name)

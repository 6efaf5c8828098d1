"""Seeded share-position changelog generator with a pure-Python expected view.

The changelog follows the engine's contract (``sources.changelog``):
``key STRING = client:::ticker``, ``value STRUCT<client, id, ticker,
exchange, amount>`` (null = tombstone) and ``offset BIGINT``, where the
highest offset per key wins. The expected view is the reference's
``us-share-holders`` store: per client, the sorted ids of its live NASDAQ
positions; a client with none is absent.

Batch 0 loads one record per key (the base state). Every later batch picks
``delta`` distinct keys and gives each one live record: an amount update,
an exchange flip (NASDAQ in or out), a tombstone, or a re-insert of a key
deleted earlier. Then ``stale`` extra records arrive for random keys with
an offset just below the key's current one; compaction must make each of
them lose. Live offsets are multiples of 10, stale ones end in 5, so no
stale record can tie a live one.

Clients own keys by a Zipf draw, so hot clients hold many positions; the
point lookups draw clients from the same Zipf weights. The same seed gives
the same chunks, lookups and views (``test_gen.py``).
"""

from __future__ import annotations

import itertools
import random
from dataclasses import dataclass

import pyarrow as pa

EXCHANGES = ("NASDAQ", "LON", "NYSE")

VALUE_TYPE = pa.struct(
    [
        ("client", pa.string()),
        ("id", pa.string()),
        ("ticker", pa.string()),
        ("exchange", pa.string()),
        ("amount", pa.int32()),
    ]
)
SCHEMA = pa.schema(
    [
        pa.field("key", pa.string(), nullable=False),
        pa.field("value", VALUE_TYPE),
        pa.field("offset", pa.int64(), nullable=False),
    ]
)


@dataclass(frozen=True)
class Profile:
    """Shape of one workload's changelog."""

    keys: int  # distinct client:::ticker keys, all loaded by batch 0
    clients: int
    zipf_s: float  # skew of key ownership and of lookup targets
    delta: int  # distinct keys touched per batch after the base load
    stale: int  # out-of-order records per batch that must lose
    p_tombstone: float
    p_flip: float  # exchange moves in or out of NASDAQ; the rest update amount
    lookups: int  # point lookups after each batch


@dataclass
class Batch:
    """One chunk of the changelog plus what the view must show after it."""

    epoch: int
    table: pa.Table  # rows sorted by offset
    lookups: list[tuple[str, list[str] | None]]  # (client, expected positions)

    @property
    def records(self) -> int:
        return self.table.num_rows


class ChangelogGenerator:
    """Yields batches in order and keeps the expected view after each one."""

    def __init__(self, profile: Profile, seed: int):
        self.p = profile
        self.rng = random.Random(seed)
        weights = [1.0 / (i + 1) ** profile.zipf_s for i in range(profile.clients)]
        self._cum = list(itertools.accumulate(weights))
        owner = self.rng.choices(
            range(profile.clients), cum_weights=self._cum, k=profile.keys
        )
        per_client = [0] * profile.clients
        self.key_client: list[str] = []
        self.key_ticker: list[str] = []
        for c in owner:
            self.key_client.append(f"c{c:05d}")
            self.key_ticker.append(f"T{per_client[c]:05d}")
            per_client[c] += 1
        self.keys = [f"{c}:::{t}" for c, t in zip(self.key_client, self.key_ticker)]
        self.cur_offset = [0] * profile.keys
        self.cur_exchange: list[str | None] = [None] * profile.keys
        self.view: dict[str, set[str]] = {}
        self._seq = 0
        self.epoch = 0

    # --- expected view ------------------------------------------------------

    def _apply(self, k: int, exchange: str | None, offset: int) -> None:
        if offset <= self.cur_offset[k]:
            return  # compaction: the highest offset wins, tombstones included
        client, key = self.key_client[k], self.keys[k]
        if self.cur_exchange[k] == "NASDAQ":
            ids = self.view[client]
            ids.discard(key)
            if not ids:
                del self.view[client]
        if exchange == "NASDAQ":
            self.view.setdefault(client, set()).add(key)
        self.cur_exchange[k] = exchange
        self.cur_offset[k] = offset

    def expected_view(self) -> dict[str, list[str]]:
        return {c: sorted(ids) for c, ids in self.view.items()}

    # --- records ------------------------------------------------------------

    def _live(self, k: int, exchange: str | None) -> tuple:
        self._seq += 1
        offset = 10 * self._seq
        self._apply(k, exchange, offset)
        return (k, exchange, self.rng.randint(1, 1000), offset)

    def _next_exchange(self, k: int) -> str | None:
        cur = self.cur_exchange[k]
        if cur is None:
            return self.rng.choice(EXCHANGES)  # re-insert of a deleted key
        u = self.rng.random()
        if u < self.p.p_tombstone:
            return None
        if u < self.p.p_tombstone + self.p.p_flip:
            if cur == "NASDAQ":
                return self.rng.choice(EXCHANGES[1:])
            return "NASDAQ"
        return cur

    def _table(self, recs: list[tuple]) -> pa.Table:
        recs.sort(key=lambda r: r[3])
        keys = [self.keys[r[0]] for r in recs]
        clients = [self.key_client[r[0]] for r in recs]
        tickers = [self.key_ticker[r[0]] for r in recs]
        exch = [r[1] for r in recs]
        value = pa.StructArray.from_arrays(
            [
                pa.array(clients, pa.string()),
                pa.array(keys, pa.string()),
                pa.array(tickers, pa.string()),
                pa.array(exch, pa.string()),
                pa.array([r[2] for r in recs], pa.int32()),
            ],
            fields=list(VALUE_TYPE),
            mask=pa.array([e is None for e in exch]),
        )
        return pa.Table.from_arrays(
            [
                pa.array(keys, pa.string()),
                value,
                pa.array([r[3] for r in recs], pa.int64()),
            ],
            schema=SCHEMA,
        )

    def next_batch(self) -> Batch:
        p, rng = self.p, self.rng
        if self.epoch == 0:
            order = list(range(p.keys))
            rng.shuffle(order)
            recs = [
                self._live(k, rng.choice(EXCHANGES) if rng.random() > p.p_tombstone else None)
                for k in order
            ]
        else:
            recs = [self._live(k, self._next_exchange(k)) for k in rng.sample(range(p.keys), p.delta)]
            for _ in range(p.stale):
                k = rng.randrange(p.keys)
                offset = self.cur_offset[k] - 5
                exchange = rng.choice(EXCHANGES + (None,))
                self._apply(k, exchange, offset)
                recs.append((k, exchange, rng.randint(1, 1000), offset))
        clients = rng.choices(range(p.clients), cum_weights=self._cum, k=p.lookups)
        lookups = []
        for c in clients:
            name = f"c{c:05d}"
            ids = self.view.get(name)
            lookups.append((name, sorted(ids) if ids else None))
        batch = Batch(self.epoch, self._table(recs), lookups)
        self.epoch += 1
        return batch

"""``kline_feed`` — a Spark 4 Python STREAMING DataSource with real
offset semantics: the idiomatic stand-in for the reference's Kafka
source (reference spark/streaming-shorttime.py:45-52) in an environment
without the Kafka connector jar.

What makes this a *source* and not a fixture: it implements the offset
contract the streaming engine drives every real source through —
``initialOffset`` → repeated ``latestOffset`` / ``read(start, end)``
micro-batches → offsets persisted in the checkpoint WAL → restart
resumes from the committed offset. Exactly-once delivery across
restarts is therefore the engine's guarantee, not the source's luck —
proven by the kill-and-resume test (tests/test_feed_source.py).

The feed itself is a deterministic kline generator (offset i → one
kline: coin cycles a fixed list, event-time advances 1 s per record,
volume is a pure function of i) so tests can assert exact content.
Options:

* ``max_rows`` — the feed's currently-available end; ``latestOffset``
  reports it in full (under Trigger.AvailableNow the engine snapshots
  the end offset once at query start, so a source that "grows" per poll
  would under-drain — the available end must be the truth).
* ``split_rows`` — partition granularity for catch-up ranges: a large
  backlog batch fans out over ceil(range / split_rows) input
  partitions.
"""

from __future__ import annotations

import json
import sys
from dataclasses import dataclass

from pyspark import cloudpickle
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

KLINE_FEED_SCHEMA = StructType(
    [
        StructField("offset", LongType()),
        StructField("coin", StringType()),
        StructField("ts", TimestampType()),
        StructField("close", DoubleType()),
        StructField("volume", DoubleType()),
    ]
)

_COINS = ("BTCUSDT", "ETHUSDT", "SOLUSDT", "BNBUSDT", "XRPUSDT")
_BASE_EPOCH = 1_700_000_000  # fixed feed epoch (UTC seconds)


def _kline(i: int) -> tuple:
    import datetime as dt

    coin = _COINS[i % len(_COINS)]
    ts = dt.datetime.fromtimestamp(_BASE_EPOCH + i, dt.timezone.utc).replace(
        tzinfo=None
    )
    close = 100.0 + (i % 97) * 0.5
    volume = float((i * 7) % 31 + 1)
    return (i, coin, ts, close, volume)


@dataclass
class _Range(InputPartition):
    start: int
    end: int


class KlineFeedStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict) -> None:
        self._max = int(options.get("max_rows", 1000))
        self._split = int(options.get("split_rows", 250))
        # rows_per_poll throttles how much of the feed each latestOffset
        # poll admits — the live-trigger mode: a processingTime query
        # then drains in ceil(max/rows_per_poll) micro-batches, letting
        # event-time watermarks advance BETWEEN batches (windowed aggs
        # need ≥2 batches to emit anything). Default = everything at
        # once, which is the correct shape for Trigger.AvailableNow
        # (the engine snapshots the end offset a single time at query
        # start, so a growing end offset would under-drain there).
        self._poll = int(options.get("rows_per_poll", self._max))
        # Durable committed floor (optional): with floor_dir set, every
        # commit(end) persists the committed offset and a FRESH reader
        # seeds its floor and poll counter from it — closing the
        # double-restart hole the in-memory mechanisms below cannot: if
        # life 1 accepts a regressed end into the offset WAL (clipped to
        # an empty batch by mechanism 2) and then dies BEFORE any later
        # batch commits, life 2's reader has no in-memory floor and the
        # engine's WAL now genuinely says the regressed offset — only a
        # floor that survives the process can refuse the re-delivery.
        # Point floor_dir at the same durable store as the checkpoint
        # (run_live_topk derives it from the checkpoint path).
        self._floor_dir = options.get("floor_dir") or None
        self._available = self._load_floor()
        # Committed floor: the highest offset known to be committed, below
        # which nothing may be re-delivered. Restart hazard (found by the
        # demo kill-resume test): a fresh reader's throttled poll counter
        # restarts at 0, so its first latestOffset can sit BELOW the
        # checkpoint's committed offset — the engine then records that
        # regressed end in the WAL and the following batches would
        # re-deliver already-committed rows (observed: doubled volume in
        # every still-open window). Two mechanisms close it:
        #
        # 1. partitions() seeds _available from every (start, end) it
        #    sees — including the engine's restart-time PROBE call
        #    partitions(latest, latest) — so latestOffset resumes from
        #    the restored planning point instead of 0.
        # 2. A batch whose start EXCEEDS its end is the regression
        #    telltale (engine planned against a stale latestOffset); its
        #    start is by construction the committed offset, so it becomes
        #    the floor and later batches clip against it.
        #
        # The floor is learned ONLY from that start>end telltale. Round-3
        # post-mortem of the kill-resume flake: an earlier version also
        # learned the floor from every start and raised it to every
        # delivered end — but the restart probe partitions(latest, latest)
        # then poisoned the floor with the latest UNCOMMITTED offset, and
        # the genuine WAL replay of the uncommitted batch (start =
        # committed 3600, end = 4800) clipped to empty: the batch
        # committed with zero rows and every window overlapping it lost
        # that slice of volume. Not raising the floor to delivered ends
        # also makes partitions() idempotent — a re-plan of the same
        # range (task retry, plan re-materialization) re-delivers the
        # same rows for the same batch id, which is exactly-once at the
        # sink, not double delivery.
        self._hwm = self._available

    def _floor_path(self) -> str:
        import os

        return os.path.join(self._floor_dir, "committed_floor")

    def _load_floor(self) -> int:
        if not self._floor_dir:
            return 0
        try:
            with open(self._floor_path()) as fh:
                return int(fh.read().strip())
        except (OSError, ValueError):
            return 0

    def initialOffset(self) -> dict:
        return {"offset": 0}

    def latestOffset(self) -> dict:
        self._available = min(
            max(self._available + self._poll, self._hwm), self._max
        )
        return {"offset": self._available}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["offset"], end["offset"]
        # Seed the poll counter: latestOffset must never regress below
        # the engine's restored planning point (mechanism 1 above).
        self._available = max(self._available, lo, hi)
        if hi < lo:
            # Offset-regressed batch: start is the committed floor
            # (mechanism 2 above); nothing to deliver.
            self._hwm = max(self._hwm, lo)
            return [_Range(lo, lo)]
        lo = max(lo, self._hwm)  # never re-deliver below the floor
        if hi <= lo:
            return [_Range(hi, hi)]
        # split the range so a large catch-up batch still parallelizes
        step = max(1, self._split)
        return [
            _Range(s, min(s + step, hi)) for s in range(lo, hi, step)
        ]

    def read(self, partition: _Range):
        for i in range(partition.start, partition.end):
            yield _kline(i)

    def commit(self, end: dict) -> None:
        # Generator feed: nothing to ack upstream — but with floor_dir
        # set, persist the committed offset (atomic tmp+rename; never
        # lowered, so a regressed-WAL commit cannot roll the floor back).
        if not self._floor_dir:
            return
        import os

        off = int(end.get("offset", 0))
        if off <= self._load_floor():
            return
        os.makedirs(self._floor_dir, exist_ok=True)
        tmp = self._floor_path() + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(str(off))
        os.replace(tmp, self._floor_path())


class KlineFeedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "kline_feed"

    def schema(self) -> StructType:
        return KLINE_FEED_SCHEMA

    def streamReader(self, schema: StructType) -> KlineFeedStreamReader:
        return KlineFeedStreamReader(self.options)


def register(spark) -> None:
    """Idempotent registration of the kline_feed streaming source. The
    module is pickled by value (it imports nothing else from the
    package), so Python workers that cannot import the package — a plain
    session started outside the checkout with no PYTHONPATH — still
    unpickle the source."""
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    spark.dataSource.register(KlineFeedDataSource)

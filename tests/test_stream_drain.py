"""The streaming drain contract's file-system side: staged sources follow
their fixture, and per-run scratch stays one reused (out, ckpt) pair per
query family and process."""

from __future__ import annotations

import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

from big_data_streaming_spark.workload import QUERIES
from big_data_streaming_spark.workload.streaming import _stage_stream_dir

# Every foreachBatch drain, plus the three batch keys that write and
# read back a scratch dir.
_SCRATCH_KEYS = (
    "q_stream_topk",
    "q_stream_neardup",
    "q_stream_drift",
    "q_stream_asof",
    "q_stream_srm",
    "q_stream_frontier",
    "q_stream_imr",
    "q_stream_decay_topk",
    "q_stream_user_ewma",
    "q_stream_gap_alert",
    "q_route_by_key",
    "q_format_roundtrip",
    "q_zorder_layout",
)


def test_stage_stream_dir_follows_same_size_rewrite(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path / "tmp"))
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    src = sf_dir / "events.parquet"

    def write(ids: list[int]) -> None:
        pq.write_table(pa.table({"event_id": ids}), src, compression="none")

    write([1, 2, 3])
    st = os.stat(src)
    # an old fixture: the in-place rewrite below lands at a later mtime
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns - 10**10))
    staged = _stage_stream_dir(str(sf_dir), "events")
    assert pq.read_table(staged).column("event_id").to_pylist() == [1, 2, 3]

    write([4, 5, 6])
    assert os.path.getsize(src) == st.st_size  # same size, new rows
    staged = _stage_stream_dir(str(sf_dir), "events")
    assert pq.read_table(staged).column("event_id").to_pylist() == [4, 5, 6]


def test_scratch_dirs_are_reused_not_leaked(spark, sf_small, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    base = tmp_path / "bdss_stream_stage"
    listings = []
    for _ in range(2):
        for name in _SCRATCH_KEYS:
            assert QUERIES[name](spark, sf_small).collect(), name
        assert sorted(os.listdir(tmp_path)) == ["bdss_stream_stage"]
        listings.append(sorted(os.listdir(base)))
    assert listings[0] == listings[1], "second run must reuse every dir"

    pid = os.getpid()
    for name in _SCRATCH_KEYS:
        family = name[len("q_"):]
        mine = sorted(e for e in listings[1] if e.startswith(f"{family}_pid{pid}_"))
        assert len(mine) == 2, (family, mine)
        assert sum("_ckpt_" in e for e in mine) == 1, (family, mine)

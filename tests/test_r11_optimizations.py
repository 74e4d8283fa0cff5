"""Round-11 optimization internals.

Pins the three behavior-preserving mechanisms the optimization round
introduced: the scale-adaptive scan rebalance (guide §2.5 — fires only
when the file layout caps scan parallelism below the core count, value-
neutral), and the pid-tagged streaming scratch reclamation (ADVICE r10 —
stale dead-process dirs are reclaimed, live ones are not touched).
"""

from __future__ import annotations

import os

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from big_data_streaming_spark.session import get_spark

    return get_spark("test-r11-opt")


def test_rebalance_fires_only_below_floor(spark):
    from big_data_streaming_spark.sources.catalog import (
        _REBALANCE_MIN_BYTES,
        _scan_units,
        load_table,
    )

    # documents at sf0.001 is a single-row-group file well under the
    # size floor -> rebalance=True must still be a no-op there.
    path = os.path.join(SF, "documents.parquet")
    total_bytes, total_rgs = _scan_units(spark, path)
    assert total_rgs >= 1
    plain = load_table(spark, SF, "documents")
    reb = load_table(spark, SF, "documents", rebalance=True)
    if total_bytes < _REBALANCE_MIN_BYTES:
        assert reb.rdd.getNumPartitions() == plain.rdd.getNumPartitions()


def test_rebalance_value_neutral_where_it_fires(spark):
    # sf0.1 documents (one row group, 594,568 B) is above the 256 KiB size
    # floor, so tr() adds the round-robin exchange (sf0.01's 65,049 B file
    # is below it, where tr() is a no-op) — rows must be identical either
    # way.
    from big_data_streaming_spark.workload.common import t, tr

    sf = "/root/testdata/sf0.1"
    reb = tr(spark, sf, "documents")
    assert "Repartition" in reb._jdf.queryExecution().optimizedPlan().toString()
    a = sorted(map(tuple, t(spark, sf, "documents").select("doc_id", "lang").collect()))
    b = sorted(map(tuple, reb.select("doc_id", "lang").collect()))
    assert a == b


def test_rebalance_noop_at_scale(spark, tmp_path, monkeypatch):
    # A table with >= defaultParallelism row groups never rebalances —
    # the production no-op contract. The tiny fixture file sits below
    # the 256 KiB size floor, which would veto the repartition FIRST and
    # leave the row-group branch untested (ADVICE r11) — so the floor is
    # monkeypatched to 0 here: the row-group condition alone must veto.
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_streaming_spark.sources import catalog
    from big_data_streaming_spark.sources.catalog import load_table

    monkeypatch.setattr(catalog, "_REBALANCE_MIN_BYTES", 0)
    n = spark.sparkContext.defaultParallelism
    tbl = pa.table({"doc_id": list(range(4 * n)), "v": [1.0] * (4 * n)})
    dest = tmp_path / "many.parquet"
    pq.write_table(tbl, dest, row_group_size=2)  # 2n row groups, tiny file
    df = load_table(spark, str(tmp_path), "many", rebalance=True)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" not in plan
    # and with ONE row group + floor 0, the same file MUST rebalance —
    # proves the veto above came from the row-group branch specifically
    few = tmp_path / "sub" / "one.parquet"
    few.parent.mkdir()
    pq.write_table(tbl, few, row_group_size=10**6)  # 1 row group
    df_one = load_table(spark, str(tmp_path / "sub"), "one", rebalance=True)
    plan_one = df_one._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" in plan_one


def test_pid_scratch_reclaims_stale_dirs(tmp_path, monkeypatch):
    import tempfile

    from big_data_streaming_spark.sources.staging import pid_scratch_dirs

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    base = tmp_path / "bdss_stream_stage"
    base.mkdir()
    # a stale sibling owned by a dead pid (pid 1 is init => alive;
    # use an unlikely-live huge pid)
    dead = base / "stream_topk_pid999999_deadbeef00"
    dead.mkdir()
    (dead / "marker").write_text("x")
    live = base / f"stream_topk_pid{os.getpid()}_ckpt_cafecafe00"
    live_keep = base / "stream_topk_pid1_aaaa"  # pid 1 exists -> kept
    live_keep.mkdir()
    out_dir, ckpt_dir = pid_scratch_dirs("stream_topk", "/root/testdata/sf0.001")
    assert not dead.exists(), "dead-pid sibling must be reclaimed"
    assert live_keep.exists(), "live-pid sibling must be left alone"
    assert os.path.isdir(out_dir) and os.path.isdir(ckpt_dir)
    assert f"pid{os.getpid()}" in out_dir
    del live  # (path never created; name shape documented above)

"""One cache lifetime for the package: a relation cached in memory lives
for one query (``plans.rank.track_persist``), a foreachBatch callback's
batch for one batch (``streaming.router.persisted``)."""

from __future__ import annotations

import ast
import os
import pathlib
import shutil

import pytest

import big_data_streaming_spark
from big_data_streaming_spark.measure import run_key
from big_data_streaming_spark.schemas import TESTDATA_TABLES
from big_data_streaming_spark.workload import ORACLES, QUERIES
from tests.oracle_harness import compare, run_oracle

SF = "/root/testdata/sf0.001"


def test_cache_calls_have_one_home():
    """``.persist(``, ``.cache(`` and ``.unpersist(`` appear in the package
    only in ``rank.track_persist`` / ``rank.release_persisted`` and
    ``router.persisted``."""
    root = pathlib.Path(big_data_streaming_spark.__file__).parent
    sites = set()
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Attribute) and node.attr in (
                    "persist",
                    "cache",
                    "unpersist",
                ):
                    sites.add((path.name, fn.name, node.attr))
    assert sites == {
        ("rank.py", "track_persist", "persist"),
        ("rank.py", "release_persisted", "unpersist"),
        ("router.py", "persisted", "persist"),
        ("router.py", "persisted", "unpersist"),
    }
    text = "".join(p.read_text() for p in root.rglob("*.py"))
    assert text.count(".persist(") == 2
    assert text.count(".cache(") == 0
    assert text.count(".unpersist(") == 2


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


# At least one key per module that pins a relation, and every key that
# used a session-scoped index cache.
@pytest.mark.parametrize(
    "name",
    [
        "q_dedup_near",  # functions/dedup.py
        "q_pagerank",  # workload/advanced.py
        "q_cooccurrence",  # workload/analytics.py
        "q_lm_novelty",  # workload/pipeline.py
        "q_training_prep_v2",  # workload/pipeline.py
        "q_triangles",  # workload/relational.py
        "q_sim_ivf",  # workload/similarity.py, IVF index
        "q_sim_ivf_checked",  # workload/similarity.py, IVF index
        "q_dedup_semantic",  # workload/similarity.py, label centroids
        "q_mmr_rerank",  # workload/similarity.py
        "q_stream_asof",  # workload/streaming.py
        "q_heavy_hitters",  # workload/text.py
    ],
)
def test_no_cache_outlives_its_query(spark, name):
    assert _cache_empty(spark), "a cached relation leaked from an earlier test"
    run_key(spark, name, SF)
    assert _cache_empty(spark)


def _copy_testdata(dst: pathlib.Path) -> str:
    for tab in TESTDATA_TABLES:
        shutil.copyfile(
            os.path.join(SF, f"{tab}.parquet"), dst / f"{tab}.parquet"
        )
    return str(dst)


def _keep_first_half(path: str) -> None:
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    pq.write_table(table.slice(0, table.num_rows // 2), path)


def test_in_place_rewrite_is_read_by_the_next_run(spark, tmp_path):
    """A key run again in the same session reads the rewritten files, not
    the relation its previous run cached."""
    sf = _copy_testdata(tmp_path)
    run_key(spark, "q_lm_novelty", sf)
    _keep_first_half(os.path.join(sf, "documents.parquet"))
    got = QUERIES["q_lm_novelty"](spark, sf).toPandas()
    compare("q_lm_novelty", got, run_oracle(ORACLES["q_lm_novelty"], sf))


def test_bucketed_pair_reuse_starts_no_probe_job(spark, tmp_path):
    """``q_join_bucketed`` reuses its bucketed tables without a Spark job
    to check them, and rebuilds them when a source is rewritten."""
    import hashlib

    sf = _copy_testdata(tmp_path)
    try:
        cold = run_key(spark, "q_join_bucketed", sf)
        warm = run_key(spark, "q_join_bucketed", sf)
        assert warm["jobs"] < cold["jobs"]  # no table writes, no probes
        _keep_first_half(os.path.join(sf, "lineitem.parquet"))
        # the two table writes run again
        assert run_key(spark, "q_join_bucketed", sf)["jobs"] >= warm["jobs"] + 2
        got = QUERIES["q_join_bucketed"](spark, sf).toPandas()
        compare("q_join_bucketed", got, run_oracle(ORACLES["q_join_bucketed"], sf))
    finally:
        tag = hashlib.md5(sf.encode()).hexdigest()[:8]
        for tab in (f"li_bkt_{tag}", f"ord_bkt_{tag}"):
            spark.sql(f"DROP TABLE IF EXISTS {tab}")

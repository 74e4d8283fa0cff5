"""Per-key measurement: the one place that runs a registry key to full
materialization, times it and counts the work Spark did for it.

A key runs through the noop sink (``df.write.format("noop")`` computes
every output column; a ``count()`` would let Catalyst prune projections
on map-only keys and under-measure them). Counts come from Spark's own
status store, read by job high-water mark: only jobs started since the
run began are read, so jobs a key's construction runs eagerly are
included, the cost does not grow with the session's history, and the
store evicting old jobs and stages cannot skew a delta. Stages a job
skips (their shuffle output already exists) are not counted: their
number varies from run to run of one key, that of the stages that ran
does not.

``bench.py`` and ``scripts/profile_keys.py`` measure through this module.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession

from big_data_streaming_spark.plans.rank import release_persisted
from big_data_streaming_spark.workload import QUERIES

WARMUP_SF_DIR = "/root/testdata/sf0.001"

COUNTS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "input_bytes",
)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _settled_store(spark: SparkSession):
    """The app status store, once every event posted so far is applied."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return jsc.statusStore()


def _last_job_id(spark: SparkSession) -> int:
    jobs = _settled_store(spark).jobsList(None)
    return jobs.apply(0).jobId() if jobs.size() else -1


def _counts_since(spark: SparkSession, job_hw: int) -> dict[str, int]:
    """Jobs started after job ``job_hw`` and their stages' task metrics."""
    sc = spark.sparkContext
    store = _settled_store(spark)
    jobs = store.jobsList(None)  # newest first
    new = []
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobId() <= job_hw:
            break
        new.append(job)
    out = dict.fromkeys(COUNTS, 0)
    out["jobs"] = len(new)
    no_status = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    for sid in {sid for j in new for sid in _seq(j.stageIds())}:
        for st in _seq(store.stageData(sid, False, no_status, False, no_quantiles)):
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_ms"] += st.executorRunTime()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["input_bytes"] += st.inputBytes()
    return out


def run_key(spark: SparkSession, name: str, sf_dir: str) -> dict:
    """Construct registry key ``name`` on ``sf_dir``, run it through the
    noop sink and return one record: ``construct_s``, ``execute_s`` and
    ``wall_s`` (their sum) plus the ``COUNTS`` of every job both phases
    ran. The relations the key pinned (``plans.rank.track_persist``)
    are released after the timed region, so no run reads a cache left
    by the one before it."""
    job_hw = _last_job_id(spark)
    t0 = time.perf_counter()
    df = QUERIES[name](spark, sf_dir)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    release_persisted()
    return {
        "construct_s": t1 - t0,
        "execute_s": t2 - t1,
        "wall_s": t2 - t0,
        **_counts_since(spark, job_hw),
    }


def runs(spark: SparkSession, name: str, sf_dir: str, n: int) -> list[dict]:
    """``n`` back-to-back ``run_key`` records of one key."""
    return [run_key(spark, name, sf_dir) for _ in range(n)]


def warm_up(spark: SparkSession) -> None:
    """One batch key (JIT, codegen, Arrow) and one streaming key (stream
    engine and state-store classes) at sf0.001, so later timings measure
    the plan, not first-use class loading."""
    run_key(spark, "q_flagship", WARMUP_SF_DIR)
    run_key(spark, "q_stream_window_tumbling", WARMUP_SF_DIR)


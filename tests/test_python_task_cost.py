"""Per-Python-task fixed costs: the worker daemon and q_token_runs' plan.

``session.py`` runs Python workers under ``worker_daemon.py`` (lazy
zip-directory re-reads on CPython < 3.12) and puts the package's parent
directory on the workers' ``PYTHONPATH``. ``q_token_runs`` is one
``mapInArrow`` pass rather than a LATERAL Python UDTF, whose per-task row
queue holds a 64 MB memory page. The header keys have no Python task at
all; the Python keys of ``llm_ops`` keep exactly one Python node each.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(script: str, cwd, timeout: int = 300) -> str:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script)],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=timeout,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return proc.stdout


def test_session_outside_checkout_runs_python_workers(tmp_path, sf_small):
    """A session started from a working directory outside the checkout,
    with no PYTHONPATH, starts the daemon and runs a mapInPandas and the
    ``kline_feed`` Python data source (unpickled in a worker)."""
    out = _run(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import __spark_entry__ as e
        from big_data_streaming_spark.session import get_spark
        from tests.oracle_harness import compare, run_oracle

        spark = get_spark("outside-checkout")

        def lazy(batches):
            import zipimport
            name = zipimport.zipimporter.invalidate_caches.__name__
            for pdf in batches:
                yield pdf.assign(id=pdf.id * 2, lazy=name == "_invalidate_caches")

        rows = spark.range(6, numPartitions=2).mapInPandas(
            lazy, "id long, lazy boolean"
        ).collect()
        assert sorted(r.id for r in rows) == [0, 2, 4, 6, 8, 10], rows
        assert all(r.lazy for r in rows) == (sys.version_info < (3, 12)), rows

        key, sf = "q_stream_feed", {sf_small!r}
        compare(
            key,
            e.queries()[key](spark, sf).toPandas(),
            run_oracle(e.oracle_sql()[key], sf),
        )
        print("green")
        """,
        cwd=tmp_path,
    )
    assert out.strip().endswith("green"), out


def test_lazy_zip_invalidation_sees_rewritten_archive(tmp_path):
    """An archive rewritten in place and then invalidated shows its changed
    module and its new module: the lazy form loses nothing."""
    archive = str(tmp_path / "mods.zip")
    out = _run(
        f"""
        import importlib, sys, zipfile, zipimport
        sys.path.insert(0, {REPO!r})
        import big_data_streaming_spark.worker_daemon

        def write(files):
            with zipfile.ZipFile({archive!r}, "w") as z:
                for name, text in files.items():
                    z.writestr(name, text)

        write({{"mod_a.py": "VALUE = 1\\n"}})
        sys.path.insert(0, {archive!r})
        import mod_a
        assert mod_a.VALUE == 1

        write({{"mod_a.py": "VALUE = 22222\\n", "mod_b.py": "VALUE = 3\\n"}})
        importlib.invalidate_caches()
        if sys.version_info < (3, 12):
            assert {archive!r} not in zipimport._zip_directory_cache
        del sys.modules["mod_a"]
        import mod_a, mod_b
        assert (mod_a.VALUE, mod_b.VALUE) == (22222, 3)
        assert {archive!r} in zipimport._zip_directory_cache
        print("ok")
        """,
        cwd=tmp_path,
        timeout=120,
    )
    assert out.strip() == "ok", out


def test_token_runs_is_one_map_in_arrow(spark, sf_small):
    """One MapInArrow node, no EvalPythonUDTF (its per-task row queue holds
    a 64 MB page), and no session conf left changed by the call."""
    from big_data_streaming_spark.workload import QUERIES

    conf = "spark.sql.execution.pythonUDTF.arrow.enabled"
    before = spark.conf.get(conf, None)
    df = QUERIES["q_token_runs"](spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan, plan
    assert "EvalPythonUDTF" not in plan, plan
    assert spark.conf.get(conf, None) == before
    assert df.schema.simpleString() == (
        "struct<doc_id:bigint,token:string,run_start:int,run_len:int>"
    )


_PYTHON_NODE = re.compile(
    r"^[\s:|+-]*(MapInPandas|MapInArrow|ArrowEvalPython|BatchEvalPython)\b", re.M
)


@pytest.mark.parametrize(
    "key, n_python",
    [
        ("q_multimodal_decode", 0),
        ("q_multimodal_audio", 0),
        ("q_audio_clip_detect", 1),
        ("q_token_runs", 1),
    ],
)
def test_python_nodes_per_key(spark, sf_small, key, n_python):
    """The PNG/GIF/WAV header readers are built-in expressions; the
    sample loop and the token-run kernel keep one Python node each, so
    ``llm_ops`` still measures the Python boundary."""
    from big_data_streaming_spark.workload import QUERIES

    plan = QUERIES[key](spark, sf_small)._jdf.queryExecution().executedPlan().toString()
    assert len(_PYTHON_NODE.findall(plan)) == n_python, plan

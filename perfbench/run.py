"""spark-graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload llm_ops --seed 1 --seconds 10 --trace 0

Run from the repository root (any cwd works; paths derive from this file).
With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced run, the
tracing overhead and, for ``kline_live``, a ``local[1]`` baseline.
perfbench/README.md documents every metric and workload.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "big_data_streaming_spark")
SF_DIR = os.path.join(HERE, "testdata", "sf0.01")

# Workload key lists. The full TPC-H suite (16 s per warm pass here) and
# the full llm_ops list (23 s) do not fit the per-run time budget, so each
# workload keeps the keys that cover its layers (README.md, "Workloads").
WORKLOADS = {
    # scan+agg (q1, q6), multi-way joins (q3, q5), outer join (q13),
    # IN-subquery semi-join (q18): Catalyst, exchange, codegen, no Python.
    "relational": ("q_tpch_q1", "q_tpch_q3", "q_tpch_q5", "q_tpch_q6", "q_tpch_q13", "q_tpch_q18"),
    # Python-boundary operators (Arrow/batch eval, mapInPandas) plus the
    # eagerly iterated BPE training loop.
    "llm_ops": ("q_token_runs", "q_multimodal_decode", "q_audio_clip_detect", "q_bpe_train"),
    "kline_live": (),
}
# Input tables of each batch workload: the rows one pass reads.
TABLES = {
    "relational": ("lineitem", "orders", "customer", "part", "supplier", "nation", "region"),
    "llm_ops": ("documents", "customer"),
}

SETUPS = 3  # set-ups per run; setup_s is their median
SECONDS_PER_WARM_PASS = 3  # batch workloads run seconds // 3 warm passes, at least MIN_WARM
MIN_WARM = 2
RATE_ROWS_PER_S = 2000
TICK_S = 0.09
TRIGGER = {"processingTime": "2 seconds"}  # kline_live micro-batch interval
WARMUP_SHARE = 0.2  # share of the live run whose files are not sampled
WARM_BATCHES, WARM_FILES = 2, 4  # first set-up's warm-up stream: batches x files

END_TO_END = {
    "setup_s": "s",
    "cold_pass_cpu_s": "s",
    "warm_cpu_ms_per_krow": "ms",
    "live_heap_mb": "MB",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "session.parallelism": "count",
    "session.shuffle_partitions": "count",
    "workload.construct_s": "s",
    "workload.execute_s": "s",
    "workload.eager_jobs": "count",
    "workload.executor_run_ms": "ms",
    "workload.executor_cpu_ms": "ms",
    "workload.gc_ms": "ms",
    "sources.scan_ms": "ms",
    "sources.input_bytes": "bytes",
    "sources.files_read": "count",
    "plans.planning_ms": "ms",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.shuffle_read_bytes": "bytes",
    "plans.shuffle_write_bytes": "bytes",
    "plans.codegen_ms": "ms",
    "functions.py_start_ms": "ms",
    "functions.py_init_ms": "ms",
    "functions.py_exec_ms": "ms",
    "functions.py_rows": "count",
    "streaming.batches": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.sink_write_ms": "ms",
    "streaming.backlog_files_max": "count",
    "loadgen.late_ms_max": "ms",
    "mem.peak_rss_mb": "MB",
    "mem.rss_median_mb": "MB",
    "wall.setup_s": "s",
    "wall.cold_pass_s": "s",
    "wall.warm_pass_s": "s",
    "wall.rows_per_s": "1/s",
    "wall.e2e_latency_p50_ms": "ms",
    "wall.e2e_latency_p90_ms": "ms",
    "bench.latency_samples": "count",
    "trace.overhead_pct": "%",
    "local1.e2e_latency_p50_ms": "ms",
    "local1.e2e_latency_p90_ms": "ms",
    "local1.rows_per_s": "1/s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100); 0 for no samples."""
    if not values:
        return 0.0
    s = sorted(values)
    rank = max(1, -(-len(s) * q // 100))
    return s[int(rank) - 1]


def descendants() -> list[int]:
    """Pids of every live or zombie process below this one, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    found, todo = [], list(children.get(os.getpid(), ()))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(children.get(pid, ()))
    return found


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    driver JVM, its Python workers, the load generator), user plus system,
    with their reaped children. Time the hypervisor steals from the virtual
    CPUs is not charged to a process, so this cost does not grow when
    neighbouring machines load the host."""
    ticks = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, ValueError):
            continue
    return ticks / CLK_TCK


class RssSampler(threading.Thread):
    """Resident memory of this process and all its descendants (the driver
    JVM and its Python workers), sampled from /proc every ``period_s``."""

    def __init__(self, period_s: float = 0.25) -> None:
        super().__init__(name="rss-sampler", daemon=True)
        self.period_s = period_s
        self.samples: list[int] = []
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid in [os.getpid()] + descendants():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def run(self) -> None:
        while not self._halt.is_set():
            self.samples.append(self._tree_rss())
            self._halt.wait(self.period_s)

    def stop(self) -> tuple[float, float]:
        """Stop sampling; returns the median and the peak, in MB."""
        self._halt.set()
        self.join()
        self.samples.append(self._tree_rss())
        return median(self.samples) / 2**20, max(self.samples) / 2**20


class Run:
    """State of one benchmark run: its work dirs, session and counters."""

    def __init__(
        self, workload: str, seed: int, seconds: int, trace: bool,
        sf_dir: str = SF_DIR, started: float | None = None,
    ) -> None:
        # ``started`` is the process start when the run is the whole process.
        self.started = time.perf_counter() if started is None else started
        self.cpu_started = tree_cpu_s() if started is None else 0.0
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.sf_dir = sf_dir
        self.work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.layer: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
        self.staged = None
        self.cold_pass_cpu_s = 0.0
        self.last_dfs: dict = {}
        self.spans: list[tuple] = []  # (name, start, end, parent, run id), traced runs only

    # -- set-up -----------------------------------------------------------

    def fresh_dir(self, *parts: str) -> str:
        path = os.path.join(self.work, *parts)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def setup_once(self, first: bool) -> tuple[float, float, float, float]:
        """Session, warm-up and input staging; returns the wall seconds of
        the whole set-up, of get_spark and of the warm-up, and the CPU
        seconds of the whole set-up. The first set-up counts from the start
        of the run."""
        from big_data_streaming_spark.session import get_spark, stop_spark

        t0 = self.started if first else time.perf_counter()
        cpu0 = self.cpu_started if first else tree_cpu_s()
        if not first:
            stop_spark()
        a = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            **{
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        b = time.perf_counter()
        self.warm_up(first)
        c = time.perf_counter()
        return c - t0, b - a, c - b, tree_cpu_s() - cpu0

    def warm_up(self, first: bool) -> None:
        spark = self.spark
        if self.workload == "kline_live":
            from klines import make_files

            n_files = max(int(self.seconds / TICK_S), 1)
            self.staged = make_files(self.seed, n_files, int(RATE_ROWS_PER_S * TICK_S))
            # An AvailableNow run of the same pipeline loads its classes. In
            # a fresh JVM it runs WARM_BATCHES batches, so the JIT has
            # compiled the per-batch path before the timed stream starts;
            # later set-ups reuse the JVM and need one batch.
            batches = WARM_BATCHES if first else 1
            landing = self.fresh_dir("warm", "landing")
            for i, payload in enumerate(self.staged[0][:batches * WARM_FILES]):
                with open(os.path.join(landing, f"w{i:04d}.json"), "wb") as f:
                    f.write(payload)
            cpu0 = tree_cpu_s()
            q = start_pipeline(
                spark, landing, self.fresh_dir("warm", "out"), self.fresh_dir("warm", "ckpt"),
                trigger={"availableNow": True}, max_files_per_trigger=WARM_FILES,
            )
            q.awaitTermination()
            if first:  # the pipeline's first stream in a fresh JVM: kline_live's cold pass
                self.cold_pass_cpu_s = tree_cpu_s() - cpu0
            return
        region = os.path.join(self.sf_dir, "region.parquet")
        spark.read.parquet(region).groupBy("r_name").count().collect()

    def setup(self) -> float:
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        samples = [self.setup_once(first=(i == 0)) for i in range(SETUPS)]
        self.layer["session.get_spark_s"] = median(s[1] for s in samples)
        self.layer["session.warmup_s"] = median(s[2] for s in samples)
        self.layer["wall.setup_s"] = median(s[0] for s in samples)
        sc = self.spark.sparkContext
        self.layer["session.parallelism"] = float(sc.defaultParallelism)
        self.layer["session.shuffle_partitions"] = float(self.spark.conf.get("spark.sql.shuffle.partitions"))
        log(f"master={sc.master} parallelism={sc.defaultParallelism} "
            f"shuffle_partitions={self.spark.conf.get('spark.sql.shuffle.partitions')} "
            f"setups_s={[tuple(round(x, 2) for x in s) for s in samples]}")
        return median(s[3] for s in samples)

    def live_heap_mb(self) -> float:
        """Driver JVM heap in use after full collections: what the session
        retains once the workload has run and its DataFrames are dropped.
        The second collection frees what Spark's context cleaner released
        after the first."""
        import gc

        self.last_dfs = {}
        gc.collect()  # releases the JVM objects Python no longer holds
        jvm = self.spark.sparkContext._jvm
        jvm.java.lang.System.gc()
        time.sleep(0.5)
        jvm.java.lang.System.gc()
        return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None and getattr(gateway, "proc", None) is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))
        except OSError:  # another run still uses it
            pass

    # -- batch workloads --------------------------------------------------

    def batch_passes(self, keys, queries, warm: int, tracer=None) -> list[dict[str, tuple[float, float]]]:
        """Run a cold pass and ``warm`` warm passes over ``keys``. Returns
        per pass and key the latency (construct + action) and the CPU
        seconds used meanwhile.

        With a ``tracer``, odd passes are traced and even ones are not, so
        the two sets interleave and their difference is the tracing
        overhead rather than JVM warm-up; there are ``warm`` of each."""
        passes = []
        for n in range(1 + (2 * warm if tracer is not None else warm)):
            lat = {}
            self.last_dfs = {}
            traced = tracer if n % 2 == 1 else None
            if traced is not None:
                traced.start_pass()
            for k in keys:
                self.attempted += 1
                cpu0 = tree_cpu_s()
                try:
                    t0 = time.perf_counter()
                    df = queries[k](self.spark, self.sf_dir)
                    t1 = time.perf_counter()
                    if traced is not None:
                        traced.constructed(k, df, t0, t1)
                    t2 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    t3 = time.perf_counter()
                except Exception as e:  # a failed query counts; the run goes on
                    self.failures.append(f"{k}: {type(e).__name__}: {str(e)[:300]}")
                    continue
                if traced is not None:
                    traced.executed(k, t2, t3)
                lat[k] = (t3 - t0, tree_cpu_s() - cpu0)
                self.last_dfs[k] = df
            passes.append(lat)
        return passes

    def check_batch(self, results: dict) -> None:
        """Compare each key's DataFrame from the last pass with its DuckDB
        oracle, outside the timed passes. A key missing from ``results``
        already failed in the pass."""
        sys.path.insert(0, os.path.join(ROOT, "tests"))
        from oracle_harness import compare, run_oracle

        from big_data_streaming_spark.workload import ORACLES

        for k, df in results.items():
            self.attempted += 1
            try:
                got = df.toPandas()
                if k in ORACLES:
                    compare(k, got, run_oracle(ORACLES[k], self.sf_dir))
                elif got.empty:
                    raise AssertionError(f"{k}: no rows")
            except Exception as e:  # mismatch or error: one failed operation
                self.failures.append(f"check {k}: {type(e).__name__}: {str(e)[:300]}")

    def table_rows(self) -> int:
        import pyarrow.parquet as pq

        return sum(
            pq.ParquetFile(os.path.join(self.sf_dir, f"{t}.parquet")).metadata.num_rows
            for t in TABLES[self.workload]
        )

    def run_batch(self) -> dict[str, float]:
        from big_data_streaming_spark.workload import QUERIES

        keys = WORKLOADS[self.workload]
        tracer = None
        if self.trace:
            from spark_stats import StoreCursor

            tracer = BatchTracer(StoreCursor(self.spark))
        warm = max(MIN_WARM, self.seconds // SECONDS_PER_WARM_PASS)
        passes = self.batch_passes(keys, QUERIES, warm, tracer)
        e2e = batch_metrics([passes[0]] + passes[2::2] if tracer else passes, self.table_rows())
        if tracer is not None:
            traced = batch_metrics(passes[:2] + passes[3::2], self.table_rows())
            self.layer.update(tracer.per_pass())
            self.spans += tracer.spans
            self.layer["trace.overhead_pct"] = 100.0 * (
                traced["warm_cpu_ms_per_krow"] / e2e["warm_cpu_ms_per_krow"] - 1.0
            )
        self.check_batch(self.last_dfs)
        return e2e

    # -- kline_live -------------------------------------------------------

    def live_once(self, sink_spans=None) -> tuple[dict, str]:
        """One open-loop live run; returns its metrics and output dir."""
        import subprocess

        from klines import stage_files

        payloads = self.staged[0]
        staged = self.fresh_dir("live", "staged")
        stage_files(staged, payloads)
        landing = self.fresh_dir("live", "landing")
        out = self.fresh_dir("live", "out")
        ckpt = self.fresh_dir("live", "ckpt")
        schedule = os.path.join(self.work, "live", "schedule.json")
        marks: list[tuple[int, float]] = []
        q_start, cpu_start = time.time(), tree_cpu_s()
        q = start_pipeline(self.spark, landing, out, ckpt, trigger=TRIGGER, sink_spans=sink_spans, marks=marks)
        try:
            # A plain child process: multiprocessing's spawn start method
            # would also start a resource tracker that outlives the run.
            gen = subprocess.Popen([
                sys.executable, os.path.join(HERE, "klines.py"),
                staged, landing, repr(TICK_S), repr(time.time() + 0.5), schedule,
            ])
            try:
                code = gen.wait()
            finally:
                if gen.poll() is None:
                    gen.kill()
                    gen.wait()
            if code != 0:
                raise RuntimeError(f"load generator exited with code {code}")
            q.processAllAvailable()
        finally:
            q.stop()
        with open(schedule) as f:
            sched = json.load(f)
        m = live_metrics(ckpt, sched, q_start, self.seconds, payloads, cpu_start, marks)
        for name in sched["names"]:
            if name not in m["batch_of"]:
                self.failures.append(f"live file {name} was not committed")
        self.attempted += len(sched["names"])
        return m, out

    def check_kline(self, out: str, counts, volumes) -> None:
        from pyspark.sql import functions as F

        self.attempted += 1
        rows = (
            self.spark.read.parquet(out)
            .groupBy("coin", "interval")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("volume").alias("v"))
            .collect()
        )
        got = {(r["coin"], r["interval"]): (r["n"], r["v"]) for r in rows}
        want = {k: (counts[k], volumes[k]) for k in counts}
        if got != want:
            bad = sorted(set(got.items()) ^ set(want.items()))[:5]
            self.failures.append(f"kline routed counts/volumes differ from the generator tally: {bad}")

    def run_kline(self) -> dict[str, float]:
        m, out = self.live_once()
        m["cold_pass_cpu_s"] = self.cold_pass_cpu_s
        self.check_kline(out, *self.staged[1:])
        self.layer["loadgen.late_ms_max"] = m["late_ms_max"]
        self.layer["streaming.backlog_files_max"] = m["backlog_files_max"]
        if len(m["sink_marks"]) < 3:
            self.failures.append(f"invalid run: {len(m['sink_marks'])} micro-batches, fewer than 3")
        if m["late_ms_max"] > TICK_S * 1e3:
            self.failures.append(
                f"invalid run: load generator fell {m['late_ms_max']:.1f} ms behind its schedule"
            )
        if self.trace:
            from spark_stats import ProgressLog, StoreCursor

            cursor = StoreCursor(self.spark)
            listener = ProgressLog()
            self.spark.streams.addListener(listener)
            sink_spans: list[tuple[float, float]] = []
            try:
                traced, _ = self.live_once(sink_spans=sink_spans)
            finally:
                self.spark.streams.removeListener(listener)
            self.layer.update(stream_layers(listener.batches(), sink_spans, cursor))
            self.spans += [(f"batch:{b['batch']}", b["start"], b["start"] + b["duration"].get("triggerExecution", 0) / 1e3,
                            "stream", 0) for b in listener.batches()]
            self.spans += [("sink", a, b, "stream", 0) for a, b in sink_spans]
            self.spans += [(f"tick:{n}", d, f, "loadgen", 0) for n, d, f in traced["ticks"]]
            self.layer["loadgen.late_ms_max"] = max(m["late_ms_max"], traced["late_ms_max"])
            self.layer["streaming.backlog_files_max"] = traced["backlog_files_max"]
            self.layer["trace.overhead_pct"] = 100.0 * (
                traced["warm_cpu_ms_per_krow"] / m["warm_cpu_ms_per_krow"] - 1.0
            )
            self.layer.update(self.local1_baseline())
        return m

    def local1_baseline(self) -> dict[str, float]:
        """The untraced live run again after restarting the session at
        ``local[1]`` in the same JVM: the single-thread baseline."""
        prev = os.environ.get("SPARK_GRAFT_CPUS")
        os.environ["SPARK_GRAFT_CPUS"] = "1"
        try:
            self.setup_once(first=False)
            m, _ = self.live_once()
        finally:
            if prev is None:
                del os.environ["SPARK_GRAFT_CPUS"]
            else:
                os.environ["SPARK_GRAFT_CPUS"] = prev
        return {
            "local1.e2e_latency_p50_ms": m["wall.e2e_latency_p50_ms"],
            "local1.e2e_latency_p90_ms": m["wall.e2e_latency_p90_ms"],
            "local1.rows_per_s": m["wall.rows_per_s"],
        }

    # -- driver -----------------------------------------------------------

    def write_spans(self) -> None:
        """Write the in-memory spans once, after the run, as JSON lines."""
        run_id = f"{self.workload}-seed{self.seed}-pid{os.getpid()}"
        path = os.path.join(ROOT, ".perfbench_work", f"spans-{run_id}.jsonl")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for name, start, end, parent, n in self.spans:
                f.write(json.dumps({"name": name, "start": start, "end": end, "parent": parent,
                                    "pass": n, "run": run_id}) + "\n")
        log(f"spans: {path}")

    def execute(self) -> dict:
        sampler = None
        try:
            setup_s = self.setup()
            sampler = RssSampler()
            sampler.start()
            m = self.run_kline() if self.workload == "kline_live" else self.run_batch()
            self.layer["mem.rss_median_mb"], self.layer["mem.peak_rss_mb"] = sampler.stop()
            sampler = None
            heap_mb = self.live_heap_mb()
        finally:
            if sampler is not None:
                sampler.stop()
            self.close()
        e2e = {
            "setup_s": setup_s,
            "cold_pass_cpu_s": m["cold_pass_cpu_s"],
            "warm_cpu_ms_per_krow": m["warm_cpu_ms_per_krow"],
            "live_heap_mb": heap_mb,
        }
        self.layer.update((k, v) for k, v in m.items() if k.startswith("wall."))
        self.layer["bench.latency_samples"] = m["samples"]
        for f in self.failures:
            log(f"FAILED {f}")
        if self.trace:
            self.write_spans()
        chosen = PER_LAYER if self.trace else END_TO_END
        values = self.layer if self.trace else e2e
        return {
            "correct": not self.failures,
            "attempted": max(self.attempted, 1),
            "failed": len(self.failures),
            "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in chosen.items()},
        }


def batch_metrics(passes: list[dict[str, tuple[float, float]]], rows: int) -> dict[str, float]:
    """End-to-end (CPU) and wall-clock metrics of a cold pass followed by
    warm passes; ``rows`` is the input rows one pass reads. A warm pass
    costs the sum over keys of each key's median CPU over the warm passes."""
    warm = passes[1:]
    keys = set().union(*warm)
    warm_cpu_s = sum(median(p[k][1] for p in warm if k in p) for k in keys)
    warm_pass_s = median(sum(w for w, _ in p.values()) for p in warm)
    warm_lat_ms = [w * 1e3 for p in warm for w, _ in p.values()]
    return {
        "cold_pass_cpu_s": sum(c for _, c in passes[0].values()),
        "warm_cpu_ms_per_krow": warm_cpu_s / rows * 1e6,
        "wall.cold_pass_s": sum(w for w, _ in passes[0].values()),
        "wall.warm_pass_s": warm_pass_s,
        "wall.rows_per_s": rows / warm_pass_s if warm_pass_s else 0.0,
        "wall.e2e_latency_p50_ms": median(warm_lat_ms),
        "wall.e2e_latency_p90_ms": percentile(warm_lat_ms, 90),
        "samples": float(len(warm_lat_ms)),
    }


class BatchTracer:
    """Spans around each query-function call and action, plus status-store
    deltas taken at the same boundaries. Spans stay in memory."""

    def __init__(self, cursor) -> None:
        self.cursor = cursor
        self.spans: list[tuple[str, float, float, str, int]] = []
        self.sums: dict[str, float] = {}
        self.passes = 0

    def _add(self, name: str, value: float) -> None:
        self.sums[name] = self.sums.get(name, 0.0) + value

    def start_pass(self) -> None:
        """Drop what untraced passes left in the stores; open a pass."""
        self.cursor.skip()
        self.passes += 1

    def constructed(self, key, df, t0, t1) -> None:
        from spark_stats import planning_ms

        self.spans.append((f"construct:{key}", t0, t1, f"pass:{self.passes}", self.passes))
        jobs = self.cursor.jobs_delta()
        self._add("workload.construct_s", t1 - t0)
        self._add("workload.eager_jobs", jobs["jobs"])
        for k in ("executor_run_ms", "executor_cpu_ms", "gc_ms"):
            self._add(f"workload.{k}", jobs[k])
        for k, v in self.cursor.sql_delta().items():
            self._add(k, v)
        self._add("plans.planning_ms", planning_ms(df))

    def executed(self, key, t2, t3) -> None:
        self.spans.append((f"execute:{key}", t2, t3, f"pass:{self.passes}", self.passes))
        jobs = self.cursor.jobs_delta()
        self._add("workload.execute_s", t3 - t2)
        for k in ("executor_run_ms", "executor_cpu_ms", "gc_ms"):
            self._add(f"workload.{k}", jobs[k])
        for k in ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes"):
            self._add(f"plans.{k}", jobs[k])
        for k, v in self.cursor.sql_delta().items():
            self._add(k, v)
        self._add("plans.codegen_ms", self.cursor.codegen_delta_ms())

    def per_pass(self) -> dict[str, float]:
        n = max(self.passes, 1)
        return {k: v / n for k, v in self.sums.items()}


def start_pipeline(spark, landing, out, ckpt, trigger=None, sink_spans=None, max_files_per_trigger=None, marks=None):
    """The reference's kline pipeline built from the package: file source ->
    parse_klines -> foreachBatch routing per (coin, interval) to parquet.
    ``marks`` collects (batch id, CPU seconds) as each batch's sink returns."""
    from big_data_streaming_spark.streaming.parse import parse_klines
    from big_data_streaming_spark.streaming.router import route_partitioned
    from big_data_streaming_spark.streaming.sinks import start_foreach_batch
    from big_data_streaming_spark.streaming.source import raw_text_file_stream

    def sink(batch, batch_id):
        t0 = time.time()
        route_partitioned(batch, out, ["coin", "interval"], mode="append")
        if sink_spans is not None:
            sink_spans.append((t0, time.time()))
        if marks is not None:
            marks.append((batch_id, tree_cpu_s()))

    raw = raw_text_file_stream(spark, landing, max_files_per_trigger=max_files_per_trigger)
    return start_foreach_batch(parse_klines(raw), sink, ckpt, trigger=trigger)


def read_checkpoint(ckpt: str) -> tuple[dict[str, int], dict[int, float], dict[int, float]]:
    """File -> batch id from the file-source log, and the write times of each
    batch's offset (start) and commit (end) log entries."""
    batch_of: dict[str, int] = {}
    src = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(src):
        if name.startswith("."):
            continue
        with open(os.path.join(src, name)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    base = os.path.basename(e["path"])
                    batch_of[base] = min(batch_of.get(base, e["batchId"]), e["batchId"])

    def mtimes(sub: str) -> dict[int, float]:
        d = os.path.join(ckpt, sub)
        return {int(n): os.stat(os.path.join(d, n)).st_mtime for n in os.listdir(d) if n.isdigit()}

    return batch_of, mtimes("offsets"), mtimes("commits")


def live_metrics(
    ckpt: str, sched: dict, q_start: float, seconds: float, payloads: list[bytes],
    cpu_start: float, marks: list[tuple[int, float]],
) -> dict:
    batch_of, started, committed = read_checkpoint(ckpt)
    due, fired, names = sched["due"], sched["fired"], sched["names"]
    cutoff = due[0] + WARMUP_SHARE * seconds
    lat_ms = [
        (committed[batch_of[n]] - d) * 1e3
        for n, d in zip(names, due)
        if d >= cutoff and n in batch_of and batch_of[n] in committed
    ]
    warm = sorted(b for b in committed if b in started and started[b] >= cutoff)
    warm_batches = [committed[b] - started[b] for b in warm]
    # Rows committed per second over the warm batches: equals the offered
    # rate while the engine keeps up.
    rows_in = {}
    for n, p in zip(names, payloads):
        b = batch_of.get(n)
        if b is not None:
            rows_in[b] = rows_in.get(b, 0) + p.count(b"\n")
    span = committed[warm[-1]] - committed[warm[0]] if len(warm) > 1 else 0.0
    rows_per_s = sum(rows_in.get(b, 0) for b in warm[1:]) / span if span > 0 else 0.0
    # CPU between the sink returns of the first batch and of the one before
    # the last: whole trigger intervals of full batches. The first batch is
    # the cold one; the last holds the remainder of the schedule.
    first, last = (1, len(marks) - 2) if len(marks) >= 3 else (0, len(marks) - 1)
    cpu = marks[last][1] - (marks[first - 1][1] if first else cpu_start) if marks else 0.0
    rows = sum(rows_in.get(b, 0) for b, _ in marks[first:last + 1])
    # Backlog just before each commit: files landed minus files committed.
    backlog = 0
    for b in sorted(committed):
        landed = sum(1 for f in fired if f <= committed[b])
        done = sum(1 for n in names if batch_of.get(n, 1 << 62) < b)
        backlog = max(backlog, landed - done)
    return {
        "batch_of": batch_of,
        "sink_marks": marks,
        "warm_cpu_ms_per_krow": cpu / rows * 1e6 if rows else 0.0,
        "wall.cold_pass_s": committed[min(committed)] - q_start,
        "wall.warm_pass_s": median(warm_batches),
        "wall.rows_per_s": rows_per_s,
        "wall.e2e_latency_p50_ms": median(lat_ms),
        "wall.e2e_latency_p90_ms": percentile(lat_ms, 90),
        "samples": float(len(lat_ms)),
        "late_ms_max": max(f - d for f, d in zip(fired, due)) * 1e3,
        "backlog_files_max": float(backlog),
        "ticks": list(zip(names, due, fired)),
    }


def stream_layers(batches: list[dict], sink_spans: list[tuple[float, float]], cursor) -> dict[str, float]:
    def med(key: str) -> float:
        return median(b["duration"].get(key, 0) for b in batches)

    jobs = cursor.jobs_delta()
    out = {
        "streaming.batches": float(len(batches)),
        "streaming.trigger_ms_p50": med("triggerExecution"),
        "streaming.add_batch_ms": med("addBatch"),
        "streaming.wal_commit_ms": med("walCommit"),
        "streaming.commit_offsets_ms": med("commitOffsets"),
        "streaming.latest_offset_ms": med("latestOffset"),
        "streaming.query_planning_ms": med("queryPlanning"),
        "streaming.sink_write_ms": median((b - a) * 1e3 for a, b in sink_spans),
        "workload.executor_run_ms": jobs["executor_run_ms"],
        "workload.executor_cpu_ms": jobs["executor_cpu_ms"],
        "workload.gc_ms": jobs["gc_ms"],
        "plans.codegen_ms": cursor.codegen_delta_ms(),
    }
    for k in ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes"):
        out[f"plans.{k}"] = jobs[k]
    out.update(cursor.sql_delta())
    return out


def prepare_environment(work_root: str) -> None:
    """Keep every file the run writes inside the checkout, put the package
    on the Python workers' import path so any cwd works, and, unless
    SPARK_GRAFT_CPUS says otherwise, run one task thread fewer than there
    are CPUs, leaving one for the JIT compiler, the collector and the
    driver's Python."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, len(os.sched_getaffinity(0)) - 1)))
    tmp = os.path.join(work_root, f"run-{os.getpid()}", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def become_subreaper() -> None:
    """Adopt every orphaned descendant (Linux ``PR_SET_CHILD_SUBREAPER``),
    such as the shell that Spark's launcher script leaves behind its JVM,
    so ``reap_descendants`` can wait for it."""
    import ctypes

    pr_set_child_subreaper = 36
    try:
        prctl = ctypes.CDLL(None, use_errno=True).prctl
    except (AttributeError, OSError):  # not Linux: orphans go to init instead
        return
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def reap_descendants(grace_s: float = 10.0) -> None:
    """Return only when no process this run started, directly or not, is
    left: reap the ones that end, and after ``grace_s`` signal the rest,
    first with SIGTERM, then with SIGKILL."""
    deadline, sig = time.monotonic() + grace_s, signal.SIGTERM
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = descendants()
        if not left:
            return
        if time.monotonic() > deadline:
            log(f"signalling {len(left)} leftover process(es) with {sig.name}")
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline, sig = time.monotonic() + 5.0, signal.SIGKILL
        time.sleep(0.05)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isfile(os.path.join(PACKAGE, "__init__.py")) or not os.path.isdir(SF_DIR):
        log(f"package or testdata missing under {ROOT}; run from a full checkout")
        return 2
    become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        prepare_environment(os.path.join(ROOT, ".perfbench_work"))
        os.chdir(os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}"))
        result = Run(args.workload, args.seed, args.seconds, bool(args.trace), started=T_START).execute()
    finally:
        reap_descendants()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

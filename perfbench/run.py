"""Benchmark: seeded inputs -> registry queries -> noop sink, with every
output checked against its DuckDB oracle.

    python3 perfbench/run.py --workload lob_oi --seed 1 --seconds 30 --trace 0

One process per run: a single SparkSession on ``local[nproc]`` (through
``SPARK_GRAFT_CPUS``); every other engine setting stays at its default.
A run

1. sets up: process start -> session ready, registry imported, a fixed
   tiny warm-up done (``setup_s``);
2. generates the workload's input from ``--seed`` (``perfbench/gen.py``);
3. runs the workload's query set once in the fresh session (``job_s``,
   ``cpu_s``), reads the JVM heap after a full GC
   (``heap_after_job_mb``), then repeats the query set until
   ``--seconds`` have passed since the first pass began, at least twice
   (``warm_job_s`` = median of the repeats);
4. outside the timed passes, compares each query's result with its
   registry oracle on the same input (``tools/parity.compare_frames``).
   An exception or a mismatch fails that query's executions.

With ``--trace 1`` the run also keeps spans around the engine's public
functions, tags every Spark job with its query phase, writes an
uncompressed Spark event log, checks the input against
``io.NON_NULL_CONTRACT``, and reports the per-layer metrics instead of
the end-to-end ones (see ``perfbench/README.md``).

The last stdout line is the result JSON; the line before it records the
input's properties and the host conditions. Everything the run writes
stays under ``.perfbench_work/`` in the working directory.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from gen import generate  # noqa: E402
from host import HostRecord, nproc, peak_rss_mb, process_age_s, tree_cpu_s  # noqa: E402
from tracing import Tracer, dedup_layers, dur, lob_layers, read_event_log  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

E2E_UNITS = {
    "setup_s": "s",
    "job_s": "s",
    "warm_job_s": "s",
    "cpu_s": "s",
    "heap_after_job_mb": "MB",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "session.pin.calls": "count",
    "session.pin.s": "s",
    "session.cached_rdds": "count",
    "queries.build_s": "s",
    "queries.eager_jobs": "count",
    "queries.plan_s": "s",
    "queries.exec_s": "s",
    "queries.sink_jobs": "count",
    "queries.stages": "count",
    "queries.tasks": "count",
    "queries.exec_run_s": "s",
    "queries.exec_cpu_s": "s",
    "queries.gc_s": "s",
    "queries.busy_share": "ratio",
    "queries.shuffle_write_mb": "MB",
    "queries.shuffle_read_mb": "MB",
    "queries.spill_mb": "MB",
    "queries.input_mb": "MB",
    "queries.failed_tasks": "count",
    "io.scan_s": "s",
    "io.rows": "count",
    "operators.iceberg.tag_s": "s",
    "operators.iceberg.match_share": "ratio",
    "operators.order_imbalance.oi_s": "s",
    "operators.order_imbalance.bins": "count",
    "operators.regression.ols_s": "s",
    "operators.strategy.pnl_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.pair_yield": "ratio",
    "operators.dedup.cc_s": "s",
    "operators.dedup.cc_sweeps": "count",
    "operators.similarity.pairs_scored": "count",
    "operators.similarity.pairs_kept": "count",
    "trace.overhead_s": "s",
}


def _program_present() -> bool:
    for mod in ("dissertation_iceberg_spark", "tools.parity", "pyspark", "duckdb"):
        try:
            if importlib.util.find_spec(mod) is None:
                return False
        except ModuleNotFoundError:
            return False
    return True


def _confine(work: str, traced: bool) -> str:
    """Keep Spark's scratch, temp files and event log inside ``work``;
    turn off the console progress bar. Returns the event-log dir."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    events = os.path.join(work, "eventlog")
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    confs = {"spark.ui.showConsoleProgress": "false", "spark.local.dir": local}
    if traced:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
        })
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([*args, "pyspark-shell"])
    # every JVM, the launcher's too: temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return events


def retained_heap_mb(spark) -> float:
    """JVM heap in use right after a full GC: the live data, including
    the blocks that pins and caches hold on the heap."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / 1048576.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    def __init__(self, spark, workload, sf_dir: str, tracer: Tracer) -> None:
        from dissertation_iceberg_spark.queries.registry import REGISTRY

        self.spark = spark
        self.sc = spark.sparkContext
        self.wl = workload
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.registry = REGISTRY
        self.errors: dict[str, str] = {}
        self.executions: dict[str, int] = dict.fromkeys(workload.queries, 0)
        self.failed_executions: dict[str, int] = dict.fromkeys(workload.queries, 0)
        self.query_s: dict[str, list[float]] = {}  # per pass, for the record
        self.check_s: dict[str, tuple[float, float]] = {}  # (spark, duckdb)

    def _group(self, group: str | None) -> None:
        if not self.tracer.enabled:
            return
        if group is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(group, group)

    def sink(self, name: str, df) -> float:
        """Run ``df`` to a noop sink under its own job group; seconds."""
        self._group(f"layer|{name}")
        t = time.perf_counter()
        with self.tracer.span(f"layer:{name}"):
            df.write.format("noop").mode("overwrite").save()
        self._group(None)
        return time.perf_counter() - t

    def one_pass(self, label: str) -> tuple[float, dict, dict | None]:
        """The workload's query set, each query built by its registry
        function and run to a noop sink. Returns (seconds, frames by
        query, pass span)."""
        frames = {}
        t = time.perf_counter()
        with self.tracer.span(f"pass:{label}") as pass_span:
            for q in self.wl.queries:
                self.executions[q] += 1
                tq = time.perf_counter()
                try:
                    with self.tracer.span(f"query:{q}"):
                        self._group(f"{label}|{q}|build")
                        with self.tracer.span("queries.build"):
                            df = self.registry[q].fn(self.spark, self.sf_dir)
                        if self.tracer.enabled:
                            with self.tracer.span("queries.plan"):
                                df._jdf.queryExecution().executedPlan()
                        self._group(f"{label}|{q}|sink")
                        with self.tracer.span("queries.exec"):
                            df.write.format("noop").mode("overwrite").save()
                    frames[q] = df
                except Exception as e:  # noqa: BLE001
                    self.failed_executions[q] += 1
                    self.errors.setdefault(q, f"{type(e).__name__}: {e}"[:500])
                self.query_s.setdefault(q, []).append(time.perf_counter() - tq)
            self._group(None)
        return time.perf_counter() - t, frames, pass_span

    def _oracle(self, con, q: str):
        t = time.perf_counter()
        du = con.execute(self.registry[q].oracle).fetchdf()
        return du, time.perf_counter() - t

    def check(self, frames: dict) -> dict:
        """Compare each query's result with its DuckDB oracle; returns
        the collected results (pandas). A mismatch fails every execution
        of that query. The oracles run on a worker thread while Spark
        collects the results: the check is not timed, only kept short."""
        from tools.parity import compare_frames, duck_connection

        results = {}
        con = duck_connection(self.sf_dir)
        try:
            with ThreadPoolExecutor(1) as pool:
                oracles = {q: pool.submit(self._oracle, con, q) for q in frames}
                for q in self.wl.queries:
                    try:
                        t = time.perf_counter()
                        sp = frames[q].toPandas()
                        t_spark = time.perf_counter() - t
                        du, t_duck = oracles[q].result()
                        self.check_s[q] = (t_spark, t_duck)
                        ok, msg = compare_frames(sp, du)
                        results[q] = sp
                    except Exception as e:  # noqa: BLE001
                        ok, msg = False, f"{type(e).__name__}: {e}"
                    if not ok:
                        self.errors.setdefault(q, f"oracle: {msg}"[:500])
                        self.failed_executions[q] = self.executions[q]
        finally:
            con.close()
        return results

    def cached_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()


def _layer_metrics(tracer: Tracer, cold: dict, cold_s: float, groups: dict,
                   extra: dict) -> dict:
    """Per-layer metrics of the first pass: span sums, event-log sums
    over the first pass's job groups, and the layer probes' ``extra``."""
    def ev(key: str, phase: str | None = None) -> float:
        return sum(
            g.get(key, 0.0)
            for name, g in groups.items()
            if name.startswith("cold|") and (phase is None or name.endswith(phase))
        )

    pins = tracer.under(cold, "session.pin")
    mb = 1024.0 * 1024.0
    out = dict.fromkeys(LAYER_UNITS, 0.0)
    out.update({
        "session.pin.calls": len(pins),
        "session.pin.s": dur(pins),
        "queries.build_s": dur(tracer.under(cold, "queries.build")),
        "queries.plan_s": dur(tracer.under(cold, "queries.plan")),
        "queries.exec_s": dur(tracer.under(cold, "queries.exec")),
        "queries.eager_jobs": ev("jobs", "|build"),
        "queries.sink_jobs": ev("jobs", "|sink"),
        "queries.stages": ev("stages"),
        "queries.tasks": ev("tasks"),
        "queries.failed_tasks": ev("failed_tasks"),
        "queries.exec_run_s": ev("exec_run_s"),
        "queries.exec_cpu_s": ev("exec_cpu_s"),
        "queries.gc_s": ev("gc_s"),
        "queries.busy_share": ev("exec_run_s") / (cold_s * nproc()),
        "queries.shuffle_write_mb": ev("shuffle_write_b") / mb,
        "queries.shuffle_read_mb": ev("shuffle_read_b") / mb,
        "queries.spill_mb": ev("spill_b") / mb,
        "queries.input_mb": ev("input_b") / mb,
    })
    out.update(extra)
    return out


def run(workload_name: str, seed: int, seconds: float, traced: bool) -> dict:
    host = HostRecord()
    wl = WORKLOADS[workload_name]
    run_id = f"{workload_name}-s{seed}-p{os.getpid()}"
    work = os.path.join(os.getcwd(), ".perfbench_work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    events_dir = _confine(work, traced)
    tracer = Tracer(run_id)
    if traced:
        tracer.wrap_all()  # before the registry imports the callers

    # ---- set-up: process start -> session ready
    from dissertation_iceberg_spark.queries.registry import _ensure_loaded
    from dissertation_iceberg_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t
    _ensure_loaded()
    spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().write.format(
        "noop"
    ).mode("overwrite").save()
    setup_s = process_age_s()
    host.calibrate()
    try:
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid

        # ---- input
        sf_dir = os.path.join(work, "data")
        t = time.perf_counter()
        props = generate(sf_dir, seed, wl.sizes)
        phase_s = {"generate": time.perf_counter() - t}

        # ---- timed passes
        runner = Runner(spark, wl, sf_dir, tracer)
        tracer.enabled = traced
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        job_s, frames, cold = runner.one_pass("cold")
        cpu_s = tree_cpu_s() - cpu0
        tracer.enabled = False
        heap_mb = retained_heap_mb(spark)
        cached = [runner.cached_rdds()]
        warm: list[float] = []
        if traced:
            # tracing overhead: after one settling repeat, untraced and
            # traced repeats in ABBA order, so the session's own warming
            # trend cancels
            runner.one_pass("settle")
            repeats: dict[bool, list[float]] = {False: [], True: []}
            for on in (False, True, True, False):
                tracer.enabled = on
                s, frames, _ = runner.one_pass("warm" if on else "plain")
                repeats[on].append(s)
            tracer.enabled = False
            cached.append(runner.cached_rdds())
            layers = {
                "trace.overhead_s": statistics.mean(repeats[True])
                - statistics.mean(repeats[False])
            }
        else:
            while len(warm) < 2 or time.perf_counter() - t0 < seconds:
                s, frames, _ = runner.one_pass("warm")
                warm.append(s)
        rss = peak_rss_mb(jvm_pid)

        # ---- correctness, outside the timed passes
        t = time.perf_counter()
        if traced:
            from dissertation_iceberg_spark.io import validate_contract

            bad = validate_contract(spark, sf_dir)
            if bad:
                raise RuntimeError(f"generated input breaks io.NON_NULL_CONTRACT: {bad}")
        results = runner.check(frames)
        phase_s["check"] = time.perf_counter() - t
        if traced:
            tracer.enabled = True
            if wl.name == "lob_oi":
                layers.update(lob_layers(spark, sf_dir, runner.sink, tracer))
            if wl.name == "llm_dedup":
                layers.update(dedup_layers(tracer, cold, results, sf_dir))
            tracer.enabled = False
        record = {
            "run_id": run_id,
            "workload": wl.name,
            "input": props,
            "host": host.finish(),
            "passes": {"job_s": job_s, "warm_s": warm, "query_s": runner.query_s},
            "memory_mb": {"retained_heap": heap_mb, "peak_rss": rss},
            "cached_rdds_per_pass": cached,
            "phase_s": phase_s,
            "check_s": runner.check_s,
            "result_rows": {q: len(df) for q, df in results.items()},
            "errors": runner.errors,
        }
    finally:
        stop_spark(spark)

    if traced:
        groups = read_event_log(events_dir)
        layers["session.start_s"] = start_s
        layers["session.cached_rdds"] = cached[-1]
        metrics = _layer_metrics(tracer, cold, job_s, groups, layers)
        units = LAYER_UNITS
        tracer.write(os.path.join(os.path.dirname(work), f"spans-{run_id}.json"))
    else:
        metrics = {
            "setup_s": setup_s,
            "job_s": job_s,
            "warm_job_s": statistics.median(warm),
            "cpu_s": cpu_s,
            "heap_after_job_mb": heap_mb,
        }
        units = E2E_UNITS
    shutil.rmtree(work, ignore_errors=True)

    attempted = sum(runner.executions.values())
    failed = sum(runner.failed_executions.values())
    record["wall_s"] = process_age_s()
    print(json.dumps(record, default=str), flush=True)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not _program_present():
        print("perfbench: the engine package (dissertation_iceberg_spark, "
              "tools/parity.py) or its runtime is not importable here", file=sys.stderr)
        return 2
    result = run(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Seeded, oracle-checked benchmark of the map_reduce_go_spark engine.

    python3 perfbench/run.py --workload mr_corpus --seed 1 --seconds 25 --trace 0

One run: generate the workload's inputs from ``--seed``; compute every
job's oracle result; start Spark with ``get_spark()`` at ``local[nproc]``
and run one untimed warm-up pass (the set-up); then run passes over the
workload's jobs as one closed-loop client (each job is sent after the
previous one delivered its result): two passes, then more while another
would end within ``--seconds`` at the median pass time so far. Every
job's result is checked against its oracle after each pass. ``--trace 1``
adds one traced pass plus per-layer probes after the timed passes and
prints the per-layer metrics instead of the end-to-end ones.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Everything the run writes goes under ``.perfbench/`` at the repository root
(inputs, Spark scratch and outputs are removed at exit; traces are kept).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(1, str(REPO))

from gen import GENERATORS  # noqa: E402
from jobs import N_REDUCE  # noqa: E402
from spans import (  # noqa: E402
    NullTracer,
    Tracer,
    collect_stages,
    covered,
    peak_rss_mb,
    reset_peak_rss,
    self_times,
    steal_s,
    task_skew,
)

WORKLOADS = tuple(GENERATORS)

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "mb_per_s": "MB/s",
    "job_p50_s": "s",
    "job_max_s": "s",
    "retained_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.scan_s": "s",
    "sources.input_bytes": "bytes",
    "sources.input_records": "count",
    "plan.build_s": "s",
    "plan.eager_jobs": "count",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.slot_util": "ratio",
    "exec.driver_gap_s": "s",
    "exec.failed_tasks": "count",
    "exec.peak_rss_mb": "MB",
    "shuffle.write_bytes": "bytes",
    "shuffle.write_records": "count",
    "shuffle.read_bytes": "bytes",
    "shuffle.spill_bytes": "bytes",
    "shuffle.task_skew": "ratio",
    "mapreduce.map_s": "s",
    "mapreduce.reduce_s": "s",
    "mapreduce.map_records": "count",
    "mapreduce.combine_ratio": "ratio",
    "mapreduce.python_wait_s": "s",
    "mrapps.job_s": "s",
    "sinks.write_s": "s",
    "sinks.files": "count",
    "sinks.bytes": "bytes",
    "caching.cold_s": "s",
    "caching.warm_s": "s",
    "caching.warm_cold_ratio": "ratio",
    "caching.cached_bytes": "bytes",
    "bench.gen_s": "s",
    "bench.oracle_s": "s",
    "bench.check_s": "s",
    "bench.failed_ratio": "ratio",
    "bench.steal_s": "s",
    "trace.overhead_ratio": "ratio",
    "self.bench_s": "s",
    "self.plan_s": "s",
    "self.exec_s": "s",
    "self.mapreduce_s": "s",
    "self.sinks_s": "s",
    "self.caching_s": "s",
    "self.sources_s": "s",
}

MIN_PASSES = 2

#: Input sizes: "full" is what the benchmark measures; "tiny" is for the
#: benchmark's own tests.
TINY = {
    "mr_corpus": dict(min_kb=2, max_kb=6, vocab=800, topic_vocab=40),
    "star_sql": dict(sf=0.002),
    "dedup_index": dict(n_docs=120, n_vectors=150, vocab=600, n_centroids=8),
}


class Run:
    """State of one benchmark run: inputs, Spark session, job records."""

    def __init__(self, args):
        self.args = args
        self.work = REPO / ".perfbench" / f"work-{args.workload}-{args.seed}-{os.getpid()}"
        self.inputs = self.work / "inputs"
        self.outputs = self.work / "outputs"
        self.spark = None
        self.gateway = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.check_s = 0.0
        self.layer: dict[str, float] = {}

    # -- environment ------------------------------------------------------

    def prepare_env(self) -> None:
        """Keep every file Spark and its workers write inside the work dir,
        and let the Python workers import the program from any cwd."""
        for d in (self.inputs, self.outputs, self.work / "tmp", self.work / "spark-local"):
            d.mkdir(parents=True, exist_ok=True)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(REPO), os.environ.get("PYTHONPATH", "")) if p
        )
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        os.environ["TMPDIR"] = str(self.work / "tmp")
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))

    def start_spark(self) -> None:
        from map_reduce_go_spark import get_spark
        from pyspark import SparkContext

        tmp = self.work / "tmp"
        spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        self.gateway = SparkContext._gateway
        self.spark = spark

    def stop_spark(self) -> None:
        """Stop the session, then the JVM, and wait for the JVM to exit."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw, self.gateway = self.gateway, None
        if gw is None:
            return
        from pyspark import SparkContext

        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - last resort: never leave a JVM behind
                proc.kill()
                proc.wait()

    def pids(self) -> list[int]:
        return [os.getpid(), self.gateway.proc.pid]

    def retained_mb(self) -> float:
        """JVM heap plus non-heap memory still in use after the warm-up pass,
        once the workload's memos and caches are released and the heap is
        collected.

        Python is collected first so py4j releases its JVM references; the
        second JVM collection follows Spark's ContextCleaner, which drops
        unreferenced RDD, shuffle and broadcast blocks after the first."""
        from map_reduce_go_spark.functions.caching import clear_memos, release_caches

        clear_memos()
        release_caches()
        jvm = self.spark.sparkContext._jvm
        gc.collect()
        jvm.System.gc()
        time.sleep(1.0)
        jvm.System.gc()
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return (mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()) / 2**20

    # -- passes -----------------------------------------------------------

    def run_pass(self, wl, tracer) -> dict:
        """Run every job once, back to back; then check every result."""
        from map_reduce_go_spark.functions.caching import clear_memos, release_caches

        records = []  # (label, job, latency, result, error)
        t0 = time.perf_counter()
        for job in wl.jobs:
            modes = ("cold", "warm") if job.warm_rerun else ("",)
            for mode in modes:
                if job.clear_memos and mode != "warm":
                    with tracer.span("caching", "clear_memos"):
                        clear_memos()
                label = f"{job.name}:{mode}" if mode else job.name
                with tracer.span("bench", label):
                    ts = time.perf_counter()
                    try:
                        result, err = job.run(self.spark, tracer), None
                    except Exception as e:  # noqa: BLE001 - a failing job is a counted failure
                        result, err = None, f"{type(e).__name__}: {e}"
                    lat = time.perf_counter() - ts
                with tracer.span("caching", "release_caches"):
                    tracer.note_storage()
                    release_caches()
                records.append((label, job, lat, result, err))
        wall = time.perf_counter() - t0

        tc = time.perf_counter()
        for label, job, _lat, result, err in records:
            self.attempted += 1
            if err is None:
                err = job.check(result)
            if err is not None:
                self.failed += 1
                self.failures.append(f"{label}: {err}"[:400])
        self.check_s += time.perf_counter() - tc
        return {"wall": wall, "lat": {r[0]: r[2] for r in records}}

    # -- per-layer probes (traced run only) ---------------------------------

    def probe_sources(self, wl, tracer) -> None:
        from map_reduce_go_spark.sources.readers import load_table, read_wholetext

        for t in wl.tables:
            with tracer.span("sources", t):
                load_table(self.spark, wl.input_dir, t).write.format("noop").mode("overwrite").save()
        if wl.corpus:
            with tracer.span("sources", "corpus"):
                read_wholetext(self.spark, wl.corpus).write.format("noop").mode("overwrite").save()

    def probe_mapreduce(self, wl, tracer) -> None:
        """Map phase alone (whole-text scan -> mapInPandas(map_fn) -> noop),
        and the text sink alone (write_text_kv of an already-cached result)."""
        import pandas as pd
        from map_reduce_go_spark.operators import mapreduce as mr
        from map_reduce_go_spark.sources.readers import read_wholetext
        from pyspark.sql import functions as F

        for app in ("wc", "indexer"):
            map_fn = getattr(mr, f"{app}_map")

            def map_only(batches, map_fn=map_fn):
                for pdf in batches:
                    kv = [p for f, c in zip(pdf["filename"], pdf["contents"]) for p in map_fn(f, c)]
                    yield pd.DataFrame(kv, columns=["key", "value"])

            with tracer.span("mapreduce", f"map_only:{app}"):
                read_wholetext(self.spark, wl.corpus).mapInPandas(map_only, schema=mr.KV_SCHEMA).write.format(
                    "noop"
                ).mode("overwrite").save()

            kv = (
                self.spark.read.text(str(self.outputs / f"mr-{app}"))
                .select(F.split("value", " ", 2).alias("p"))
                .select(F.col("p")[0].alias("key"), F.col("p")[1].alias("value"))
                .cache()
            )
            kv.count()
            with tracer.span("sinks", f"write_only:{app}"):
                mr.write_text_kv(kv, str(self.outputs / f"sink-probe-{app}"), n_partitions=N_REDUCE)
            kv.unpersist()


def _sum(stages, key) -> float:
    return float(sum(st[key] for st in stages))


def layer_metrics(run: Run, wl, tracer: Tracer, n_pass: int, traced: dict, untraced_wall: float) -> dict:
    """Per-layer metrics from the traced pass (``tracer.spans[:n_pass]``)
    and the probes that followed it."""
    from jobs import MEMO_QUERIES, MR_NATIVE, read_text_output

    sc = run.spark.sparkContext
    cores = sc.defaultParallelism
    spans = tracer.spans
    collect_stages(sc, spans)
    all_stages = [st for s in spans for st in s.stages]
    pass_spans, probes = spans[:n_pass], spans[n_pass:]
    pass_stages = [st for s in pass_spans for st in s.stages]
    action_spans = [s for s in pass_spans if s.layer in ("exec", "sinks")]
    m: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    m.update(run.layer)

    src = [s for s in probes if s.layer == "sources"]
    m["sources.scan_s"] = sum(s.dur for s in src)
    m["sources.input_bytes"] = sum(_sum(s.stages, "inputBytes") for s in src)
    m["sources.input_records"] = sum(_sum(s.stages, "inputRecords") for s in src)

    plan = [s for s in pass_spans if s.layer in ("plan", "mapreduce")]
    m["plan.build_s"] = sum(s.dur for s in plan)
    m["plan.eager_jobs"] = sum(s.jobs for s in plan)

    action_run = 0.0
    gap = 0.0
    for s in action_spans:
        action_run += _sum(s.stages, "executorRunTime") / 1000.0
        ivs = [(st["submitted"] or st["completed"], st["completed"]) for st in s.stages]
        gap += s.dur - covered(ivs, s.start, s.end)
    action_s = sum(s.dur for s in action_spans)
    m["exec.action_s"] = action_s
    m["exec.jobs"] = sum(s.jobs for s in pass_spans)
    m["exec.stages"] = len(pass_stages)
    m["exec.tasks"] = _sum(pass_stages, "numTasks")
    m["exec.task_run_s"] = _sum(pass_stages, "executorRunTime") / 1000.0
    m["exec.task_cpu_s"] = _sum(pass_stages, "executorCpuTime") / 1e9
    m["exec.gc_s"] = _sum(pass_stages, "jvmGcTime") / 1000.0
    m["exec.slot_util"] = action_run / (action_s * cores) if action_s > 0 else 0.0
    m["exec.driver_gap_s"] = gap
    m["exec.failed_tasks"] = _sum(all_stages, "numFailedTasks")

    m["shuffle.write_bytes"] = _sum(pass_stages, "shuffleWriteBytes")
    m["shuffle.write_records"] = _sum(pass_stages, "shuffleWriteRecords")
    m["shuffle.read_bytes"] = _sum(pass_stages, "shuffleReadBytes")
    m["shuffle.spill_bytes"] = _sum(pass_stages, "diskBytesSpilled")
    if pass_stages:
        m["shuffle.task_skew"] = task_skew(sc, max(pass_stages, key=lambda st: st["executorRunTime"]))

    lat = traced["lat"]
    if wl.name == "mr_corpus":
        mr_roots = {s.sid for s in pass_spans if s.layer == "bench" and s.name.startswith("mr_")}
        mr_stages = [st for s in pass_spans if s.parent in mr_roots for st in s.stages]
        m["mapreduce.map_s"] = sum(s.dur for s in probes if s.name.startswith("map_only"))
        # Map output = what the scan-side stage of each generic job shuffles.
        m["mapreduce.map_records"] = sum(st["shuffleWriteRecords"] for st in mr_stages if st["inputRecords"])
        mr_total = sum(v for k, v in lat.items() if k.startswith("mr_"))
        m["mapreduce.reduce_s"] = mr_total - m["mapreduce.map_s"]
        keys = files = nbytes = 0
        for app in ("wc", "indexer"):
            lines, n_files, n_bytes = read_text_output(str(run.outputs / f"mr-{app}"))
            keys, files, nbytes = keys + len(lines), files + n_files, nbytes + n_bytes
        m["mapreduce.combine_ratio"] = keys / m["mapreduce.map_records"] if m["mapreduce.map_records"] else 0.0
        m["mapreduce.python_wait_s"] = sum(
            st["executorRunTime"] / 1000.0 - st["executorCpuTime"] / 1e9 for st in mr_stages
        )
        m["mrapps.job_s"] = sum(lat[q] for q in MR_NATIVE)
        m["sinks.write_s"] = sum(s.dur for s in probes if s.name.startswith("write_only"))
        m["sinks.files"] = files
        m["sinks.bytes"] = nbytes
    if wl.name == "dedup_index":
        cold = sum(lat[f"{q}:cold"] for q in MEMO_QUERIES)
        warm = sum(lat[f"{q}:warm"] for q in MEMO_QUERIES)
        m["caching.cold_s"], m["caching.warm_s"] = cold, warm
        m["caching.warm_cold_ratio"] = warm / cold if cold else 0.0
    m["caching.cached_bytes"] = tracer.max_cached_bytes
    m["trace.overhead_ratio"] = traced["wall"] / untraced_wall
    for layer, v in self_times(spans).items():
        if f"self.{layer}_s" in m:
            m[f"self.{layer}_s"] = v
    return m


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full", help="tiny: for the benchmark's own tests")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # Turn SIGTERM into SystemExit so the JVM is stopped and the work dir removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        import map_reduce_go_spark  # noqa: F401
        import tests.oracle_compare  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {REPO}: {e}", file=sys.stderr)
        return 2

    run = Run(args)
    try:
        return execute(run, args)
    finally:
        run.stop_spark()
        shutil.rmtree(run.work, ignore_errors=True)


def execute(run: Run, args) -> int:
    import jobs

    run.prepare_env()
    gen_fn, size_cls = GENERATORS[args.workload]
    size = size_cls(**TINY[args.workload]) if args.size == "tiny" else size_cls()

    t = time.perf_counter()
    props = gen_fn(str(run.inputs), args.seed, size)
    run.layer["bench.gen_s"] = time.perf_counter() - t

    t = time.perf_counter()
    wl = jobs.build_workload(args.workload, str(run.inputs), str(run.outputs))
    run.layer["bench.oracle_s"] = time.perf_counter() - t

    # Set-up: session start plus one untimed warm-up pass.
    null = NullTracer()
    t = time.perf_counter()
    run.start_spark()
    run.layer["session.start_s"] = time.perf_counter() - t
    run.run_pass(wl, null)
    setup_s = time.perf_counter() - t
    # Memory is read here, after exactly one full pass, so that it does not
    # depend on how many timed passes fit in --seconds: Spark's status store
    # keeps more job and stage data after every pass.
    retained_mb = run.retained_mb()

    # Timed passes, a closed loop over the jobs. At least two: the first
    # pass after the warm-up still runs 5-15% slower than the next. More
    # only while one would end within --seconds, so that a slow host does
    # not stretch the run by a pass.
    reset_peak_rss(run.pids())
    stolen = steal_s()
    passes = []
    t_end = time.perf_counter() + args.seconds
    while len(passes) < MIN_PASSES or time.perf_counter() + statistics.median(p["wall"] for p in passes) <= t_end:
        passes.append(run.run_pass(wl, null))
    run.layer["bench.steal_s"] = steal_s() - stolen
    run.layer["exec.peak_rss_mb"] = peak_rss_mb(run.pids())

    walls = [p["wall"] for p in passes]
    run_s = statistics.median(walls)
    metrics = {
        "setup_s": setup_s,
        "run_s": run_s,
        "mb_per_s": props["input_bytes"] / 1e6 / run_s,
        # Per pass, the upper median: with an even job count the middle pair
        # can straddle two job classes (native vs generic apps), and their
        # mean is neither. Pooling the passes' jobs instead would make it
        # the fastest of the heavy class's runs.
        "job_p50_s": statistics.median(statistics.median_high(p["lat"].values()) for p in passes),
        "job_max_s": statistics.median(max(p["lat"].values()) for p in passes),
        "retained_mb": retained_mb,
    }
    units = END_TO_END

    if args.trace:
        tracer = Tracer(f"pb{os.getpid()}", run.spark.sparkContext)
        traced = run.run_pass(wl, tracer)
        n_pass = len(tracer.spans)
        run.probe_sources(wl, tracer)
        if wl.name == "mr_corpus":
            run.probe_mapreduce(wl, tracer)
        run.layer["bench.check_s"] = run.check_s
        run.layer["bench.failed_ratio"] = run.failed / run.attempted
        metrics = layer_metrics(run, wl, tracer, n_pass, traced, run_s)
        units = PER_LAYER
        tracer.dump(
            str(REPO / ".perfbench" / "traces" / f"{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "props": props, "metrics": metrics},
        )

    for f in run.failures:
        print(f"FAILED {f}", file=sys.stderr)
    job_s = {k: statistics.median(p["lat"][k] for p in passes) for k in passes[0]["lat"]}
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "props": props,
        "passes": len(passes),
        "pass_s": walls,
        "job_s": job_s,
        "steal_s": run.layer["bench.steal_s"],
    }
    print(json.dumps(info))
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report and fail without a result line
        traceback.print_exc()
        sys.exit(1)

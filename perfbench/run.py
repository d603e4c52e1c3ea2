"""Benchmark driver: one workload, one seed, one run.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 8 --trace 0

Run from the root of a source checkout. The run

1. pins its environment (CPUs, driver memory, local and temp dirs under
   ``perfbench/_work``, ``PYTHONPATH`` for Python workers) and records it;
2. generates the workload's inputs from ``--seed``;
3. starts a session with ``session.get_spark`` several times, each a
   cold start (a new JVM, then a warm-up action), and reports the median
   as ``setup_s``;
4. runs one untimed pass that checks every op's output and warms the JVM,
   and the workload's ``warm_passes`` more;
5. runs closed-loop passes (one client, one op at a time) for
   ``--seconds``, and at least three; with ``--trace 1`` the passes
   alternate untraced and traced (at least two of each), and the traced
   ones read Spark's status store after each op.

The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics under ``--trace 0`` and the per-layer metrics under ``--trace 1``.
The line before it is the full record (environment, inputs, per-op
samples, the tail percentile used, the layer map); it is also written to
``perfbench/_work/record-<workload>-trace<n>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
# Cold session starts, each launching a JVM: ~10 s apiece on 4 cores,
# so two, to keep a run near a minute.
SETUPS = 2
# Timed passes at least, however long they take, so that a slow host
# does not also change which statistic the median is. The first timed
# pass often runs slow (the JVM is still compiling); a median of three
# leaves it out. A traced run alternates two untraced and two traced.
MIN_TIMED_PASSES = 3
MIN_TRACED_PASSES = 4
# the tail is the highest of these percentiles with >= 10 samples beyond
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0)
SUM_TOLERANCE = 0.05

# end-to-end metric -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "pass_s": ("s", "lower"),
    "rows_per_s": ("1/s", "higher"),
}
# layer metric -> (unit, better, end-to-end metric it should move, workload)
LAYERS = {
    "sources.parse_s": ("s", "lower", "rows_per_s", "cricket_reference"),
    "plans.compile_s": ("s", "lower", "pass_s", "cricket_reference"),
    "plans.compile_jobs": ("count", "lower", "pass_s", "cricket_reference"),
    "operators.build_s": ("s", "lower", "pass_s", "catalog"),
    "operators.build_wall_s": ("s", "lower", "pass_s", "catalog"),
    "operators.build_jobs": ("count", "lower", "pass_s", "catalog"),
    "catalyst.plan_s": ("s", "lower", "pass_s", "cricket_reference"),
    "exec.jobs": ("count", "lower", "pass_s", "catalog"),
    "exec.jobs_untagged": ("count", "lower", "pass_s", "catalog"),
    "exec.stages": ("count", "lower", "pass_s", "catalog"),
    "exec.tasks": ("count", "lower", "pass_s", "catalog"),
    "exec.job_busy_s": ("s", "lower", "pass_s", "catalog"),
    "exec.task_run_s": ("s", "lower", "pass_s", "catalog"),
    "exec.task_cpu_s": ("s", "lower", "pass_s", "catalog"),
    "exec.shuffle_read_bytes": ("bytes", "lower", "pass_s", "catalog"),
    "exec.shuffle_write_bytes": ("bytes", "lower", "pass_s", "catalog"),
    "exec.spill_bytes": ("bytes", "lower", "pass_s", "catalog"),
    "exec.task_failures": ("count", "lower", "pass_s", "catalog"),
    "driver.gap_s": ("s", "lower", "pass_s", "catalog"),
    "sinks.write_s": ("s", "lower", "rows_per_s", "cricket_reference"),
    "sinks.bytes_written": ("bytes", "lower", "rows_per_s", "cricket_reference"),
    "trace.overhead_s": ("s", "lower", "pass_s", "every workload"),
    # in the record only, see RECORD_ONLY
    "sources.input_bytes": ("bytes", "lower", "rows_per_s", "cricket_reference"),
    "sources.quarantined": ("count", "lower", "rows_per_s", "cricket_reference"),
    "sinks.write_amp": ("ratio", "lower", "rows_per_s", "cricket_reference"),
    "sinks.files_written": ("count", "lower", "pass_s", "cricket_reference"),
    "etl.rows_in": ("count", "higher", "rows_per_s", "cricket_reference"),
    "etl.rows_out": ("count", "higher", "rows_per_s", "cricket_reference"),
    "etl.keep_ratio": ("ratio", "higher", "rows_per_s", "cricket_reference"),
    "streaming.batches": ("count", "lower", "rows_per_s", "catalog"),
    "streaming.batch_p50_s": ("s", "lower", "rows_per_s", "catalog"),
    "streaming.state_rows": ("count", "lower", "rows_per_s", "catalog"),
    "streaming.state_commit_s": ("s", "lower", "rows_per_s", "catalog"),
    "streaming.state_memory_bytes": ("bytes", "lower", "rows_per_s", "catalog"),
    "layers.sum_err": ("ratio", "lower", "pass_s", "every workload"),
}
# Kept in the record, not among the metrics: layers that run on one
# workload only (etl, streaming) would read 0 on every run of the other;
# input sizes and ETL row counts are fixed by the generated input; the
# layer-sum error is a check (an op over SUM_TOLERANCE fails).
RECORD_ONLY = tuple(k for k in LAYERS if k.startswith(("etl.", "streaming."))) + (
    "sources.input_bytes", "sources.quarantined", "sinks.write_amp",
    "sinks.files_written", "layers.sum_err")
PER_LAYER = tuple(k for k in LAYERS if k not in RECORD_ONLY)
# ops whose input rate is the workload's rows_per_s
INTAKE_LAYERS = ("etl", "streaming")


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def preflight() -> None:
    """Refuse to run without the program's sources beside the benchmark."""
    for rel in ("cricket_analytics_nosql_spark/session.py",
                "tools/parity.py", "bench.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            fail(f"{rel} not found under {ROOT}: run from a source checkout")


def host_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


def pin_environment() -> dict:
    """Environment the run depends on, set before the JVM starts."""
    nproc = len(os.sched_getaffinity(0))
    mem_mb = min(4096, max(1024, host_memory_mb() // 8))
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
        ),
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir
        "JAVA_TOOL_OPTIONS": " ".join(
            p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p
        ),
    }
    os.environ.update(env)
    tempfile.tempdir = None  # re-read TMPDIR
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)
    return {"nproc": nproc, "driver_mem_mb": mem_mb,
            "host_mem_mb": host_memory_mb(), "python": sys.version.split()[0]}


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))
    return s[k]


def tail(by_op: dict[str, list[float]]) -> tuple[float, str]:
    """Highest ladder percentile of all latencies with at least ten
    samples beyond it. Under 40 samples no ladder percentile has ten
    beyond it; the tail is then the slowest op's median latency."""
    values = [v for vs in by_op.values() for v in vs]
    n = len(values)
    for p in TAIL_LADDER:
        if n - -(-p * n // 100) >= 10:
            return percentile(values, p), f"p{p:g}"
    return max(median(vs) for vs in by_op.values()), f"slowest-op-median(n={n})"


class Tally:
    """Ops attempted and failed (raised, or returned a wrong answer)."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, name: str, error: str | None) -> None:
        self.attempted += 1
        if error is not None:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(f"{name}: {error}"[:500])


def run_op(spark, op, traced: bool, probes=None) -> dict:
    """Run one op and return its sample. ``probes`` is ``(JobProbe,
    StreamProbe)`` when the op is traced."""
    from probes import layer_split, union_seconds

    sample = {"op": op.name, "layer": op.layer, "input_rows": op.input_rows,
              "rows": None, "error": None}
    if traced:
        spark.sparkContext.setJobGroup(op.name, op.name)
        n_batches = len(probes[1].batches)
    df = None
    t0 = time.time()
    try:
        df = op.build(spark)
        t1 = time.time()
        if traced and df is not None:
            # collect runs this same QueryExecution: planned once, here
            df._jdf.queryExecution().executedPlan()
        t2 = time.time()
        if df is not None:
            sample["rows"] = df.collect()
        t3 = time.time()
    except Exception:  # an op that raises is a failed op, not a crash
        sample["error"] = traceback.format_exc(limit=3)[-400:]
        t1 = t2 = t3 = time.time()
    sample["latency_s"] = t3 - t0
    if traced:
        jobs = probes[0].take(op.name)
        intervals = jobs.pop("intervals")
        if df is None:  # one multi-action op: no build/plan split
            t1 = t2 = t0
        sample.update(layer_split(t0, t1, t2, t3, intervals))
        sample["build_jobs"] = sum(s < t1 for s, _ in intervals)
        sample["write_s"] = union_seconds(jobs.pop("write_intervals"))
        sample.update(jobs)
        sample["stream"] = probes[1].summary(n_batches)
    return sample


def run_pass(spark, workload, ops, traced: bool, probes=None) -> dict:
    t0 = time.perf_counter()
    samples = []
    for op in ops:
        samples.append(run_op(spark, op, traced, probes))
        if op.layer == "etl":
            samples[-1]["ingest"] = vars(workload.last_ingest).copy()
    return {"traced": traced, "wall_s": time.perf_counter() - t0,
            "samples": samples}


def run_checked_pass(spark, workload, rng, traced: bool, probes,
                     tally: Tally) -> dict:
    """A pass; then, outside its timing, each op's error or check. In a
    traced pass an op whose layer parts do not add up to its wall time
    fails too: its jobs were not attributed to it."""
    ops = workload.ops(rng)
    workload.observe = traced
    p = run_pass(spark, workload, ops, traced, probes)
    for op, s in zip(ops, p["samples"]):
        err = s["error"]
        if err is None:
            err = check_sample(spark, workload, op, s["rows"])
        if err is None and traced:
            s["sum_err"] = abs(s["sum_s"] - s["wall_s"]) / s["wall_s"]
            if s["sum_err"] > SUM_TOLERANCE:
                err = (f"layer parts sum to {s['sum_s']:.3f} s, "
                       f"wall {s['wall_s']:.3f} s")
        s["error"], s["rows"] = err, None
        tally.record(op.name, err)
    return p


def check_sample(spark, workload, op, rows) -> str | None:
    if op.layer == "etl":
        return workload.check_ingest(spark)
    if op.check is not None:
        return op.check(rows)
    return None


def check_pass(spark, workload, ops, tally: Tally) -> float:
    """The untimed warm-up pass: run every op once and check its output,
    against the query's DuckDB oracle or the generator's ground truth."""
    from tools.parity import compare

    t0 = time.perf_counter()
    for op in ops:
        err = None
        try:
            if op.oracle is not None:
                compare(op.fn(spark, workload.sf_dir), op.oracle,
                        workload.sf_dir, op.name)
            else:
                df = op.build(spark)
                rows = df.collect() if df is not None else None
                err = check_sample(spark, workload, op, rows)
        except AssertionError as e:
            err = str(e)[:400]
        except Exception:  # an op that raises is a failed op, not a crash
            err = traceback.format_exc(limit=3)[-400:]
        tally.record(op.name, err)
    return time.perf_counter() - t0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(passes: list[dict]) -> tuple[dict, dict]:
    """``rows_per_s`` is the input rate of the workload's intake op: the
    ingest of ``cricket_reference``, the stream drain of ``catalog``."""
    lat, walls, rates = [], [], []
    by_op: dict[str, list[float]] = {}
    for p in passes:
        walls.append(p["wall_s"])
        ok = [s for s in p["samples"] if s["error"] is None]
        q = [s for s in ok if s["layer"] != "etl"]
        lat.extend(s["latency_s"] for s in q)
        for s in q:
            by_op.setdefault(s["op"], []).append(s["latency_s"])
        intake = [s for s in ok if s["layer"] in INTAKE_LAYERS]
        if intake:
            rates.append(sum(s["input_rows"] for s in intake)
                         / sum(s["latency_s"] for s in intake))
    tail_s, tail_p = tail(by_op)
    values = {"pass_s": median(walls), "rows_per_s": median(rates)}
    return values, {"query_p50_s": median(lat), "query_tail_s": tail_s,
                    "tail_percentile": tail_p, "query_samples": len(lat),
                    "timed_passes": len(passes)}


def per_layer(workload, passes: list[dict], untraced: list[dict],
              source_probe: list[float]) -> dict:
    """Per-layer values: per-pass totals over the traced passes, median
    across them. Every ``PER_LAYER`` metric is measured on every
    workload; the ``RECORD_ONLY`` values are added where they apply."""
    sums = {
        "operators.build_s": "build_s", "operators.build_wall_s": "build_wall_s",
        "operators.build_jobs": "build_jobs", "catalyst.plan_s": "plan_s",
        "exec.jobs": "jobs", "exec.jobs_untagged": "jobs_untagged",
        "exec.stages": "stages", "exec.tasks": "tasks",
        "exec.job_busy_s": "job_busy_s", "exec.task_run_s": "task_run_s",
        "exec.task_cpu_s": "task_cpu_s",
        "exec.shuffle_read_bytes": "shuffle_read_bytes",
        "exec.shuffle_write_bytes": "shuffle_write_bytes",
        "exec.spill_bytes": "spill_bytes", "exec.task_failures": "task_failures",
        "driver.gap_s": "gap_s", "sinks.write_s": "write_s",
        "sinks.bytes_written": "output_bytes",
    }
    per_pass: dict[str, list[float]] = {k: [] for k in (
        *sums, "plans.compile_s", "plans.compile_jobs", "sources.parse_s",
        "streaming.batches", "streaming.batch_p50_s", "streaming.state_rows",
        "streaming.state_commit_s", "streaming.state_memory_bytes",
        "etl.rows_in")}
    sum_err = 0.0
    for p in passes:
        ss = [s for s in p["samples"] if s["error"] is None]
        for k, f in sums.items():
            per_pass[k].append(sum(s[f] for s in ss))
        plans = [s for s in ss if s["layer"] == "plans"]
        per_pass["plans.compile_s"].append(sum(s["build_wall_s"] for s in plans))
        per_pass["plans.compile_jobs"].append(sum(s["build_jobs"] for s in plans))
        stream = [s["stream"] for s in ss if s["layer"] == "streaming"]
        if stream:
            per_pass["streaming.batches"].append(
                sum(x["batches"] for x in stream))
            per_pass["streaming.batch_p50_s"].append(
                median([d for x in stream for d in x["durations"]]))
            per_pass["streaming.state_rows"].append(
                sum(x["state_rows"] for x in stream))
            per_pass["streaming.state_commit_s"].append(
                sum(x["state_commit_s"] for x in stream))
            per_pass["streaming.state_memory_bytes"].append(
                max(x["state_memory_bytes"] for x in stream))
        for s in ss:
            sum_err = max(sum_err, s["sum_err"])
            if "ingest" in s:
                per_pass["sources.parse_s"].append(s["ingest"]["parse_s"])
                per_pass["etl.rows_in"].append(s["ingest"]["rows_flattened"])
    if not per_pass["sources.parse_s"]:
        per_pass["sources.parse_s"] = source_probe
    m = {k: median(v) for k, v in per_pass.items() if v}
    if workload.name == "cricket_reference":
        _, files = workload.written()
        t = workload.truth
        m.update({
            "sources.input_bytes": t["input_bytes"],
            "sources.quarantined": t["quarantined"],
            "sinks.files_written": files,
            "sinks.write_amp": m["sinks.bytes_written"] / t["input_bytes"],
            "etl.rows_out": t["deliveries"],
            "etl.keep_ratio": t["deliveries"] / m["etl.rows_in"],
        })
    else:
        m["sources.input_bytes"] = sum(
            os.path.getsize(os.path.join(workload.sf_dir, f"{t}.parquet"))
            for t in workload.source_tables())
    m["trace.overhead_s"] = (
        median([p["wall_s"] for p in passes])
        - median([p["wall_s"] for p in untraced])
    )
    m["layers.sum_err"] = sum_err
    return m


def probe_sources(spark, workload) -> float:
    """First action over each source table of a catalog-style workload:
    the ``sources/tables.py`` layer's share of the work."""
    from cricket_analytics_nosql_spark.sources.tables import load_table

    t0 = time.time()
    for t in workload.source_tables():
        load_table(spark, workload.sf_dir, t).count()
    return time.time() - t0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it. The
    next ``get_spark`` launches a new JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    env = pin_environment()
    from bench import ExternalLoadMeter
    from cricket_analytics_nosql_spark.session import get_spark
    from probes import JobProbe, RssSampler, StreamProbe

    workload = WORKLOADS[args.workload]()
    rng = random.Random(args.seed)
    meter = ExternalLoadMeter()
    tally = Tally()
    record = {"workload": workload.name, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "env": env}

    with RssSampler() as rss:
        t = time.perf_counter()
        record["inputs"] = workload.prepare(WORK, args.seed)
        record["input_gen_s"] = time.perf_counter() - t

        setups = []
        for i in range(SETUPS):
            t = time.perf_counter()
            spark = get_spark("perfbench")
            spark.range(100_000).selectExpr("sum(id)").collect()
            setups.append(time.perf_counter() - t)
            if i < SETUPS - 1:
                stop_spark(spark)
        record["setups_s"] = setups
        env["spark"] = spark.version
        env["java"] = spark.sparkContext._jvm.System.getProperty(
            "java.version")

        record["check_pass_s"] = check_pass(
            spark, workload, workload.ops(random.Random(args.seed)), tally)
        warm_rng = random.Random(args.seed)
        record["warm_passes_s"] = [
            run_checked_pass(spark, workload, warm_rng, False, None,
                             tally)["wall_s"]
            for _ in range(workload.warm_passes)
        ]

        probes = None
        if args.trace:
            probes = (JobProbe(spark), StreamProbe())
            spark.streams.addListener(probes[1])
        m0 = meter.start()
        passes: list[dict] = []
        source_probe: list[float] = []
        t_start = time.perf_counter()
        while True:
            # traced runs alternate untraced and traced passes, so the
            # difference of their medians is the tracing overhead
            traced = bool(args.trace) and len(passes) % 2 == 1
            if traced:
                if workload.name != "cricket_reference":
                    source_probe.append(probe_sources(spark, workload))
                probes[0].take("")  # jobs run between passes belong to no op
            p = run_checked_pass(spark, workload, rng, traced, probes, tally)
            passes.append(p)
            elapsed = time.perf_counter() - t_start
            if (len(passes) >= (MIN_TRACED_PASSES if args.trace
                                else MIN_TIMED_PASSES)
                    and elapsed + 0.5 * p["wall_s"] >= args.seconds):
                break
        record["measured_s"] = time.perf_counter() - t_start
        record["ext_cores"] = round(meter.external_cores(m0), 2)
        record["load_avg"] = os.getloadavg()
        if args.trace:
            spark.streams.removeListener(probes[1])
        stop_spark(spark)

    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    for p in passes:
        for s in p["samples"]:
            if s["error"] is not None:
                s["latency_s"] = None
    if args.trace:
        values = per_layer(workload, traced, untraced, source_probe)
        record["layer_values"] = values
        record["layer_map"] = {
            k: {"moves": e2e, "on": w} for k, (_, _, e2e, w) in LAYERS.items()
        }
        metrics = {k: (values[k], LAYERS[k][0]) for k in PER_LAYER}
    else:
        values, info = end_to_end(untraced)
        values["setup_s"] = median(record["setups_s"])
        metrics = {k: (values[k], u) for k, (u, _) in END_TO_END.items()}
        record.update(info)
    record["failed_ratio"] = tally.failed / max(1, tally.attempted)
    record["peak_rss_mb"] = rss.peak / 2**20
    record["errors"] = tally.errors
    record["passes"] = [
        {"traced": p["traced"], "wall_s": p["wall_s"],
         "samples": [{k: v for k, v in s.items() if k != "rows"}
                     for s in p["samples"]]}
        for p in passes
    ]
    line = json.dumps(record, default=str)
    with open(os.path.join(
            WORK, f"record-{workload.name}-trace{args.trace}.json"), "w") as f:
        f.write(line)
    print(line)
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    preflight()
    sys.exit(main())

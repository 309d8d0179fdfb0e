"""Benchmark of the nshm2022db_spark engine: the lookup and revise workloads.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 12 --trace 0

Runs one workload on local[nproc] through the program's own
`session.get_spark`: the program first creates the workload's data set
from seeded inputs, then the workload is measured for ``--seconds`` (at
least the workload's ``min_ops`` operations). Every answer is checked.
The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``. The line before it is
a stamp (seed, commit, host, versions, load average). ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` wraps each layer's public
functions in spans, reports the per-layer metrics and writes the spans
to ``.perfbench_out/`` at the root of the checkout; a traced lookup run
ends with a sweep of registered queries. See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_CYCLES = 4
DEADLINE_S = 170  # the run must end within 180 s

# (module, attribute holding the function, span name). Each wrapper sits
# on the attribute the caller looks up, so calls between layers are seen.
LAYER_WRAPPERS = [
    ("nshm2022db_spark.api.database:NSHMDB", m, f"api.{m}")
    for m in ("get_fault", "get_fault_info", "get_rupture", "get_rupture_fault_info",
              "most_likely_fault", "query", "create", "insert_solution")
] + [
    ("nshm2022db_spark.api.database", "advanced_query", "plans.advanced_query"),
    ("nshm2022db_spark.plans.advanced_query", "parse_query", "dsl.parse_query"),
    ("nshm2022db_spark.operators", "nearest_ge_lookup", "operators.nearest_ge_lookup"),
    ("nshm2022db_spark.sources.nshm_api", "weighted_branch_merge", "operators.weighted_branch_merge"),
    ("nshm2022db_spark.api.database", "dense_surrogate_keys", "operators.dense_surrogate_keys"),
    ("nshm2022db_spark.sources.nshm_api", "composite_solution", "sources.composite_solution"),
    ("nshm2022db_spark.sources.geojson", "read_fault_geojson", "sources.read_fault_geojson"),
    ("nshm2022db_spark.etl.ingest", "read_rupture_csvs", "etl.read_rupture_csvs"),
    ("nshm2022db_spark.etl.ingest", "read_mfd_csv", "etl.read_mfd_csv"),
    ("nshm2022db_spark.functions.geo", "traces_to_planes", "functions.traces_to_planes"),
] + [
    ("nshm2022db_spark.streaming.sinks", f, f"sinks.{f}")
    for f in ("current_commit", "try_commit", "committed_batch_ids", "merge_into_table",
              "update_table", "delete_table", "read_keyed_table", "read_table_changes_typed",
              "vacuum_versions", "append_partition_transaction", "merge_stream_to_table")
]
SELF_LAYERS = ("bench", "api", "plans", "dsl", "operators", "sinks")


class Ctx:
    """What a workload gets: seed, size, its temp dir and the session."""

    def __init__(self, args, tmp: str):
        self.seed, self.size, self.tmp = args.seed, args.size, tmp
        self.spark = None


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("lookup", "revise"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny is the smoke mode the benchmark's tests use")
    return p.parse_args(argv)


def configure_env(tmp: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write under
    ``tmp``, put the checkout on the workers' path, and size the session."""
    for d in ("local", "warehouse", "tmp"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(tmp, "warehouse")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')} -XX:-UsePerfData")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["PYSPARK_PYTHON"] = sys.executable


def stamp(args) -> dict:
    digest = hashlib.sha1()
    for base in ("nshm2022db_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, base))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(d, f), "rb") as fh:
                        digest.update(fh.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, check=False)
        commit = out.stdout.strip() or None
    import pyspark

    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "git_commit": commit,
        "source_sha1": digest.hexdigest(), "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": os.getloadavg(), "python": platform.python_version(),
        "pyspark": pyspark.__version__,
    }


def start_spark():
    from nshm2022db_spark.session import get_spark

    return get_spark("perfbench")


def stop_jvm(spark, probe) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes) and
    wait for it and for the Python workers it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = probe.descendants() if probe else []
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 10
        for pid in kids:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:  # it ended after the check
                    pass


def install_wrappers(tracer) -> None:
    from nshm2022db_spark.dsl import atom_names

    def conflicts(t, ok):
        if ok is False:
            t.count("sinks.try_commit.conflicts")

    def atoms(t, tree):
        t.count("dsl.atoms", len(atom_names(tree)))

    hooks = {"sinks.try_commit": conflicts, "dsl.parse_query": atoms}
    for target, attr, name in LAYER_WRAPPERS:
        mod, _, cls = target.partition(":")
        owner = importlib.import_module(mod)
        if cls:
            owner = getattr(owner, cls)
        tracer.wrap(owner, attr, name, hooks.get(name))


def run(args, tmp: str, info: dict, live: dict) -> dict:
    """One run; ``info`` (the stamp) gains the phase times, ``live`` holds
    the session and the process probe for the caller to shut down."""
    from spans import ProcProbe, Tracer, job_stats, union_length
    from workloads import WORKLOADS

    phases = info["phases_s"] = {}
    clock = time.perf_counter()

    def phase(name):
        nonlocal clock
        now = time.perf_counter()
        phases[name] = round(now - clock, 3)
        clock = now

    tracer = Tracer() if args.trace else None
    ctx = Ctx(args, tmp)
    ctx.spark = live["spark"] = start_spark()
    from pyspark import SparkContext

    probe = live["probe"] = ProcProbe(SparkContext._gateway.proc.pid)
    phase("start")
    wl = WORKLOADS[args.workload](ctx)
    wl.prepare()
    prep = {}
    start = time.perf_counter()
    if tracer:
        install_wrappers(tracer)
        tracer.op_id = "prepare"
        with tracer.span("bench.create", root=True):
            wl.create()
    else:
        wl.create()
    prepare_s = time.perf_counter() - start
    if tracer:
        tracer.op_id = None
        _drain(ctx.spark)
        prep, _ = job_stats(ctx.spark, 0)
    errors = wl.check_create()
    phase("prepare")
    setup = []
    for _ in range(SETUP_CYCLES):
        ctx.spark.stop()
        start = time.perf_counter()
        ctx.spark = live["spark"] = start_spark()
        wl.first_answer()
        setup.append(time.perf_counter() - start)
    phase("setup")
    wl.warmup()
    wl.calls.clear()
    phase("warmup")

    next_job = 0
    if tracer:
        _drain(ctx.spark)
        _, next_job = job_stats(ctx.spark, 0)
    ops, plain, attempted, failed = [], [], 1, int(bool(errors))  # creating the data set is one operation
    cpu0 = probe.sample()
    end = time.perf_counter() + args.seconds
    i = 0
    # a traced run alternates traced operations with plain ones (wrappers
    # off), so the tracing overhead is measured; it runs at least one of each
    min_ops = max(wl.min_ops, 2 if tracer else 1)
    while i < min_ops or time.perf_counter() < end:
        kind, run_op, check = wl.next_op(i)
        traced = tracer is not None and i % 2 == 0
        rec = {"i": i, "kind": kind, "wall_start": time.time()}
        n_calls = len(wl.calls)
        if traced:
            tracer.op_id = i
            ctx.spark.sparkContext.setJobGroup(f"perfbench-{i}", kind)
        attempted += 1
        start = time.perf_counter()
        try:
            if traced:
                with tracer.span(f"bench.{kind}", root=True):
                    answer = run_op()
            else:
                answer = run_op()
            rec["latency"] = time.perf_counter() - start
            errs = check(answer)
        except Exception as e:  # noqa: BLE001 — a failed operation is counted, not fatal
            rec.setdefault("latency", time.perf_counter() - start)
            errs = [f"{kind}: {type(e).__name__}: {e}"]
        rec["wall_end"] = rec["wall_start"] + rec["latency"]
        if errs:
            failed += 1
            errors += errs
        if tracer:
            t = time.perf_counter()
            tracer.op_id = None
            _drain(ctx.spark)
            stats, next_job = job_stats(ctx.spark, next_job)
            stats["job_s"] = union_length(stats["intervals"], rec["wall_start"], rec["wall_end"])
            rec.update(stats)
            rec["collect_s"] = time.perf_counter() - t
        probe.sample()
        if traced or not tracer:
            ops.append(rec)
        else:  # a plain operation of a traced run: its latency only
            plain.append(rec["latency"])
            del wl.calls[n_calls:]
        i += 1
    cpu1 = probe.sample()
    if tracer:
        tracer.restore()
    phase("measure")
    extras = wl.finish()
    final_errors = extras.pop("_errors", [])
    attempted += 1  # the end-of-run check counts as one more operation
    failed += int(bool(final_errors))
    errors += final_errors
    if tracer and args.workload == "lookup":
        sweep_out, sweep_errors = run_sweep(ctx, next_job)
        extras.update(sweep_out)
        attempted += 1  # the sweep pass is one more operation
        failed += int(bool(sweep_errors))
        errors += sweep_errors
        phase("sweep")
    for e in errors[:20]:
        print("perfbench: " + e, file=sys.stderr)

    if not tracer:
        metrics = {
            "setup_s": (statistics.median(setup), "s"),
            "op_p50_s": (statistics.median(o["latency"] for o in ops), "s"),
            "peak_rss_mb": (probe.peak_rss_mb(), "MB"),
        }
    else:
        extras["prepare.jobs"] = prep["jobs"]
        metrics = layer_metrics(tracer, ops, plain, wl.calls, cpu0, cpu1, probe, extras,
                                failed / attempted, prepare_s)
        dump_trace(args, tracer, ops, info)
    phase("finish")
    return {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def _drain(spark) -> None:
    """Wait until the listener bus has delivered every job event to the
    status store, so an operation's jobs are all visible."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def run_sweep(ctx, next_job: int) -> tuple[dict, list[str]]:
    """The sweep pass of a traced lookup run: each sampled registered
    query once, with its wall time and Spark jobs."""
    from spans import job_stats
    from sweep import Sweep

    marks = {}

    def mark(name):
        _drain(ctx.spark)
        marks[name] = job_stats(ctx.spark, next_job)[1]

    out, errs = Sweep(ctx.tmp, ctx.seed).run(ctx.spark, mark)
    _drain(ctx.spark)
    last = job_stats(ctx.spark, next_job)[1]
    starts = [marks[o["query"]] for o in out] + [last]
    figures = {"sweep.s": sum(o["s"] for o in out)}
    for k, o in enumerate(out):
        figures[f"sweep.{o['query']}.s"] = o["s"]
        figures[f"sweep.{o['query']}.jobs"] = starts[k + 1] - starts[k]
    return figures, errs


def layer_metrics(tracer, ops, plain, calls, cpu0, cpu1, probe, extras, error_rate,
                  prepare_s) -> dict:
    """The per-layer metrics. ``/op`` figures divide by the traced
    operations of the window; ``build.*`` and ``.plan_ms`` of the build's
    operators come from the data-set creation of the lookup workload,
    ``sweep.*`` from its sweep pass."""
    from sweep import SAMPLE
    from workloads import LOOKUP_KINDS, tail

    n = len(ops)
    job_starts = sorted(s for o in ops for s, _ in o["intervals"])

    def med(values):
        values = list(values)
        return statistics.median(values) if values else 0.0

    def mean_dur(name, scale, phase="ops"):
        d = tracer.durations(name, phase)
        return scale * statistics.mean(d) if d else 0.0

    def call_lat(kinds):
        return [c["latency"] for c in calls if c["kind"] in kinds]

    m = {}
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"spark.{k}"] = (statistics.mean(o[k] for o in ops), "count/op")
    m["spark.job_s"] = (statistics.mean(o["job_s"] for o in ops), "s/op")
    m["driver.gap_s"] = (statistics.mean(o["latency"] - o["job_s"] for o in ops), "s/op")
    for side in ("jvm", "driver_py", "py_workers"):
        m[f"cpu.{side}_s"] = ((cpu1[side] - cpu0[side]) / n, "s/op")
    m["mem.jvm_rss_mb"] = (probe.jvm_peak_mb(), "MB")
    m["mem.py_workers_rss_mb"] = (probe.workers_peak_mb, "MB")
    for k in LOOKUP_KINDS:
        m[f"api.{k}.p50_s"] = (med(call_lat({k})), "s")
        jobs = [sum(c["t0"] <= s <= c["t1"] for s in job_starts)
                for c in calls if c["kind"] == k]
        m[f"api.{k}.jobs"] = (statistics.mean(jobs) if jobs else 0.0, "count")
    parses = tracer.total("dsl.parse_query.calls")
    m["dsl.parse_query.us"] = (mean_dur("dsl.parse_query", 1e6), "us")
    m["dsl.atoms"] = (tracer.total("dsl.atoms") / parses if parses else 0.0, "count")
    m["plans.advanced_query.plan_ms"] = (mean_dur("plans.advanced_query", 1e3), "ms")
    m["operators.nearest_ge_lookup.plan_ms"] = (mean_dur("operators.nearest_ge_lookup", 1e3), "ms")

    # the build: data-set creation of the lookup workload
    built = "build.input_rows" in extras
    m["prepare_s"] = (prepare_s, "s")
    m["build.s"] = (mean_dur("bench.create", 1, "prepare") if built else 0.0, "s")
    m["build.jobs"] = (extras["prepare.jobs"] if built else 0, "count")
    m["sources.composite_solution.s"] = (mean_dur("sources.composite_solution", 1, "prepare"), "s")
    m["sources.read_fault_geojson.ms"] = (
        mean_dur("sources.read_fault_geojson", 1e3, "prepare"), "ms")
    m["api.insert_solution.s"] = (mean_dur("api.insert_solution", 1, "prepare"), "s")
    m["operators.weighted_branch_merge.plan_ms"] = (
        mean_dur("operators.weighted_branch_merge", 1e3, "prepare"), "ms")
    m["operators.dense_surrogate_keys.calls"] = (
        tracer.total("operators.dense_surrogate_keys.calls", "prepare"), "count")
    m["functions.traces_to_planes.plan_ms"] = (
        mean_dur("functions.traces_to_planes", 1e3, "prepare"), "ms")
    m["build.bytes_written"] = (extras.get("build.bytes_written", 0), "bytes")
    m["build.input_rows"] = (extras.get("build.input_rows", 0), "count")
    build_self = tracer.self_times("prepare")
    for layer in ("api", "sources", "etl", "functions", "operators"):
        m[f"build.self.{layer}_s"] = (build_self.get(layer, 0.0) if built else 0.0, "s")

    m["sinks.current_commit.calls"] = (tracer.total("sinks.current_commit.calls") / n, "count/op")
    m["sinks.current_commit.ms"] = (mean_dur("sinks.current_commit", 1e3), "ms")
    m["sinks.try_commit.calls"] = (tracer.total("sinks.try_commit.calls") / n, "count/op")
    m["sinks.try_commit.conflicts"] = (tracer.total("sinks.try_commit.conflicts") / n, "count/op")
    m["sinks.committed_batch_ids.ms"] = (mean_dur("sinks.committed_batch_ids", 1e3), "ms")
    for f in ("merge_into_table", "update_table", "delete_table", "vacuum_versions"):
        m[f"sinks.{f}.s"] = (mean_dur(f"sinks.{f}", 1), "s")
    for f in ("read_keyed_table", "read_table_changes_typed"):
        m[f"sinks.{f}.ms"] = (mean_dur(f"sinks.{f}", 1e3), "ms")
    m["commitlog.manifest_bytes"] = (extras.get("commitlog.manifest_bytes", 0), "bytes")
    m["commitlog.entries"] = (extras.get("commitlog.entries", 0), "count")
    m["table.bytes_per_commit"] = (extras.get("table.bytes_per_commit", 0), "bytes")
    for k in ("addBatch", "walCommit", "commitOffsets", "latestOffset", "queryPlanning",
              "getBatch", "start"):
        m[f"stream.{k}_ms"] = (extras.get(f"stream.{k}_ms", 0), "ms")
    m["stream.batches"] = (extras.get("stream.batches", 0), "count")

    lookups = call_lat(set(LOOKUP_KINDS))
    lt, lt_pct = tail(lookups) if lookups else (0.0, 0.0)
    rounds = [o["latency"] for o in ops if o["kind"] == "round"]
    rt, rt_pct = tail(rounds) if rounds else (0.0, 0.0)
    m["lookup.p50_s"] = (med(lookups), "s")
    m["lookup.tail_s"] = (lt, "s")
    m["lookup.tail_pct"] = (lt_pct, "pct")
    m["query.p50_s"] = (med(call_lat({"query"})), "s")
    m["read.p50_s"] = (med(call_lat(set(LOOKUP_KINDS) - {"query"} | {"latest", "as_of", "feed"})), "s")
    m["revise.p50_s"] = (med(rounds), "s")
    m["revise.tail_s"] = (rt, "s")
    m["revise.tail_pct"] = (rt_pct, "pct")
    m["write_amp"] = (extras.get("write_amp", 0), "ratio")
    m["space_amp"] = (extras.get("space_amp", 0), "ratio")
    m["error_rate"] = (error_rate, "ratio")
    self_t = tracer.self_times()
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = (self_t.get(layer, 0.0) / n, "s/op")
    spans = sum(1 for s in tracer.spans if s["op"] != "prepare")
    m["trace.overhead_s"] = (med(o["latency"] for o in ops) - med(plain), "s/op")
    m["trace.collect_s"] = (statistics.mean(o["collect_s"] for o in ops), "s/op")
    m["trace.op_p50_s"] = (med(o["latency"] for o in ops), "s")
    m["trace.plain_op_p50_s"] = (med(plain), "s")
    m["trace.spans"] = (spans / n, "count/op")
    m["sweep.s"] = (extras.get("sweep.s", 0.0), "s")
    for q in SAMPLE:
        m[f"sweep.{q}.s"] = (extras.get(f"sweep.{q}.s", 0.0), "s")
        m[f"sweep.{q}.jobs"] = (extras.get(f"sweep.{q}.jobs", 0), "count")
    return m


def dump_trace(args, tracer, ops, info: dict) -> None:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"stamp": info, "ops": ops, "spans": tracer.dump()}, f)
    print(f"perfbench: spans written to {path}", file=sys.stderr)


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "nshm2022db_spark")):
        print(f"perfbench: no nshm2022db_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=scratch)
    configure_env(tmp)
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)
    live: dict = {}
    try:
        info = stamp(args)
        result = run(args, tmp, info, live)
        info["java"] = live["spark"]._jvm.System.getProperty("java.version")
    finally:
        try:
            if "pyspark" in sys.modules:
                from pyspark import SparkContext
                from pyspark.sql import SparkSession

                if SparkContext._gateway is not None:
                    stop_jvm(SparkSession.getActiveSession(), live.get("probe"))
        finally:
            signal.alarm(0)
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.listdir(scratch):
                os.rmdir(scratch)
    info["loadavg_end"] = os.getloadavg()
    print(json.dumps({"stamp": info}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

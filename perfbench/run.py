"""Cold/warm benchmark of bearly-spark over three workloads.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One closed-loop client (this process) makes one call at a time on
``local[nproc]``. A run generates the seed's inputs, starts the session
(``setup_s``), runs one cold pass in the fresh session and then a fixed
number of warm passes (about ``--seconds`` of work), checks every output
outside the timed passes, and prints one JSON line as the last line of
standard output. ``--trace 1`` turns on spans and Spark's event log and
reports the per-layer metrics instead of the end-to-end ones. See
``perfbench/README.md`` for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

import fixtures
from tracing import Tracer, covered, per_call_median_total, read_eventlog, self_times, union_length
from workloads import WORKLOADS, Context, Step

ROOT = Path(__file__).resolve().parent.parent

#: Fixed environment shared by both sides of any comparison.
SHUFFLE_PARTITIONS = "8"
DRIVER_MEM = "8g"

#: Full JVM collections before retained memory is read, and the pause
#: after each.
RETAINED_GCS = 6
RETAINED_SETTLE_S = 0.5

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "retained_mb": "MB",
}

LAYERS = ["pass", "call", "registry", "action", "interchange", "operators", "sources", "spark"]

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.first_action_s": "s",
    "registry.build_s.cold": "s",
    "registry.build_s.warm": "s",
    "registry.build_jobs.cold": "count",
    "registry.build_jobs.warm": "count",
    "registry.index_builds.cold": "count",
    "registry.index_builds.warm": "count",
    "registry.index_mb": "MB",
    "action.s.cold": "s",
    "action.s.warm": "s",
    "action.jobs": "count",
    "action.stages": "count",
    "action.tasks": "count",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.scan_mrows": "Mrows",
    "spark.python_mb_sent": "MB",
    "spark.python_mb_received": "MB",
    "interchange.from_arrow_s": "s",
    "interchange.to_arrow_s": "s",
    "interchange.mb_s": "MB/s",
    "operators.sum_int64_s": "s",
    "sources.txlog.append_s": "s",
    "sources.txlog.merge_s": "s",
    "sources.txlog.delete_s": "s",
    "sources.txlog.compact_s": "s",
    "sources.txlog.plan_s": "s",
    "sources.txlog.read_s": "s",
    "sources.txlog.files_kept_ratio": "ratio",
    "sources.txlog.write_amplification": "ratio",
    **{f"self_s.{layer}": "s" for layer in LAYERS},
    "trace.warm_pass_s": "s",
    "trace.untraced_warm_pass_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_share": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pinned_env(run_dir: Path, trace: bool) -> dict[str, str]:
    """The environment every run executes under: all cores, a fixed
    shuffle width and driver heap, this checkout on the workers' import
    path, a fixed hash seed, no console progress bar, and every
    temporary file inside the run directory."""
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={run_dir / 'warehouse'}",
        "--conf", f"spark.driver.extraJavaOptions=-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}",
    ]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", f"spark.eventLog.dir=file://{run_dir / 'evlog'}",
        ]
    return {
        **os.environ,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "BEARLY_SHUFFLE_PARTITIONS": SHUFFLE_PARTITIONS,
        "BEARLY_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": str(ROOT),
        "PYTHONHASHSEED": "0",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "TMPDIR": str(run_dir / "tmp"),
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
        # spark-submit's launcher is a JVM of its own; without this it
        # writes a perf-data file under /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PERFBENCH_RUN_DIR": str(run_dir),
    }


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, from ``/proc``."""
    parent = {}
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                parent[int(d.name)] = int((d / "stat").read_text().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def retained_mb(spark) -> float:
    """Memory the run's state still holds after its passes, in MB: the
    JVM's heap in use after a full collection plus its non-heap memory in
    use, and the resident memory of the driver Python and the Python
    workers. Python collects first, so JVM objects that only a Python
    reference cycle held are released. The JVM then collects
    :data:`RETAINED_GCS` times, a pause apart: the context cleaner drops
    shuffles and broadcasts only after a collection has found them
    unreachable, and what they held goes in a later one."""
    jvm = spark.sparkContext._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    gc.collect()
    rounds = []
    for _ in range(RETAINED_GCS):
        jvm.java.lang.System.gc()
        time.sleep(RETAINED_SETTLE_S)
        rounds.append(mem.getHeapMemoryUsage().getUsed())
    heap, non_heap = rounds[-1], mem.getNonHeapMemoryUsage().getUsed()
    python, page = 0, os.sysconf("SC_PAGE_SIZE")
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            if Path(f"/proc/{pid}/comm").read_text().strip() != "java":
                python += int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    log(f"retained: JVM heap {' -> '.join(f'{u / 1e6:.0f}' for u in rounds)} MB, non-heap {non_heap / 1e6:.0f} MB, "
        f"Python {python / 1e6:.0f} MB")
    return (heap + non_heap + python) / 1e6


def run_pass(ctx, wl, p: int, tracer) -> dict:
    """One pass: every call of the workload, one at a time."""
    rec = {"index": p, "traced": tracer.on, "calls": {}, "steps": {}, "failed": 0, "attempted": 0}
    start = time.time()
    t0 = time.perf_counter()
    with tracer.span(f"pass{p}", "pass") as ps:
        for i, (name, fn) in enumerate(wl.calls(ctx, p)):
            steps: dict[str, float] = {}
            rec["attempted"] += 1
            t = time.perf_counter()
            try:
                with tracer.span(name, "call", call_id=p * 1000 + i):
                    fn(ctx, Step(ctx, steps))
            except Exception:  # a failing call is counted, and the pass goes on
                traceback.print_exc(file=sys.stderr)
                rec["failed"] += 1
            rec["calls"][name] = time.perf_counter() - t
            rec["steps"][name] = steps
    rec["wall"] = time.perf_counter() - t0
    rec["span"] = ps.id if ps else None
    rec["index_builds"] = sum(1 for m in index_markers(ctx) if m.stat().st_mtime >= start)
    return rec


def index_markers(ctx) -> list[Path]:
    """The registry's on-disk index markers for this run's fixture."""
    return list((ROOT / ".scratch").glob(f"*-{ctx.fixture.name}/_BUILT")) if ctx.fixture else []


def warm_stat(passes: list[dict], key=lambda rec, call: rec["calls"].get(call)) -> float:
    """``warm_pass_s`` over ``passes``: the sum over calls of each call's
    median over the passes it ran in."""
    samples: dict[str, list[float]] = {}
    for rec in passes:
        for call in rec["calls"]:
            v = key(rec, call)
            if v is not None:
                samples.setdefault(call, []).append(v)
    return per_call_median_total(samples)


def step_stat(passes: list[dict], prefix: str) -> float:
    """Like :func:`warm_stat` over the time a call spent in steps whose
    key starts with ``prefix``."""
    def key(rec, call):
        steps = rec["steps"][call]
        hit = [v for k, v in steps.items() if k.startswith(prefix)]
        return sum(hit) if hit else None
    return warm_stat(passes, key)


def per_layer(passes, tracer, jobs, session, wl, index_mb) -> dict[str, float]:
    """The traced run's per-layer metrics; a layer the workload does not
    use reads 0."""
    spans = {s.id: s for s in tracer.spans}

    def root_and_layer(sid):
        layer = spans[sid].layer
        while spans[sid].parent is not None:
            sid = spans[sid].parent
        return sid, layer

    for j in jobs:
        sid = int(j["group"]) if (j["group"] or "").isdigit() and int(j["group"]) in spans else None
        j["span"] = sid
        j["pass_span"], j["layer"] = root_and_layer(sid) if sid is not None else (None, None)

    cold = passes[0]
    traced = [r for r in passes[1:] if r["traced"]]
    untraced = [r for r in passes[1:] if not r["traced"]]

    def jobs_of(rec, layer=None):
        return [j for j in jobs if j["pass_span"] == rec["span"] and (layer is None or j["layer"] == layer)]

    def med(values):
        values = list(values)
        return statistics.median(values) if values else 0.0

    def warm_jobs(field, layer=None):
        return med(sum(j[field] for j in jobs_of(r, layer)) for r in traced)

    selfs = self_times(tracer.spans, [j for j in jobs if j["span"] is not None])
    self_by_layer = {layer: [] for layer in LAYERS}
    gaps = []
    for r in traced:
        ps = spans[r["span"]]
        members = [s for s in tracer.spans if root_and_layer(s.id)[0] == r["span"]]
        intervals = [(j["start"], j["end"]) for j in jobs_of(r)]
        for layer in LAYERS:
            self_by_layer[layer].append(
                union_length(intervals) if layer == "spark"
                else sum(selfs[s.id] for s in members if s.layer == layer))
        gaps.append(ps.duration - covered(ps.start, ps.end, intervals))

    out = {
        "session.get_spark_s": session["get_spark_s"],
        "session.first_action_s": session["first_action_s"],
        "registry.build_s.cold": sum(v.get("registry.build", 0.0) for v in cold["steps"].values()),
        "registry.build_s.warm": step_stat(traced, "registry."),
        "registry.build_jobs.cold": float(len(jobs_of(cold, "registry"))),
        "registry.build_jobs.warm": med(len(jobs_of(r, "registry")) for r in traced),
        "registry.index_builds.cold": float(cold["index_builds"]),
        "registry.index_builds.warm": float(max((r["index_builds"] for r in passes[1:]), default=0)),
        "registry.index_mb": index_mb,
        "action.s.cold": sum(v.get("action.noop", 0.0) for v in cold["steps"].values()),
        "action.s.warm": step_stat(traced, "action."),
        "action.jobs": med(len(jobs_of(r, "action")) for r in traced),
        "action.stages": warm_jobs("stages", "action"),
        "action.tasks": warm_jobs("tasks", "action"),
        "spark.driver_gap_s": med(gaps),
        "spark.executor_run_s": warm_jobs("run_s"),
        "spark.executor_cpu_s": warm_jobs("cpu_s"),
        "spark.gc_s": warm_jobs("gc_s"),
        "spark.shuffle_write_mb": warm_jobs("shuffle_write_mb"),
        "spark.shuffle_read_mb": warm_jobs("shuffle_read_mb"),
        "spark.spill_mb": warm_jobs("spill_mb"),
        "spark.scan_mrows": warm_jobs("scan_mrows"),
        "spark.python_mb_sent": warm_jobs("python_mb_sent"),
        "spark.python_mb_received": warm_jobs("python_mb_received"),
        "interchange.from_arrow_s": step_stat(traced, "interchange.from_arrow"),
        "interchange.to_arrow_s": step_stat(traced, "interchange.to_arrow"),
        "operators.sum_int64_s": step_stat(traced, "operators.sum_int64"),
        **{f"sources.txlog.{op}_s": step_stat(traced, f"sources.txlog.{op}")
           for op in ("append", "merge", "delete", "compact", "plan", "read")},
        **{f"self_s.{layer}": med(v) for layer, v in self_by_layer.items()},
    }
    out.update(wl.layer_metrics(passes))
    out["trace.warm_pass_s"] = warm_stat(traced)
    out["trace.untraced_warm_pass_s"] = warm_stat(untraced)
    out["trace.overhead_s"] = out["trace.warm_pass_s"] - out["trace.untraced_warm_pass_s"]
    base = out["trace.untraced_warm_pass_s"]
    out["trace.overhead_share"] = out["trace.overhead_s"] / base if base else 0.0
    return {k: out.get(k, 0.0) for k in PER_LAYER}


def index_checks(passes: list[dict], builds_index: bool) -> tuple[int, list[str]]:
    """The registry's cache invariant, one check per pass: no warm pass
    builds an on-disk index, and a workload that uses one builds it on
    the cold pass. Returns (checks made, failures)."""
    failures = [f"warm pass {r['index']} built {r['index_builds']} index(es): a cache missed"
                for r in passes[1:] if r["index_builds"]]
    if builds_index and not passes[0]["index_builds"]:
        failures.append("cold pass built no index")
    return len(passes) - (0 if builds_index else 1), failures


def tally(passes: list[dict], checks: int, failures: list[str]) -> tuple[int, int]:
    """(operations attempted, operations failed): every timed call plus
    every output check; a call that raised or a check that did not match
    is a failure. ``failed / attempted`` is the run's failed-ops share."""
    return (sum(r["attempted"] for r in passes) + checks,
            sum(r["failed"] for r in passes) + len(failures))


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and the Python workers to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def run(args, run_dir: Path) -> dict:
    wl = WORKLOADS[args.workload]()
    for d in ("tmp", "spark-local", "evlog", "work"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    fixture = None
    t = time.perf_counter()
    if wl.scale:
        fixture = fixtures.materialize(
            ROOT / ".scratch" / "perfbench" / "fixtures", run_dir / f"fx{run_dir.name}",
            args.seed, wl.scale, wl.replicas, wl.tables)
    log(f"fixture {time.perf_counter() - t:.1f} s")

    t0 = time.perf_counter()
    import bearly_spark

    spark = bearly_spark.get_spark("perfbench")
    t1 = time.perf_counter()
    got = spark.range(1, 1001).selectExpr("sum(id) AS s").collect()[0]["s"]
    t2 = time.perf_counter()
    if got != 500500:
        raise RuntimeError(f"first action returned {got}")
    session = {"setup_s": t2 - t0, "get_spark_s": t1 - t0, "first_action_s": t2 - t1}
    spark.sparkContext.setLogLevel("ERROR")
    try:
        sc = spark.sparkContext

        def job_group(span):
            if span is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(str(span.id), span.name)

        tracer = Tracer(on_enter=job_group)
        ctx = Context(spark, fixture, run_dir / "work", tracer, args.seed)
        wl.prepare(ctx)
        n_warm = max(3, round(args.seconds / wl.pass_s))
        passes = []
        index_mb = 0.0
        for p in range(1 + n_warm * (2 if args.trace else 1)):
            # traced and untraced warm passes alternate in pairs, so
            # neither half lines up with a workload's periodic calls
            tracer.on = bool(args.trace) and (p == 0 or (p - 1) // 2 % 2 == 0)
            passes.append(run_pass(ctx, wl, p, tracer))
            if p == 0:
                index_mb = sum(f.stat().st_size for m in index_markers(ctx)
                               for f in m.parent.rglob("*") if f.is_file()) / 1e6
        tracer.on = False
        retained = retained_mb(spark)
        t = time.perf_counter()
        checks, failures = wl.verify(ctx)
        if ctx.fixture:
            n, missed = index_checks(passes, wl.builds_index)
            checks, failures = checks + n, failures + missed
        log(f"verify {time.perf_counter() - t:.1f} s")
    finally:
        t = time.perf_counter()
        stop_session(spark)
        log(f"stop {time.perf_counter() - t:.1f} s")
    for f in failures:
        log(f"verification failed: {f}")

    attempted, failed = tally(passes, checks, failures)
    if args.trace:
        jobs = read_eventlog(run_dir / "evlog")
        traces = ROOT / ".scratch" / "perfbench" / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        tracer.dump(traces / f"{args.workload}-s{args.seed}.spans.jsonl", jobs)
        metrics = per_layer(passes, tracer, jobs, session, wl, index_mb)
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": session["setup_s"],
            "cold_pass_s": passes[0]["wall"],
            "warm_pass_s": warm_stat(passes[1:]),
            "retained_mb": retained,
        }
        units = END_TO_END
    for r in passes:
        log(f"pass {r['index']}{' traced' if r['traced'] else ''}: {r['wall']:.3f} s "
            f"{json.dumps({k: round(v, 3) for k, v in r['calls'].items()})}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def cleanup(run_dir: Path) -> None:
    """Remove the run's state: its directory and the registry's on-disk
    indexes built for its fixture."""
    for d in (ROOT / ".scratch").glob(f"*-fx{run_dir.name}"):
        shutil.rmtree(d, ignore_errors=True)
    shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "bearly_spark" / "__init__.py").is_file() or not (
            ROOT / "tools" / "check_oracle.py").is_file():
        print(f"perfbench: no bearly_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    run_dir = os.environ.get("PERFBENCH_RUN_DIR")
    if run_dir is None:
        name = f"{args.workload}-s{args.seed}-{os.getpid()}-{time.time_ns()}"
        run_dir = ROOT / ".scratch" / "perfbench" / "runs" / name
        env = pinned_env(run_dir, bool(args.trace))
        os.execve(sys.executable, [sys.executable, str(Path(__file__).resolve()), *sys.argv[1:]], env)
    run_dir = Path(run_dir)
    try:
        result = run(args, run_dir)
    finally:
        cleanup(run_dir)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""perfbench: closed-loop, single-client benchmark of the spark-graft engine.

    python3 perfbench/run.py --workload agent_nl --seed 1 --seconds 10 --trace 0

One client thread sends the next op only after the previous one
returned, in a fresh Spark session on local[<cpus>]. A run is: set up
the session, run one pass over the workload's ops (``first_pass_s``),
then whole passes until ``--seconds`` have passed and at least 11 ops
were timed (the steady metrics). The seed only shuffles op order within
each pass. Outputs are checked against DuckDB outside the timed region.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it gives the
run's details (seed, tail percentile and sample count, per-op medians).

The input tables are made once per checkout by ``tools/gen_scale.py``
at sf0.01 under ``perfbench/.work/``; every file the run writes stays
under that directory. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import fcntl
import gc
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import Counter
from pathlib import Path

import stats
import tracing
import workloads

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SF = "0.01"
APP_NAME = "perfbench"

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "ops_per_s": "ops/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ok_ratio": "1",
    "mem_mb": "MB",
}

# per-op means over the traced steady passes unless named first_pass_*
# (totals over the traced first pass) or marked as a run total
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.read_s": "s",
    "sources.read_calls": "count",
    "sources.write_csv_s": "s",
    "sources.write_bytes": "B",
    "plans.parse_s": "s",
    "plans.compile_s": "s",
    "agents.planner_s": "s",
    "agents.execute_s": "s",
    "agents.critic_s": "s",
    "agents.jobs_per_op": "count",
    "agents.valid_per_attempt": "1",
    "registry.construct_s": "s",
    "registry.construct_jobs": "count",
    "registry.first_pass_construct_s": "s",
    "registry.first_pass_construct_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.tasks_per_stage": "count",
    "exec.task_run_s": "s",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "cache.first_pass_builds": "count",
    "cache.first_pass_build_s": "s",
    "cache.builds": "count",
    "cache.hits": "count",
    "cache.hit_op_share": "1",
    "op.other_s": "s",
    "mem.peak_rss_mb": "MB",
    "log.error_lines": "count",
    "trace.ops_per_s": "ops/s",
    "trace.overhead_ratio": "1",
    "trace.self_sum_error_s": "s",
}

# layer spans whose self time is reported as <name>_s
LAYER_SPANS = ("sources.read", "sources.write_csv", "plans.parse", "plans.compile",
               "agents.planner", "agents.execute", "agents.critic",
               "registry.construct", "catalyst.plan", "exec.action")

# largest gap allowed between the sum of an op's span self times and the
# op's latency as the harness timed it: the root span misses only the
# two py4j calls that set and clear its job group, a few milliseconds
# unless a GC pause lands on one of them
SELF_SUM_TOLERANCE_S = 0.1

# a run that has used this much wall time starts no further pass, so it
# ends well inside the 180 s a run may take
DEADLINE_S = 120.0

# the live heap is read after a full GC every MEM_GC_EVERY_S (see
# _settle); the heap stayed level for at most two readings before the
# cleaner's blocks were freed, so it must stay level for six
MEM_GC_EVERY_S = 0.25
MEM_QUIET_S = 1.5
MEM_SETTLED_MB = 2.0
MEM_SETTLE_S = 10.0


def main(argv: list[str] | None = None) -> int:
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    missing = [p for p in (tracing.PKG, "tools/gen_scale.py", "tools/check_oracle.py") if not (ROOT / p).exists()]
    if missing:
        print(f"perfbench: program files not found in {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(ROOT / "tools")]
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {workloads.WORKLOADS}", file=sys.stderr)
        return 2
    if args.prepare:  # the child of _prepare: its parent holds the lock and set the environment
        workloads.expectations(args.workload, _ensure_data(HERE / ".work"))
        return 0

    work = HERE / ".work"
    work.mkdir(exist_ok=True)
    # runs share .work/run, so a second concurrent run would wreck the
    # first; the lock is held until this process exits
    lock = (work / "run.lock").open("w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        print("perfbench: another run is using this checkout", file=sys.stderr)
        return 2
    run_dir = work / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("spark-local", "tmp", "out", "events"):
        (run_dir / d).mkdir(parents=True)
    jvm_log = run_dir / "jvm.log"
    _confine_env(run_dir)
    data = work / f"data-sf{SF}"
    cpu_probe_s = _cpu_probe_s()
    t_expect = time.monotonic()
    expect = workloads.expectations(args.workload, data, cached_only=True) if (data / "_READY").is_file() else None
    if expect is None:
        _prepare(args)
        expect = workloads.expectations(args.workload, data, cached_only=True)
    expect_s = time.monotonic() - t_expect
    if args.trace:  # set only now, so the data generator's session logs no events
        os.environ["PYSPARK_SUBMIT_ARGS"] = tracing.event_log_conf(run_dir / "events")

    from agentic_workflow_for_data_transformation_spark.benchutil import warmup
    from agentic_workflow_for_data_transformation_spark.session import get_spark

    t0 = time.perf_counter()
    with _stderr_to(jvm_log):
        spark = get_spark(app_name=APP_NAME)
    t1 = time.perf_counter()
    try:
        warmup(spark)
        t2 = time.perf_counter()
        tracer = tracing.Tracer(spark.sparkContext)
        ops = workloads.make_ops(args.workload, spark, data, run_dir / "out", expect, tracer)
        if args.trace:
            tracer.install()
        res = _run_passes(ops, random.Random(args.seed), args.seconds, bool(args.trace), tracer,
                          t_start)
        mem, heap_readings = _memory_mb(spark.sparkContext._jvm)
    finally:
        _stop_jvm()

    log_errors = tracing.jvm_error_lines(jvm_log)
    attempted = len(res["ops"])
    failed = sum(1 for r in res["ops"] if not r["ok"])
    steady = res["lat"][False]
    tail_value, tail_pct, n_steady = _tail(steady)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": float(SF), "cpus": os.environ["SPARK_GRAFT_CPUS"],
        "pass_s": res["passes"], "steady_samples": n_steady, "op_tail_percentile": round(tail_pct, 2),
        "jvm_error_lines": log_errors, "failed_ops": sorted({r["name"] for r in res["ops"] if not r["ok"]}),
        "mem_mb": {k: round(v) for k, v in mem.items()},
        "heap_readings_mb": [round(v) for v in heap_readings], "cpu_probe_s": round(cpu_probe_s, 4),
        "phase_s": {"expect": round(expect_s, 2), "steady": round(sum(res["wall"].values()), 2),
                    "check": round(res["check_s"], 2), "total": round(time.monotonic() - t_start, 2)},
        "op_median_s": {k: round(statistics.median(v), 4) for k, v in sorted(res["by_op"].items())},
    }
    correct = failed == 0
    if args.trace:
        metrics = _layer_metrics(tracer, res, run_dir / "events", t1 - t0, t2 - t1, log_errors)
        metrics["mem.peak_rss_mb"] = mem["py_peak_rss"] + mem["jvm_peak_rss"]
        correct = correct and metrics["trace.self_sum_error_s"] < SELF_SUM_TOLERANCE_S
        units = PER_LAYER
        _write_trace(work / "traces" / f"{args.workload}-seed{args.seed}.json", tracer, res)
    else:
        metrics = {
            "setup_s": t2 - t0,
            "first_pass_s": res["first_pass_s"],
            "ops_per_s": len(steady) / res["wall"][False],
            "op_p50_s": statistics.median(steady),
            "op_tail_s": tail_value,
            "ok_ratio": 1.0 - failed / attempted,
            "mem_mb": mem["py_peak_rss"] + mem["jvm_heap_live"] + mem["jvm_nonheap"],
        }
        units = END_TO_END
    print(json.dumps(detail))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


def _run_passes(ops, rng, seconds, traced, tracer, t_start) -> dict:
    """First pass, then steady passes until each kind of pass has
    ``seconds`` of wall time and more than ``TAIL_BEYOND`` ops, or the
    run deadline is reached. A traced run makes its untraced and traced
    steady passes in blocks of untraced, traced, traced, untraced, so
    that the session still warming up over the run favours neither kind.
    Returns the per-attempt records, latencies and pass walls."""
    res = {"lat": {False: [], True: []}, "wall": {False: 0.0, True: 0.0}, "ops": [],
           "by_op": {}, "passes": []}
    last: dict = {}

    def one_pass(first: bool, trace_on: bool) -> float:
        order = list(ops)
        rng.shuffle(order)
        tracer.active = trace_on
        t0 = time.perf_counter()
        for op in order:
            tracer.op = len(res["ops"]) + 1
            a = time.perf_counter()
            try:
                with tracer.span("op"):
                    out = op.run()
            except Exception:  # one failing op must not end the run; it counts as failed
                traceback.print_exc()
                out = None
            lat = time.perf_counter() - a
            tracer.active = False
            rec = {"op": tracer.op, "name": op.name, "first": first, "traced": trace_on,
                   "latency_s": lat, "ok": out is not None, "state": None}
            if out is not None and op.per_attempt:
                rec["ok"], rec["state"] = _check(op, out), out
            elif out is not None:
                last[op.name] = (op, out)
            tracer.active = trace_on
            res["ops"].append(rec)
            if not first:
                res["lat"][trace_on].append(lat)
                if not trace_on:
                    res["by_op"].setdefault(op.name, []).append(lat)
        wall = time.perf_counter() - t0
        tracer.active = False
        res["passes"].append(round(wall, 3))
        return wall

    res["first_pass_s"] = one_pass(True, traced)
    block = (False, True, True, False) if traced else (False,)

    def wanting(kind: bool) -> bool:
        return res["wall"][kind] < seconds or len(res["lat"][kind]) <= stats.TAIL_BEYOND

    n = 0  # steady passes made; a block is finished before the run stops
    while ((n % len(block) or any(wanting(k) for k in block))
           and time.monotonic() - t_start < DEADLINE_S):
        kind = block[n % len(block)]
        res["wall"][kind] += one_pass(False, kind)
        n += 1

    # ops checked once, on their last output: a wrong answer fails every attempt
    t_check = time.perf_counter()
    wrong = {name for name, (op, out) in last.items() if not _check(op, out)}
    for rec in res["ops"]:
        rec["ok"] = rec["ok"] and rec["name"] not in wrong
    res["check_s"] = time.perf_counter() - t_check
    return res


def _check(op, out) -> bool:
    try:
        return op.check(out)
    except Exception:  # a check that cannot run is a failed op, not a failed run
        traceback.print_exc()
        return False


def _tail(samples: list[float]) -> tuple[float, float, int]:
    if len(samples) > stats.TAIL_BEYOND:
        return stats.tail(samples)
    # only when the deadline cut the run short: report the maximum
    return max(samples), 100.0, len(samples)


def _layer_metrics(tracer, res, events_dir: Path, start_s: float, warmup_s: float,
                   log_errors: int) -> dict[str, float]:
    """Per-layer metrics from the spans, counters and event log."""
    spans = tracer.spans
    selfs = stats.self_times([s[:5] for s in spans])
    by_id = {s[0]: s for s in spans}
    steady_ops = {r["op"] for r in res["ops"] if r["traced"] and not r["first"]}
    first_ops = {r["op"] for r in res["ops"] if r["traced"] and r["first"]}
    n = max(1, len(steady_ops))

    def self_sum(name: str, op_ids: set) -> float:
        return sum(selfs[s[0]] for s in spans if s[1] == name and s[5] in op_ids)

    m: dict[str, float] = {f"{name}_s": self_sum(name, steady_ops) / n for name in LAYER_SPANS}
    m["op.other_s"] = self_sum("op", steady_ops) / n
    m["registry.first_pass_construct_s"] = self_sum("registry.construct", first_ops)
    m["sources.read_calls"] = sum(
        1 for s in spans if s[1] == "sources.read" and s[5] in steady_ops
        and (s[4] is None or by_id[s[4]][1] != "sources.read")) / n

    def op_counts(op_ids: set) -> Counter:
        c = Counter()
        for i in op_ids:
            c.update(tracer.counts.get(i, Counter()))
        return c

    steady_c, first_c = op_counts(steady_ops), op_counts(first_ops)
    m["sources.write_bytes"] = steady_c["sources.write_bytes"] / n
    m["cache.first_pass_builds"] = first_c["cache.builds"]
    m["cache.first_pass_build_s"] = first_c["cache.build_s"]
    m["cache.builds"] = steady_c["cache.builds"]
    m["cache.hits"] = steady_c["cache.hits"]
    m["cache.hit_op_share"] = sum(1 for i in steady_ops if tracer.counts.get(i, {}).get("cache.hits")) / n

    def ancestors(sid: int):
        while sid is not None:
            yield by_id[sid][1]
            sid = by_id[sid][4]

    spark_c: dict[str, Counter] = {"exec": Counter(), "agents": Counter(),
                                   "construct": Counter(), "first_construct": Counter()}
    for group, c in tracing.event_log_counters(tracing.app_event_log(events_dir, APP_NAME)).items():
        if group is None:
            continue
        sid = int(group)
        names = set(ancestors(sid))
        op = by_id[sid][5]
        if op in steady_ops:
            spark_c["exec"].update(c)
            if any(x.startswith("agents.") for x in names):
                spark_c["agents"].update(c)
            if "registry.construct" in names:
                spark_c["construct"].update(c)
        elif op in first_ops and "registry.construct" in names:
            spark_c["first_construct"].update(c)
    ex = spark_c["exec"]
    for k in ("jobs", "stages", "tasks", "task_run_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes"):
        m[f"exec.{k}"] = ex[k] / n
    m["exec.tasks_per_stage"] = ex["tasks"] / max(1, ex["stages"])
    m["agents.jobs_per_op"] = spark_c["agents"]["jobs"] / n
    m["registry.construct_jobs"] = spark_c["construct"]["jobs"] / n
    m["registry.first_pass_construct_jobs"] = spark_c["first_construct"]["jobs"]

    states = [r["state"] for r in res["ops"] if r["op"] in steady_ops and r["state"] is not None]
    attempts = sum(s.attempts for s in states)
    m["agents.valid_per_attempt"] = sum(1 for s in states if s.valid) / attempts if attempts else 0.0

    # each traced op's self times must add up to its latency as timed
    # by the harness, outside every span
    per_op = Counter()
    for s in spans:
        per_op[s[5]] += selfs[s[0]]
    m["trace.self_sum_error_s"] = max(abs(per_op[r["op"]] - r["latency_s"])
                                      for r in res["ops"] if r["traced"])

    traced_ops = len(res["lat"][True]) / res["wall"][True]
    m["trace.ops_per_s"] = traced_ops
    m["trace.overhead_ratio"] = (len(res["lat"][False]) / res["wall"][False]) / traced_ops - 1.0
    m["session.start_s"] = start_s
    m["session.warmup_s"] = warmup_s
    m["log.error_lines"] = log_errors
    return m


def _write_trace(path: Path, tracer, res) -> None:
    """Spans and per-op records of a traced run, written once at the end."""
    path.parent.mkdir(parents=True, exist_ok=True)
    ops = [{k: v for k, v in r.items() if k != "state"} for r in res["ops"]]
    spans = [dict(zip(("id", "name", "start", "end", "parent", "op"), s)) for s in tracer.spans]
    path.write_text(json.dumps({"ops": ops, "spans": spans,
                                "counters": {str(k): dict(v) for k, v in tracer.counts.items()}}))


def _confine_env(run_dir: Path) -> None:
    """Keep every file the JVM, Python workers and temp files write under
    ``run_dir``, and size the local master to this machine's CPUs."""
    tmp = run_dir / "tmp"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    tempfile.tempdir = str(tmp)


def _prepare(args) -> None:
    """Build the inputs and DuckDB's answers that the checkout lacks in a
    child process, so that a checkout's first run does not carry the
    generator's and DuckDB's memory into this process's peak RSS, which
    is part of ``mem_mb``."""
    subprocess.run([sys.executable, str(HERE / "run.py"), "--prepare", "--workload", args.workload,
                    "--seed", str(args.seed), "--seconds", str(args.seconds)],
                   stdout=sys.stderr, check=True)


def _ensure_data(work: Path) -> Path:
    """The sf0.01 tables and the people CSV, built once per checkout.
    ``tools/gen_scale.py`` is deterministic (hash-seeded columns), so
    every checkout gets identical inputs. Its JVM logs to its own file,
    so its ERROR lines are not counted as the run's."""
    data = work / f"data-sf{SF}"
    if (data / "_READY").is_file():
        return data
    import gen_scale

    tmp = work / "data.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    argv = sys.argv
    sys.argv = ["gen_scale.py", "--sf", SF, "--out", str(tmp)]
    try:
        with _stderr_to(work / "gen_scale.log"), contextlib.redirect_stdout(sys.stderr):
            gen_scale.main()
    finally:
        sys.argv = argv
        _stop_jvm()
    workloads.write_people_csv(tmp / "people.csv")
    (tmp / "_READY").touch()
    shutil.rmtree(data, ignore_errors=True)
    tmp.rename(data)
    return data


@contextlib.contextmanager
def _stderr_to(path: Path):
    """Point fd 2 at ``path`` for the block: a JVM launched inside it
    (and the Python workers it forks) keeps logging there."""
    sys.stderr.flush()
    saved = os.dup(2)
    with path.open("ab") as f:
        os.dup2(f.fileno(), 2)
    try:
        yield
    finally:
        sys.stderr.flush()
        os.dup2(saved, 2)
        os.close(saved)


def _stop_jvm() -> None:
    """Stop the session, shut the gateway JVM down and wait until it and
    every process it started have exited; the next session then starts
    a fresh JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    if SparkSession._instantiatedSession is not None:
        SparkSession._instantiatedSession.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    children = _descendants(proc.pid)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while children and time.monotonic() < deadline:
        children = [p for p in children if Path(f"/proc/{p}").exists()]
        time.sleep(0.05)
    for p in children:
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, 9)


def _descendants(pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            with contextlib.suppress(OSError):
                # the field after the parenthesised command name is the state, then ppid
                parent[int(d.name)] = int((d / "stat").read_text().rsplit(")", 1)[1].split()[1])
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def _cpu_probe_s() -> float:
    """Seconds for a fixed pure-Python loop. Not a metric: it shows how
    fast the host ran during this run, next to the metrics, because on a
    shared host it drifts by tens of percent over minutes."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i
    return time.perf_counter() - t0


def _memory_mb(jvm) -> tuple[dict[str, float], list[float]]:
    """Peak RSS of this Python process and of its JVM, and the
    JVM's heap still in use once garbage is gone, plus its non-heap
    (code cache, metaspace). The JVM's peak RSS follows when its
    collector happened to grow the heap, so it varies several-fold
    between runs of the same ops; the settled live heap does not.

    Blocks of dead broadcasts, shuffles and checkpointed RDDs stay on
    the heap until Spark's ContextCleaner removes them, which it does
    on its own thread only after a GC has found their owners dead, and
    the removed blocks need one more GC. One full GC therefore reads
    however far the cleaner happened to get, and that depends on when
    the last GC of the run fell. So full GCs are repeated until the
    reading stops falling; the second value returned is every reading."""
    out = {"py_peak_rss": _hwm_kb(os.getpid()) / 1024.0,
           "jvm_peak_rss": _hwm_kb(jvm.ProcessHandle.current().pid()) / 1024.0}
    gc.collect()  # drop Python-side handles first so the JVM objects behind them are garbage too
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()

    def gc_and_read() -> float:
        jvm.System.gc()
        return mx.getHeapMemoryUsage().getUsed() / 2**20

    readings = _settle(gc_and_read)
    out["jvm_heap_live"] = min(readings)
    out["jvm_nonheap"] = mx.getNonHeapMemoryUsage().getUsed() / 2**20
    return out, readings


def _settle(gc_and_read) -> list[float]:
    """Call ``gc_and_read`` every MEM_GC_EVERY_S until its reading has
    fallen by less than MEM_SETTLED_MB over the last MEM_QUIET_S, or
    MEM_SETTLE_S have passed. Returns every reading."""
    readings: list[float] = []
    quiet = round(MEM_QUIET_S / MEM_GC_EVERY_S)
    deadline = time.monotonic() + MEM_SETTLE_S
    while True:
        readings.append(gc_and_read())
        if (len(readings) > quiet and readings[-1 - quiet] - readings[-1] < MEM_SETTLED_MB
                or time.monotonic() > deadline):
            return readings
        time.sleep(MEM_GC_EVERY_S)


def _hwm_kb(pid: int) -> int:
    """Peak resident set size of a process, from /proc."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


if __name__ == "__main__":
    sys.exit(main())

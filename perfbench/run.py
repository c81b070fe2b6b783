"""Benchmark of the trace pipeline: three workloads through the package's
public entry points on one ``local[nproc]`` Spark session.

    python3 perfbench/run.py --workload trace_chain --seed 7 --seconds 20 --trace 0

Run it from the repository root. One run starts the session, builds the
workload's seeded fixture, warms up, then measures whole passes over the
workload until the next pass would overrun ``--seconds`` (at least one),
and last checks the outputs of the final pass against their references.
With ``--trace 0`` it reports the end-to-end metrics; with ``--trace 1``
it measures one pass under ``perfbench.harvest.Tracer`` and reports the
per-layer metrics instead. The last line of standard output is one JSON
object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``; the metric names and units are those of ``BENCHMARK.json``.
The exit code is 0 only when every output is correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.getcwd()
DRIVER_MEMORY = "4g"  # well below the RAM of a 16 GB box
FIXTURE_BUILDS = 3  # set-up is timed as the median of this many builds
# reconciliation tolerance: the part of an output's wall that is not
# construction, planning, its action or the harvest (the caller's
# cache release and bookkeeping); traced runs of both workloads left gaps
# of at most 0.06 s on sweep entries and 0.22 s on chain outputs of
# several seconds, so a span the tracer missed fails on short entries too
RECONCILE_TOL_S = 0.1
RECONCILE_TOL_FRAC = 0.10
EXCHANGE_CHECKED = ("w1_decimal_shift", "p2_stage1_full")
JVM_EXIT_WAIT_S = 60  # the JVM's shutdown hooks get this long before a kill
KILL_WAIT_S = 10  # how long a killed process may take to go away


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def peak_rss_reset(pid: int) -> None:
    # "5" resets the process's VmHWM to its current resident set
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stat(pid: int) -> list[str] | None:
    """The fields of /proc/<pid>/stat after the command name (state is
    [0], the parent [1], the start time [19]); None once the pid is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def descendants(pid: int) -> dict[int, str]:
    """Every live process below ``pid``, by pid, with its start time (so a
    reused pid is not taken for it)."""
    children: dict[int, list[int]] = {}
    starts = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(int(name))) is not None:
            children.setdefault(int(st[1]), []).append(int(name))
            starts[int(name)] = st[19]
    found, todo = {}, [pid]
    while todo:
        for child in children.get(todo.pop(), ()):
            found[child] = starts[child]
            todo.append(child)
    return found


def _running(pid: int, start: str) -> bool:
    st = _stat(pid)
    return st is not None and st[19] == start and st[0] not in ("Z", "X")


def stop_processes() -> None:
    """Stop the Spark JVM and every process started under this one (the
    JVM's Python workers and daemons too), and wait until each has ended.
    The JVM exits by itself when its stdin closes, but only after this
    process has exited, so it is closed and waited for here; whatever is
    still running after that is killed."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=JVM_EXIT_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for pid, start in procs.items():
        if _running(pid, start):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    deadline = time.monotonic() + KILL_WAIT_S
    while True:
        left = [pid for pid, start in procs.items() if _running(pid, start)]
        for pid in left:
            try:  # reap it if it is this process's own child
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        if not left:
            return
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {left} did not end")
        time.sleep(0.05)


def percentile(values: list[float], q: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def latency_support(passes) -> dict:
    """How many latencies the percentiles rest on. A pass takes about as
    long as the run length, so a run measures one pass: 19 outputs on the
    sweep and 8 on the chain. p90 is then the latency of the two or three
    slowest outputs, not a tail with ten samples beyond it."""
    lat = [s for p in passes for _, s in p.latencies]
    p90 = percentile(lat, 90)
    return {"n": len(lat), "beyond_p90": sum(s > p90 for s in lat)}


def end_to_end(w, manifest, setup_s, passes) -> dict:
    wall = statistics.median(p.wall_s for p in passes)
    lat = [s for p in passes for _, s in p.latencies]
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "rows_per_s": w.input_rows(manifest) / wall,
        "query_p50_s": statistics.median(lat),
        "query_p90_s": percentile(lat, 90),
    }


def per_layer(tracer, p, session, box, rss_mb) -> tuple[dict, list[str]]:
    from perfbench import harvest, workloads

    t = tracer.totals
    cc = [(e, s) for e, (_, s) in zip(tracer.entries, p.latencies) if e.name in workloads.CC_ENTRIES]
    problems = list(tracer.problems)
    gaps = []
    traced = [name for name, _ in p.latencies]
    if traced != [e.name for e in tracer.entries]:
        problems.append(f"traced outputs {[e.name for e in tracer.entries]} are not the pass's {traced}")
    for e, (_, latency) in zip(tracer.entries, p.latencies):
        wall = latency - e.harvest_s
        gap = wall - (e.construct_s + e.plan_s + e.exec_s)
        gaps.append(gap)
        if abs(gap) > max(RECONCILE_TOL_S, RECONCILE_TOL_FRAC * wall):
            problems.append(f"{e.name}: construct+plan+exec is {gap:.3f} s off its wall {wall:.3f} s")
        if e.name in EXCHANGE_CHECKED and e.plan_exchanges != e.graph_exchanges:
            problems.append(
                f"{e.name}: {e.graph_exchanges} Exchange nodes harvested, "
                f"{e.plan_exchanges} in executedPlan"
            )
    m = {
        "session.start_s": session["start_s"],
        "session.warmup_s": session["warmup_s"],
        # the driver JVM's peak resident set over the pass: reported, not
        # bounded, as G1's heap sizing moves it by half between runs
        "driver.peak_rss_mb": rss_mb,
        "sources.load_table_s": t["load_table_s"],
        "sources.load_table_calls": t["load_table_calls"],
        "plans.construct_s": t["construct_s"],
        "plans.plan_s": t["plan_s"],
        "plans.construct_jobs": t["construct_jobs"],
    }
    for key in ("exec_s", "jobs", "stages", "tasks", "failed_tasks", "scan_s", "scan_bytes",
                "exchanges", "shuffle_write_bytes", "shuffle_fetch_wait_s", "agg_build_s",
                "broadcast_collect_s", "peak_memory_bytes", "spill_bytes"):
        m[f"operators.{key}"] = t[key]
    for key in ("execs", "py_run_s", "py_start_s", "bytes_to_py", "bytes_from_py"):
        m[f"kernels.{key}"] = t[f"kernels.{key}"]
    # the share of Python-worker time spent starting and initializing
    # workers rather than running the kernel
    worker_s = t["kernels.py_start_s"] + t["kernels.py_run_s"]
    m["kernels.start_share"] = t["kernels.py_start_s"] / worker_s if worker_s else 0.0
    for family in harvest.KERNEL_FAMILIES:
        m[f"kernels.{family}.execs"] = t[f"kernels.{family}.execs"]
        m[f"kernels.{family}.py_run_s"] = t[f"kernels.{family}.py_run_s"]
    for stage in ("stage0", "stage1", "stage2"):
        m[f"run.{stage}_s"] = p.stages.get(stage, 0.0)
    m["run.kernel_execs"] = t["kernel_execs"]
    m["run.written_bytes"] = t["written_bytes"]
    m["run.commit_s"] = t["commit_s"]
    m["datapipe.cc_jobs"] = sum(e.construct_jobs + e.action_jobs for e, _ in cc)
    m["datapipe.cc_s"] = sum(s for _, s in cc)
    for key in ("triggers", "add_batch_s", "wal_commit_s", "query_planning_s", "trigger_s"):
        m[f"streaming.{key}"] = tracer.stream[key]
    m.update(box)
    m["trace.wall_s"] = p.wall_s
    # the pass on the raw wall clock: unlike every other time it keeps the
    # steal, and it is the one that shows a change in time spent waiting
    m["trace.raw_wall_s"] = p.raw_wall_s
    m["trace.harvest_s"] = sum(e.harvest_s for e in tracer.entries)
    m["trace.reconcile_max_gap_s"] = max(gaps, key=abs) if gaps else 0.0
    return m, problems


def box_canaries(canary, spark, when: str) -> dict:
    return {
        f"box.canary_shuffle_{when}_s": canary.shuffle_canary_sec(spark),
        f"box.canary_arrow_{when}_s": canary.arrow_canary_sec(spark),
    }


def bench(args, work: str) -> dict:
    from perfbench import harvest, workloads
    from perfbench.clock import cpu_seconds, mark, since
    from trace_data_pipeline_spark import canary
    from trace_data_pipeline_spark.session import get_spark

    w = workloads.WORKLOADS[args.workload]
    m0 = mark()
    spark = get_spark(
        app_name=f"perfbench-{w.name}",
        cpus=len(os.sched_getaffinity(0)),
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tempfile.gettempdir()}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    session = {"start_s": since(m0)}
    try:
        builds = []
        for _ in range(FIXTURE_BUILDS):
            m0 = mark()
            sf_dir, manifest = w.fixture(work, args.seed)
            builds.append(since(m0))
        print("fixture: " + json.dumps({"workload": w.name, "seed": args.seed, **manifest}))
        m0 = mark()
        w.warm_up(spark, sf_dir)
        session["warmup_s"] = since(m0)
        setup_s = session["start_s"] + statistics.median(builds) + session["warmup_s"]

        pid = spark._jvm.ProcessHandle.current().pid()
        box = box_canaries(canary, spark, "before") if args.trace else {}
        peak_rss_reset(pid)
        cpu0 = cpu_seconds()
        passes = []
        begin = time.perf_counter()
        out = os.path.join(work, "out")
        while True:
            workloads.fresh_dir(out)
            if args.trace:
                with harvest.Tracer(spark) as tracer:
                    passes.append(w.run_pass(spark, sf_dir, out, args.seed))
                    tracer.wait_streams()
                break
            passes.append(w.run_pass(spark, sf_dir, out, args.seed))
            if time.perf_counter() - begin + passes[-1].raw_wall_s > args.seconds:
                break
        rss_mb = peak_rss_mb(pid)
        busy, steal = (now - then for now, then in zip(cpu_seconds(), cpu0))
        if args.trace:
            box.update(box_canaries(canary, spark, "after"))
        last = passes[-1]
        t0 = time.perf_counter()
        failures = dict(last.errors)
        failures.update(w.check(spark, sf_dir, {k: v for k, v in last.outputs.items()
                                                if k not in last.errors}))
        check_s = time.perf_counter() - t0
        problems = []
        if args.trace:
            metrics, problems = per_layer(tracer, last, session, box, rss_mb)
        else:
            metrics = end_to_end(w, manifest, setup_s, passes)
    finally:
        spark.stop()
    attempted = len(last.names)
    summary = {
        "workload": w.name,
        "passes": len(passes),
        "setup": {**session, "fixture_s": statistics.median(builds)},
        "check_s": check_s,
        # CPU-seconds this machine's CPUs ran and were stolen while the
        # passes ran: the raw side of the steal-corrected times
        "busy_s": busy,
        "steal_s": steal,
        "peak_rss_mb": rss_mb,
        "raw_wall_s": [p.raw_wall_s for p in passes],
        "latencies": [p.latencies for p in passes],
        "latency_samples": latency_support(passes),
        "outputs_attempted": attempted,
        "ops_failed_frac": len(failures) / attempted,
        "failures": failures,
        "self_check_problems": problems,
    }
    print("summary: " + json.dumps(summary))
    return {
        "correct": not failures and not problems,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": metrics,
    }


def declared_units(trace: int) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "trace_data_pipeline_spark")):
        print("perfbench: run from the repository root; trace_data_pipeline_spark/ "
              "is not in the current directory", file=sys.stderr)
        return 2
    units = declared_units(args.trace)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    # everything a run writes (fixtures, outputs, Spark local dirs, temp
    # files of the JVM and the Python workers) stays under one directory
    # of the checkout, removed when the run ends
    work = os.path.join(ROOT, ".perfbench")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # a termination signal ends the run through the clean-up below, not
    # around it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        result = bench(args, work)
    finally:
        try:
            stop_processes()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    if set(result["metrics"]) != set(units):
        raise RuntimeError(
            "metrics differ from BENCHMARK.json: "
            f"{sorted(set(result['metrics']) ^ set(units))}"
        )
    result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()}
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())

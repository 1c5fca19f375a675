"""Oracle-checked benchmark of the KG job, serving and near-dup workloads.

    python3 perfbench/run.py --workload kg_job --seed 1 --seconds 4 --trace 0

Run from the root of a checkout. One process runs one workload at
local[K], K = min(2, available cores): set-up (session, seeded inputs,
discarded warm-up), then timed operation groups until `--seconds` have
passed (at least one group), then the check of every output against its
reference. The last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics (BENCHMARK.json `end_to_end`),
`--trace 1` the per-layer metrics (`per_layer`), taken from a run that
alternates untraced and traced groups. `--size small` and `--selftest`
serve `perfbench/selftest.py`. See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# a traced run adds a closing untraced group only if, at the last group's
# pace, it would still end by then: the rest of the 180 s a run may take
# covers a slower group, the check and stopping Spark
TRACE_RUN_LIMIT_S = 140
PR_SET_CHILD_SUBREAPER = 36


def process_age() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb() -> float:
    """Sum of peak RSS (VmHWM) over this process and its descendants: the
    Spark driver JVM and the Python workers. An upper bound on the peak of the
    sum."""
    children: dict[int, list[int]] = {}
    hwm: dict[int, int] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        children.setdefault(int(status["PPid"]), []).append(int(pid))
        hwm[int(pid)] = int(status.get("VmHWM", "0 kB").split()[0])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += hwm.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total / 1024


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts, so that the
    Python workers the Spark JVM forks are re-parented here, not to init,
    when the JVM exits, and `reap_children` can wait for them."""
    import ctypes

    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def child_pids() -> list[int]:
    me = str(os.getpid())
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = f.read().rsplit(")", 1)[1].split()[1]
        except OSError:
            continue
        if ppid == me:
            pids.append(int(pid))
    return pids


def reap_children(grace_s: float = 10.0) -> None:
    """Terminate every remaining child (SIGKILL after `grace_s`) and wait
    until none is left, children adopted while waiting included."""
    deadline = time.monotonic() + grace_s
    signalled = set()
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for child in child_pids():
            if (child, sig) not in signalled:
                signalled.add((child, sig))
                with contextlib.suppress(ProcessLookupError):
                    os.kill(child, sig)
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for both. PySpark leaves
    the JVM to exit on its own once this process has exited, which it does
    seconds later; the run must not end before it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def start_spark(work: str, cores: int):
    from openue_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # every file Spark and its Python workers write stays in the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_group(wl, i: int, label):
    """One timed group's ops; None when it raised (traceback on stderr)."""
    try:
        ops = wl.group(i, label)
    except Exception:
        traceback.print_exc()
        return None
    walls = " ".join(f"{op.name}={op.wall:.3f}s" for op in ops)
    print(f"perfbench: group {i}: {walls}", file=sys.stderr)
    return ops


def verify(wl, indices: list[int]) -> dict[int, list[str]]:
    """Problems found in each group's outputs (groups without any omitted)."""
    refs = wl.references()
    problems = {}
    for i in indices:
        found = wl.check(wl.outputs_of(i), refs)
        for msg in found:
            print(f"perfbench: CHECK FAILED in group {i}:", msg, file=sys.stderr)
        if found:
            problems[i] = found
    return problems


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("default", "small"), default="default")
    p.add_argument(
        "--selftest",
        action="store_true",
        help="also apply the negative cases (--trace 0) or list the per-layer names no layer computed (--trace 1)",
    )
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "openue_spark", "job.py")):
        print(f"perfbench: no openue_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import checks
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    adopt_orphans()
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        # 2 cores, not 4: on a 4-core host the JIT compiler, GC and driver
        # threads then have room, and these overhead-bound operations ran
        # faster and settled sooner (NOTES.md)
        cores = min(2, len(os.sched_getaffinity(0)))
        spark = start_spark(work, cores)
        wl = WORKLOADS[args.workload](spark, work, os.path.join(WORK_ROOT, "refs"), args.seed, args.size)
        wl.setup()
        setup_s = process_age()
        result = measure_traced(wl, spark, args) if args.trace else measure(wl, args, setup_s)
        if result is None:
            return 1
        if args.selftest and not args.trace:
            result["negative"] = negative_cases(wl, checks.NEGATIVE_CASES[wl.name])
        print(json.dumps(result))
        return 0
    finally:
        # a second SIGTERM must not cut the stopping short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        try:
            stop_spark(spark)
        finally:
            reap_children()
            shutil.rmtree(work, ignore_errors=True)


def tally(wl, groups: list, problems: dict) -> tuple[int, int]:
    """(attempted, failed) operations. A group that raised or failed its
    check fails every operation it holds."""
    n_bad = groups.count(None) + len(problems)
    return len(groups) * wl.ops_per_group, n_bad * wl.ops_per_group


def measure(wl, args, setup_s: float) -> dict | None:
    groups = []
    t_end = time.perf_counter() + args.seconds
    while not groups or time.perf_counter() < t_end:
        groups.append(run_group(wl, len(groups), contextlib.nullcontext))
    done = [i for i, g in enumerate(groups) if g is not None]
    if not done:
        return None
    attempted, failed = tally(wl, groups, verify(wl, done))
    walls = [sum(op.wall for op in groups[i]) for i in done]
    rates = [sum(op.items for op in groups[i]) / w for i, w in zip(done, walls)]
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": statistics.median(walls), "unit": "s"},
            "items_per_s": {"value": statistics.median(rates), "unit": "1/s"},
        },
    }


def measure_traced(wl, spark, args) -> dict | None:
    """Alternate untraced and traced groups, untraced first and, when time
    allows, last too. Per-layer numbers come from the traced groups. The
    overhead is the median, over traced groups, of a traced group's wall
    minus that of the untraced group after it (before it, for a last
    traced group): the first group of a process is its slowest, so it is
    paired only with a traced group that ends the run."""
    from perfbench import trace

    tracer, records = trace.Tracer(spark), trace.JobRecords(spark)
    groups, traced, last_wall = [], [], 0.0
    t_end = time.perf_counter() + args.seconds
    while (
        len(groups) < 2
        or time.perf_counter() < t_end
        or (len(groups) % 2 == 0 and process_age() + last_wall < TRACE_RUN_LIMIT_S)
    ):
        i = len(groups)
        if i % 2 == 0:
            g = run_group(wl, i, contextlib.nullcontext)
        else:
            tracer.install()
            records.start()
            try:
                g = run_group(wl, i, tracer.label)
            finally:
                tracer.uninstall()
            records.stop()
            traced.append(i)
        groups.append(g)
        if g is not None:
            last_wall = sum(op.wall for op in g)
    done = [i for i, g in enumerate(groups) if g is not None]
    traced_done = [i for i in done if i in traced]

    def wall(k):
        return sum(op.wall for op in groups[k])

    def partner(k):
        """The untraced group after traced group k, else the one before."""
        return k + 1 if k + 1 < len(groups) else k - 1

    diffs = [wall(k) - wall(partner(k)) for k in traced_done if groups[partner(k)] is not None]
    if not diffs:
        return None
    t0 = time.perf_counter()
    problems = verify(wl, done)
    verify_s = time.perf_counter() - t0

    # stage records and spans cover every traced group, failed ones too
    n = len(traced)
    metrics = trace.layer_metrics(tracer, records, n)
    metrics.update(wl.counts(wl.outputs_of(traced_done[-1]), tracer, records, n))
    metrics.update(
        {
            "bench.verify_s": verify_s,
            "bench.trace_overhead_s": statistics.median(diffs),
            "bench.peak_rss_mb": tree_peak_rss_mb(),
        }
    )
    units = dict(per_layer_units())
    unlisted = sorted(set(metrics) - set(units))
    if unlisted:
        raise RuntimeError(f"metrics not listed in BENCHMARK.json per_layer: {unlisted}")
    attempted, failed = tally(wl, groups, problems)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        # a layer the workload does not exercise reads 0
        "metrics": {
            name: {"value": metrics.get(name, 0.0), "unit": unit} for name, unit in units.items()
        },
    }
    if args.selftest:
        result["defaulted"] = sorted(set(units) - set(metrics))
    return result


def per_layer_units() -> list[tuple[str, str]]:
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def negative_cases(wl, cases: dict) -> dict[str, bool]:
    """For each corruption: does the check report it?"""
    refs = wl.references()
    out = wl.outputs_of(min(wl.outputs))
    return {name: bool(wl.check(wl.corrupt(out, case), refs)) for name, case in cases.items()}


if __name__ == "__main__":
    sys.exit(main())

"""Closed-loop benchmark of the ballet_spark engine on local[4].

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 18 --trace 0

One client (this driver thread) runs one workload's op back to back:
first ``WARMUP_OPS`` untimed warm-up ops, then timed ops for
``--seconds``. Every op's output digest must equal the previous op's,
and once per run an independent reference (DuckDB SQL, numpy) checks
the outputs. The last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (setup_s, rows_per_s,
peak_rss_mb); ``--trace 1`` runs the same loop with spans around
every layer call and Spark's event log on, and reports the per-layer
metrics per timed op. Inputs are generated from ``--seed`` by a child
process and cached under ``.perfbench/`` by (seed, size); nothing is
read or written outside the checkout.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

MASTER = "local[4]"
DRIVER_MEMORY = "3g"
YOUNG_GEN = "256m"
# untimed ops before the timed phase. The first op pays the cold start
# (class loading, code generation, JIT); later ops keep getting a
# little faster for minutes as the JIT compiler goes on, which the
# median over the timed ops absorbs.
WARMUP_OPS = 1


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Point every scratch location of Spark and Python into ``work``."""
    for d in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # the spark-submit launcher JVM would write hsperfdata to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (from /proc)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def peak_rss_mb() -> float:
    """Summed VmHWM of this process (the Python driver) and all its
    descendants: the driver JVM and the Python worker daemon and workers."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for every
    process this run started to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    # Python workers exit once the JVM is gone; kill any that linger
    if not wait_descendants_gone(30):
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        wait_descendants_gone(10)


def wait_descendants_gone(seconds: float) -> bool:
    deadline = time.monotonic() + seconds
    while descendants(os.getpid()):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.1)
    return True


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ballet_spark", "__init__.py")):
        print("perfbench: run from the root of a ballet_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    bench_dir = os.path.join(root, ".perfbench")
    work = os.path.join(bench_dir, f"run-{os.getpid()}")
    prepare_env(work)

    import corpus
    import tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cache_root = os.path.join(bench_dir, "cache")
    t_gen = time.perf_counter()
    subprocess.run(
        [sys.executable, corpus.__file__, cache_root, args.workload, str(args.seed)], check=True
    )
    gen_s = time.perf_counter() - t_gen
    wl = workloads.WORKLOADS[args.workload](corpus.Cache(cache_root), args.seed, work)

    from ballet_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        # temp files in the checkout, no hsperfdata in /tmp; a heap and a
        # young generation of fixed size, so that the JVM's peak RSS does
        # not depend on when the collector chose to grow them
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN}"
        ),
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=MASTER, extra_conf=conf)
    try:
        tracer = tracing.Tracer(spark.sparkContext) if args.trace else tracing.NullTracer()
        if args.trace:
            tracer.install()
        wl.start(spark, tracer)

        steal = []  # share of the host's CPU time stolen by the hypervisor, per op

        def run_op(tag: str):
            """One op: (seconds, units, digest); raises on failure."""
            s0, c0 = cpu_ticks()
            t0 = time.perf_counter()
            with tracer.in_op(tag):
                sink = wl.op(tag)
            dt = time.perf_counter() - t0
            s1, c1 = cpu_ticks()
            steal.append((s1 - s0) / max(c1 - c0, 1))
            units, dig = wl.outcome(sink)
            return dt, units, dig

        warm_times, expected = [], None
        for k in range(WARMUP_OPS):
            dt, _, expected = run_op(f"w{k}")
            warm_times.append(dt)
            workloads.clear_caches(spark)
        setup_s = time.perf_counter() - T_START - gen_s

        timed, times, rates, handles, failed = [], [], [], [], 0
        t_loop = time.perf_counter()
        while time.perf_counter() - t_loop < args.seconds:
            tag = f"t{len(timed)}"
            timed.append(tag)
            try:
                dt, units, dig = run_op(tag)
            except Exception:
                traceback.print_exc()
                failed += 1
                workloads.clear_caches(spark)
                continue
            if dig != expected:
                print(f"perfbench: op {tag} digest differs from the previous op", file=sys.stderr)
                failed += 1
            expected = dig
            times.append(dt)
            rates.append(units / dt)
            handles.append(workloads.live_handles(spark))
            workloads.clear_caches(spark)
        rss = peak_rss_mb()

        tracer.op = "check"
        t_check = time.perf_counter()
        try:
            problems = wl.check()
        except Exception as e:
            traceback.print_exc()
            problems = [f"the reference check raised {e!r}"]
        check_s = time.perf_counter() - t_check
        for p in problems:
            print(f"perfbench: reference mismatch: {p}", file=sys.stderr)
        if problems:
            # every op produced the digest the reference rejected
            failed = len(timed)
        extra = wl.trace_extras() if args.trace else {}
    finally:
        stop_spark(spark)

    attempted = len(timed)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
    }
    if args.trace:
        metrics, sql_all = tracing.per_op(
            tracing.EventLog(log_dir), tracer, set(timed), wl.cur.sources, wl.cur.rows
        )
        metrics["cache.live_handles"] = statistics.mean(handles) if handles else 0.0
        metrics["trace.rows_per_s"] = statistics.median(rates) if rates else 0.0
        metrics.update(extra)
        with open(os.path.join(bench_dir, f"trace-{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump({"spans": tracer.spans, "metrics": metrics, "sql": sql_all}, f)
        result["metrics"] = {
            k: {"value": v, "unit": tracing.unit_of(k)} for k, v in metrics.items()
        }
    else:
        result["metrics"] = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "rows_per_s": {"value": statistics.median(rates) if rates else 0.0, "unit": "rows/s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
        }
    shutil.rmtree(work, ignore_errors=True)
    print(
        f"perfbench {args.workload} seed={args.seed}: {wl.unit}, "
        f"timed op_s={[round(t, 3) for t in times]}, "
        f"warm-up op_s={[round(t, 3) for t in warm_times]}, "
        f"steal={[round(x, 3) for x in steal]}, reference check {check_s:.1f}s, "
        f"ops_failed_frac={failed / max(attempted, 1):.4f}"
    )
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

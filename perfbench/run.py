"""Link-graph benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload {rmat_cc,crawl_delta}
        --seed N --seconds S --trace {0,1} [--driver-memory 4g] [--spans FILE]

Starts a local[nproc] Spark session, stages the workload's inputs from the
seed (set-up), runs the workload's unit of work until ``--seconds`` have
passed, checks every answer against an independent numpy oracle, and prints
one JSON object as the last line of stdout. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
alternates untraced and traced ops and reports the per-layer metrics.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import procs  # noqa: E402  (needs ROOT on the path)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--driver-memory", default="4g")
    p.add_argument("--spans", help="also write every traced span to this JSON file")
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str, driver_memory: str) -> None:
    """Everything the JVM and its Python workers write stays in ``work``."""
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata files;
    # C1 only (see "Run environment" in perfbench/README.md): with C2, op
    # times still fall by a third ten ops into a run, with C1 after one op
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={os.environ['TMPDIR']}")
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])


def process_tree_hwm_mb(root_pids: list[int]) -> float:
    """Sum of VmHWM over the given processes and all their descendants."""
    total_kb = 0
    for pid in procs.tree(root_pids):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def stop_processes() -> None:
    """End every process this run started and wait until each has ended.

    The gateway JVM exits on its own only once this process has exited, so
    a run that just returned would leave it (and its Python workers)
    behind. It exits at EOF on its stdin; whatever is still alive after
    that, or after a timeout, is terminated and then killed."""
    pids = [p for p in procs.tree([os.getpid()]) if p != os.getpid()]
    if not pids:
        return
    context = sys.modules.get("pyspark.context")
    proc = getattr(getattr(context, "SparkContext", None), "_gateway", None)
    proc = getattr(proc, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            pass

    def alive():
        return [p for p in pids if procs.state(p) not in (None, "Z")]

    for sig, grace in ((signal.SIGTERM, 15.0), (signal.SIGKILL, 30.0)):
        for pid in alive():
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.monotonic() + grace
        while alive() and time.monotonic() < deadline:
            time.sleep(0.05)
    if proc is not None and proc.poll() is None:
        proc.wait(timeout=5)


def environment(spark) -> dict:
    try:  # the checkout need not be a git repository; never look above it
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, text=True, capture_output=True,
            timeout=10, env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)},
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    with open("/proc/meminfo") as fh:
        ram_kb = int(fh.readline().split()[1])
    jvm = spark.sparkContext._jvm.java.lang.System
    return {
        "nproc": cores(), "ram_gb": round(ram_kb / 2**20, 1),
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "pyspark": spark.version, "java": jvm.getProperty("java.version"),
        "python": platform.python_version(), "commit": commit,
    }


def run_ops(workload, tracer, seconds: float, modes: tuple[bool, ...], log):
    """Run ops for ``seconds`` of wall time, cycling through ``modes``
    (traced or not): at least one op of each mode, and another only while
    it would end less than half an op past the deadline, so the op count
    per run does not flip between two values when an op takes about
    ``seconds``. Returns the passing results of each mode and the number of
    failed ops."""
    results: dict[bool, list] = {m: [] for m in modes}
    failed = 0
    t_start = time.perf_counter()
    for n in range(1 << 30):
        traced = modes[n % len(modes)]
        tracer.enabled = traced
        t_op = time.perf_counter()
        tracer.op += 1
        try:
            r = workload.op()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            r = None
        if r is None or not r.ok:
            failed += 1  # its timing is discarded
        else:
            results[traced].append(r)
        log(f"op {tracer.op} traced={int(traced)} ok={r is not None and r.ok} "
            f"s={r.seconds if r else float('nan'):.3f}")
        now = time.perf_counter()
        if n + 1 >= len(modes) and now - t_start + (now - t_op) / 2 >= seconds:
            break
    return results, failed


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "em_connected_components_spark", "__init__.py")):
        print("perfbench: the engine package is not next to perfbench/", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{args.seed}-{os.getpid()}")
    pin_environment(work, args.driver_memory)
    # a terminated run still stops the JVM and cleans up in the finally below
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    try:
        return bench(args, work)
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)


def bench(args, work: str) -> int:
    from em_connected_components_spark.session import get_spark, warmup

    from perfbench import report, workloads
    from perfbench.trace import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    def log(msg):
        print(f"[perfbench {args.workload}] {msg}", file=sys.stderr, flush=True)

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores()}]", shuffle_partitions=cores(),
        extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")})
    jvm_pid = spark.sparkContext._gateway.proc.pid
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        start_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        with tracer.span("session", "warmup"):
            warmup(spark)
        warmup_s = time.perf_counter() - t1

        wl = workloads.WORKLOADS[args.workload](
            spark, tracer, args.seed, os.path.join(work, "inputs"))
        t = time.perf_counter()
        wl.setup()
        wl.prepare()
        stage_s = time.perf_counter() - t
        tracer.enabled = False
        t = time.perf_counter()
        wl.warm()
        log(f"setup {stage_s:.3f}s, warm-up {time.perf_counter() - t:.3f}s")

        # a traced run alternates untraced and traced ops, so the JIT's
        # steady speed-up over a run biases neither side of the overhead
        modes = (False, True) if args.trace else (False,)
        by_mode, failed = run_ops(wl, tracer, args.seconds, modes, log)
        plain, traced = by_mode[False], by_mode.get(True, [])
        results = plain + traced
        peak_mb = process_tree_hwm_mb([os.getpid(), jvm_pid])
        env = environment(spark)
    finally:
        spark.stop()

    attempted = len(results) + failed
    if args.trace:
        metrics = report.per_layer(wl, tracer, start_s, warmup_s, peak_mb, plain, traced)
    else:
        metrics = report.end_to_end(start_s + warmup_s + stage_s, results)
    detail = report.detail(wl, results, env, attempted, failed, peak_mb)
    print(json.dumps({"detail": detail}))
    if args.spans:
        report.dump_spans(args.spans, wl, tracer)
    print(json.dumps({
        "correct": failed == 0 and bool(results), "attempted": attempted,
        "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""spark-kg benchmark entry point.

    python3 perfbench/run.py --workload kg_build_sparse --seed 1 --seconds 10 --trace 0

Run from the repository root. With ``--trace 0`` the last stdout line is
the end-to-end result; with ``--trace 1`` it is the per-layer result of a
separate traced run, whose span dump lands in ``perfbench/traces/``.
``--digest-check`` generates the workload input three times (seed, seed,
seed + 1) and checks that equal seeds give byte-identical inputs and
different seeds different ones.

Every file the run writes stays under ``perfbench/.work/`` (removed at the
end) or ``perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# untimed calls before the timed ones: the first pays code generation, JIT
# and worker-side caches, and calls keep getting faster for a few more
WARM_OPS = 2
MIN_TIMED_OPS = 2


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def prepare_env(work: str) -> None:
    """Python workers import the engine from the checkout; every scratch
    path of Python, the JVM and Spark points inside the work directory."""
    sys.path[:0] = [ROOT, HERE]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT, HERE, os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
    os.environ["TMPDIR"] = tmp
    os.environ["MEHARI_SPARK_LOCAL_DIR"] = os.path.join(work, "spark-local")
    from workloads import DRIVER_MEM

    os.environ["MEHARI_SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_CPUS", None)


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def timed_setup(wl, work: str):
    from workloads import session

    t0 = time.perf_counter()
    spark = session(f"perfbench-{wl.name}", work)
    t1 = time.perf_counter()
    wl.setup(spark)
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def run_op(wl, spark, work: str, i: int) -> tuple[float, list[str]]:
    """One timed operation, then its (untimed) output check. The log line
    gives the CPU time of this process tree and the CPU time the host stole
    from the VM during the operation, to tell a slow host from slow code."""
    from probes import steal_s, tree_cpu_s

    out = os.path.join(work, "out", f"op{i}")
    c0, s0 = tree_cpu_s(os.getpid()), steal_s()
    t0 = time.perf_counter()
    try:
        result = wl.operation(spark, out, run_id=f"op{i}")
    except Exception:  # a failed operation is counted, not fatal
        return time.perf_counter() - t0, [traceback.format_exc(limit=3)]
    wall = time.perf_counter() - t0
    cpu, stolen = tree_cpu_s(os.getpid()) - c0, steal_s() - s0
    t1 = time.perf_counter()
    errs = wl.check(spark, out, result)
    shutil.rmtree(out, ignore_errors=True)
    log(
        f"op{i} result {result}; cpu {cpu:.2f}s, stolen {stolen:.2f}s, "
        f"check {time.perf_counter() - t1:.2f}s"
    )
    return wall, errs


def end_to_end(wl, work: str, seconds: float) -> dict:
    from probes import MemSampler

    attempted = failed = 0
    walls: list[float] = []
    # set-up is timed once per run, from JVM launch: repeating it would
    # need a fresh JVM each time, at ~12 s a launch
    spark, start_s, rest_s = timed_setup(wl, work)
    log(f"setup: session {start_s:.3f}s + workers/input {rest_s:.3f}s")
    with MemSampler() as mem:
        for i in range(WARM_OPS):
            wall, errs = run_op(wl, spark, work, i)
            attempted += 1
            failed += int(bool(errs))
            log(f"op{i} (warm-up) {wall:.3f}s errors={errs}")
        busy = 0.0
        while busy < seconds or len(walls) < MIN_TIMED_OPS:
            i = len(walls) + WARM_OPS
            wall, errs = run_op(wl, spark, work, i)
            attempted += 1
            failed += int(bool(errs))
            walls.append(wall)
            busy += wall
            log(f"op{i} {wall:.3f}s errors={errs}")
        stop_jvm(spark)
    metrics = {
        "setup_s": (start_s + rest_s, "s"),
        "rows_per_s": (wl.input_rows / statistics.median(walls), "1/s"),
        "peak_pss_mb": (mem.peak_mb, "MB"),
    }
    return {"attempted": attempted, "failed": failed, "metrics": metrics}


def digest_check(wl_cls, work: str, seed: int) -> None:
    from gen import input_digest

    digests = []
    for i, s in enumerate((seed, seed, seed + 1)):
        wl = wl_cls(os.path.join(work, f"d{i}"), s)
        wl.generate()
        digests.append(input_digest(wl.input_dir))
    ok = digests[0] == digests[1] and digests[0] != digests[2]
    log(f"digests seed={seed}: {digests[0][:16]} {digests[1][:16]}; seed={seed + 1}: {digests[2][:16]}")
    print(json.dumps({"digest_check": ok, "digests": digests}))
    if not ok:
        sys.exit(1)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--digest-check", action="store_true")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "mehari_spark")):
        sys.exit("perfbench: run from a checkout that holds mehari_spark/")

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
    try:
        if args.digest_check:
            digest_check(WORKLOADS[args.workload], work, args.seed)
            return
        wl = WORKLOADS[args.workload](work, args.seed)
        t0 = time.perf_counter()
        wl.generate()
        log(f"generated {wl.input_rows} rows in {time.perf_counter() - t0:.2f}s")
        if args.trace:
            from tracing import traced_run

            res = traced_run(wl, work, args.seed)
        else:
            res = end_to_end(wl, work, args.seconds)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()
                },
            }
        )
    )


if __name__ == "__main__":
    main()

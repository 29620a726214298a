"""Two-parallelism scaling benchmark (the north_rule N vs 4N evidence).

Runs the full KG pipeline (scan -> AC mention scan -> triple assembly ->
coref -> bucketed write) on the SAME input at local[N] and local[4N] in
fresh subprocesses (fresh JVM each, so executor-thread count is honored),
reports turns/sec at both and scaling efficiency = (rate_4N / rate_N) / 4.

Writes results into BENCH/BASELINE.md and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

WORKER = r"""
import json, os, sys, time, shutil, uuid
cores = int(sys.argv[1]); sf_dir = sys.argv[2]; out = sys.argv[3]
# attempt-unique subdir: a RETRY after a hung/killed attempt must not
# resume the previous attempt's bucket checkpoints (that skips the work
# being measured and reports garbage throughput)
out = os.path.join(out, uuid.uuid4().hex[:8])
rep = int(os.environ.get("SCALING_REPLICATE", "32"))
from pyspark.sql import functions as F
from mehari_spark.session import get_spark
from mehari_spark.sources.transcripts import transcripts
from mehari_spark.dictionary import demo_patterns
from mehari_spark.plans.pipeline import run_pipeline
spark = get_spark(f"scaling-{cores}", cores=cores, shuffle_partitions=max(cores, 8))
spark.sparkContext.setLogLevel("ERROR")
t = transcripts(spark, sf_dir, spread=cores * 2)
if rep > 1:  # same enlarged input at both parallelism levels
    reps = spark.range(rep).select(F.col("id").alias("_rep"))
    t = (t.crossJoin(reps)
         .withColumn("conv_id", F.concat_ws("_", "conv_id", F.col("_rep").cast("string")))
         .drop("_rep"))
n_turns = t.count()
# warmup: spin up python workers / JIT / shuffle services once (steady-state
# throughput is what the N-vs-4N comparison measures)
run_pipeline(spark, t, demo_patterns(), os.path.join(out, f"warm_{cores}"),
             n_buckets=8)
work = os.path.join(out, f"run_{cores}")
t0 = time.time()
metrics = run_pipeline(spark, t, demo_patterns(), work, n_buckets=8)
dt = time.time() - t0
# compute-only variant: same plan, noop sink — isolates the scalable
# compute+shuffle path from single-local-disk write I/O (which on a real
# cluster scales with executor count)
from mehari_spark.operators.triples import extract_triples_fused
from mehari_spark.operators.coref import coref_clusters
tr = extract_triples_fused(t, demo_patterns())
tr.write.format("noop").mode("overwrite").save()   # python-worker warm
t0 = time.time()
tr.write.format("noop").mode("overwrite").save()
coref_clusters(tr).write.format("noop").mode("overwrite").save()
dt_c = time.time() - t0
print(json.dumps({"cores": cores, "turns": n_turns, "elapsed_s": dt,
                  "turns_per_sec": n_turns / dt,
                  "compute_elapsed_s": dt_c,
                  "compute_turns_per_sec": n_turns / dt_c,
                  "pipeline": metrics}))
spark.stop()
"""


def run(cores: int, sf_dir: str, out: str, attempts: int = 2) -> dict:
    env = dict(os.environ)
    timeout_s = int(os.environ.get("SCALING_TIMEOUT_S", "900"))
    last_err = ""
    for attempt in range(attempts):
        try:
            res = subprocess.run(
                [sys.executable, "-c", WORKER, str(cores), sf_dir, out],
                capture_output=True, text=True, env=env, timeout=timeout_s,
                cwd=os.path.dirname(os.path.abspath(__file__)),
            )
        except subprocess.TimeoutExpired:
            last_err = f"worker local[{cores}] hung > {timeout_s}s (attempt {attempt + 1})"
            print(last_err, file=sys.stderr)
            continue
        if res.returncode == 0:
            line = [l for l in res.stdout.strip().splitlines() if l.startswith("{")][-1]
            return json.loads(line)
        last_err = res.stderr[-4000:]
        print(last_err, file=sys.stderr)
    raise SystemExit(f"worker local[{cores}] failed: {last_err[-500:]}")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n = int(os.environ.get("SCALING_N", "8"))
    with tempfile.TemporaryDirectory() as tmp:
        lo = run(n, sf_dir, tmp)
        hi = run(4 * n, sf_dir, tmp)
    eff = (hi["turns_per_sec"] / lo["turns_per_sec"]) / 4.0
    ceff = (hi["compute_turns_per_sec"] / lo["compute_turns_per_sec"]) / 4.0
    result = {
        "metric": "scaling_efficiency",
        "value": round(eff, 3),
        "compute_value": round(ceff, 3),
        "unit": "ratio",
        "n_cores": n,
        "n4_cores": 4 * n,
        "turns": lo["turns"],
        "turns_per_sec_n": round(lo["turns_per_sec"], 1),
        "turns_per_sec_4n": round(hi["turns_per_sec"], 1),
        "compute_turns_per_sec_n": round(lo["compute_turns_per_sec"], 1),
        "compute_turns_per_sec_4n": round(hi["compute_turns_per_sec"], 1),
        "elapsed_n_s": round(lo["elapsed_s"], 2),
        "elapsed_4n_s": round(hi["elapsed_s"], 2),
        "sf_dir": sf_dir,
    }
    print(json.dumps(result))
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/scaling.json", "w") as f:
        json.dump(result, f, indent=2)


if __name__ == "__main__":
    main()

"""Large-dictionary matching throughput evidence (north_rule dictionary
scale; mehari ships ~250k transcripts in its dictionary, txs.proto:220-229).

Builds a 100k-alias multi-token ambiguous dictionary over the corpus
vocabulary, runs the fused triple kernel over the sf0.1 transcripts
(replicated DICT_REPLICATE x for a steady-state measurement) and prints one
JSON line with turns/s for the 100k-alias dictionary and, for comparison,
the 25-pattern demo dictionary on the same input. Both run the same
Arrow-batch kernel; the result labels ``ac_100k`` and ``vectorized_25`` are
kept so readings stay comparable with earlier ones.

Usage: DICT_ALIASES=100000 DICT_REPLICATE=16 python bench_dict.py
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_aliases = int(os.environ.get("DICT_ALIASES", "100000"))
    rep = int(os.environ.get("DICT_REPLICATE", "16"))

    from pyspark.sql import functions as F

    from mehari_spark.datagen import big_dictionary
    from mehari_spark.dictionary import DEMO_PREDICATES, demo_patterns
    from mehari_spark.operators.triples import extract_triples_fused
    from mehari_spark.session import get_spark
    from mehari_spark.sources.transcripts import transcripts

    spark = get_spark("mehari-spark-bench-dict", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")

    # corpus vocabulary (the dictionary must actually hit in the text)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = sorted(
        r.tok
        for r in docs.select(
            F.explode(F.split("text", " ")).alias("tok")
        ).distinct().collect()
    )
    pats = big_dictionary(vocab, n_aliases, predicates=DEMO_PREDICATES)
    t = transcripts(spark, sf_dir, spread=cores * 2)
    if rep > 1:
        reps = spark.range(rep).select(F.col("id").alias("_rep"))
        t = (
            t.crossJoin(reps)
            .withColumn(
                "conv_id",
                F.concat_ws("_", "conv_id", F.col("_rep").cast("string")),
            )
            .drop("_rep")
        )
    n_turns = t.count()

    results = {}
    for label, p in (("ac_100k", pats), ("vectorized_25", demo_patterns())):
        out = extract_triples_fused(t, p)
        out.write.format("noop").mode("overwrite").save()  # warm workers
        t0 = time.time()
        out.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        results[label] = {
            "n_patterns": len(p),
            "elapsed_s": round(dt, 2),
            "turns_per_sec": round(n_turns / dt, 1),
        }
        print(f"# {label}: {len(p)} patterns, {n_turns/dt:,.0f} turns/s", file=sys.stderr)

    print(
        json.dumps(
            {
                "metric": "dictionary_scale_turns_per_sec",
                "value": results["ac_100k"]["turns_per_sec"],
                "unit": "turns/sec",
                "turns": n_turns,
                "cores": cores,
                "runs": results,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

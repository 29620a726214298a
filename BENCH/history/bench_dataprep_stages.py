"""Per-stage N-vs-4N decomposition of the dataprep pipeline (run once per
parallelism level: `python BENCH/history/bench_dataprep_stages.py 4` then
`... 16`).

Produces the stage table recorded in BENCH/BASELINE.md: which stage of
quality->lang->exact-dedup->signatures->LSH pairs->CC carries the time and
how each scales with cores. Emits one JSON line per stage."""
import json, os, sys, time
_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")
cores = int(sys.argv[1]) if len(sys.argv) > 1 else 4
rep = int(os.environ.get("DATAPREP_REPLICATE", "16"))
from pyspark.sql import functions as F
from mehari_spark.session import get_spark
from mehari_spark.operators.textstats import STOPWORDS, lang_id, quality_filter
from mehari_spark.operators.dedup import minhash_lsh_pairs, exact_dedup_groups
from mehari_spark.operators.blocking import minhash_band_rows, whitespace_tokens
from mehari_spark.operators.coref import connected_components_global
spark = get_spark(f"probe-{cores}", cores=cores, shuffle_partitions=max(cores, 8))
spark.sparkContext.setLogLevel("ERROR")
docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
tagged = F.concat_ws(" ", F.transform(F.split("text", " "),
    lambda t: F.when(F.array_contains(stop_arr, t), t).otherwise(F.concat(t, F.lit("@"), F.col("_r")))))
reps = spark.range(rep).select(F.col("id").alias("_r"))
docs = (docs.crossJoin(reps)
        .select((F.col("doc_id") + F.col("_r") * 1_000_000).alias("doc_id"), "lang", tagged.alias("text")))
docs = docs.repartition(cores * 2).localCheckpoint(eager=True)
n = docs.count()

def t(name, fn, warm=True):
    if warm: fn()
    t0 = time.time(); fn(); dt = time.time() - t0
    print(json.dumps({"stage": name, "cores": cores, "sec": round(dt,2), "docs_per_sec": round(n/dt,1)}))
    return dt

t("narrow(quality+lang)", lambda: (quality_filter(docs).join(lang_id(docs), "doc_id")).write.format("noop").mode("overwrite").save())
t("exact_dedup", lambda: exact_dedup_groups(docs).write.format("noop").mode("overwrite").save())
bands = docs.select("doc_id","text").mapInPandas(lambda it: minhash_band_rows(it, "doc_id", "text", whitespace_tokens, 128, 8, 42), schema="doc_id long, band_idx int, band_key long")
t("minhash_signatures", lambda: bands.write.format("noop").mode("overwrite").save())
pairs = minhash_lsh_pairs(docs, threshold=0.95).select("doc_a","doc_b")
t("lsh_pairs_full", lambda: pairs.write.format("noop").mode("overwrite").save())
pairs_ck = pairs.localCheckpoint(eager=True)
t("cc_only", lambda: connected_components_global(pairs_ck, src="doc_a", dst="doc_b", check_every=2).write.format("noop").mode("overwrite").save(), warm=False)
spark.stop()

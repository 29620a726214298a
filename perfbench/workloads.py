"""The benchmark workloads: seeded inputs, one timed operation, its check.

A workload object is built from (work_dir, seed). ``generate`` writes the
inputs and computes the reference outside any timing; ``setup`` is the
program set-up that ``setup_s`` times; ``operation`` is one timed call into
a production entry point; ``check`` compares that call's output with the
reference and returns a list of mismatch descriptions (empty = correct).
"""

from __future__ import annotations

import glob
import json
import os
import random

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import refs

HERE = os.path.dirname(os.path.abspath(__file__))
CORES = 4
DRIVER_MEM = "1536m"


def session(app: str, work_dir: str):
    """Production session factory at local[4], with every scratch path
    inside the work directory."""
    from mehari_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        app,
        cores=CORES,
        shuffle_partitions=2 * CORES,
        extra_conf={
            # a fixed-size heap keeps the memory reading from following
            # how far the heap happened to grow before a collection
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}"
            ),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark) -> None:
    """Start one Python worker per core (the pool every Arrow kernel uses)."""

    def identity(it):
        yield from it

    (
        spark.range(0, CORES, 1, CORES)
        .mapInPandas(identity, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


class Workload:
    name = ""
    input_rows = 0

    def __init__(self, work_dir: str, seed: int) -> None:
        self.seed = seed
        self.input_dir = os.path.join(work_dir, "input")

    def generate(self) -> None:
        raise NotImplementedError

    def setup(self, spark) -> None:
        """Everything after session start that makes the input readable."""
        warm_workers(spark)
        spark.read.parquet(self.input_dir).schema

    def operation(self, spark, out_dir: str, run_id: str) -> dict:
        raise NotImplementedError

    def check(self, spark, out_dir: str, result: dict) -> list[str]:
        raise NotImplementedError


def read_table(table_dir: str, columns: list[str]) -> pa.Table:
    """A committed bucketed table, read with pyarrow (no Spark)."""
    files = sorted(glob.glob(os.path.join(table_dir, "bucket=*", "*.parquet")))
    if not files:
        return pa.table({c: pa.array([], pa.string()) for c in columns})
    return pa.concat_tables(pq.read_table(f, columns=columns) for f in files)


def _diff(name: str, got: set, want: set) -> list[str]:
    if got == want:
        return []
    return [
        f"{name}: {len(got - want)} unexpected, {len(want - got)} missing "
        f"of {len(want)} (e.g. {sorted(got ^ want)[:2]})"
    ]


class KgBuild(Workload):
    """``run_pipeline`` (fused). ``check`` maps every written conversation
    to its reference conversation (``map_convs``; rows of unmapped ones are
    skipped) and requires the distinct mapped triples and coreference rows
    to equal the reference, each written exactly ``copies`` times."""

    copies = 1

    def kb(self, spark) -> tuple:
        """(entity KB, predicate KB) for enrichment, or (None, None)."""
        return None, None

    def map_convs(self, conv: pa.ChunkedArray) -> pa.ChunkedArray:
        """Reference conversation of each conv_id, null where none."""
        raise NotImplementedError

    def operation(self, spark, out_dir: str, run_id: str) -> dict:
        from mehari_spark.plans.pipeline import run_pipeline

        ekb, pkb = self.kb(spark)
        t = spark.read.parquet(self.input_dir)
        return run_pipeline(
            spark, t, self.patterns, out_dir, run_id=run_id,
            entity_kb=ekb, predicate_kb=pkb,
        )

    def _check_table(self, name: str, table_dir: str, columns: list[str], want: set) -> list[str]:
        t = read_table(table_dir, columns)
        t = t.set_column(0, "conv_id", self.map_convs(t.column("conv_id")))
        t = t.filter(pc.is_valid(t.column("conv_id")))
        g = t.group_by(columns).aggregate([([], "count_all")])
        got = dict(zip(
            zip(*(g.column(c).to_pylist() for c in columns)),
            g.column("count_all").to_pylist(),
        ))
        errs = _diff(name, set(got), want)
        wrong = sum(1 for n in got.values() if n != self.copies)
        if wrong:
            errs.append(f"{name}: {wrong} rows not written exactly {self.copies} times")
        return errs

    def check(self, spark, out_dir: str, result: dict) -> list[str]:
        return self._check_table(
            "triples", os.path.join(out_dir, "triples"),
            ["conv_id", "turn_idx", "subj_id", "pred_id", "obj_id"], self.golden,
        ) + self._check_table(
            "coref clusters", os.path.join(out_dir, "entities"),
            ["conv_id", "entity_id", "cluster_id"], self.golden_clusters,
        )


class KgBuildDense(KgBuild):
    """The demo 25-pattern dictionary with entity/predicate KB enrichment
    over replicated transcripts: most tokens are dictionary hits, the
    kernel takes its vectorized single-token path, and scan, enrichment,
    the bucketed write and coref take most of the time."""

    name = "kg_build_dense"
    base_docs = 5000
    replicas = 8
    copies = replicas
    n_files = 8

    def generate(self) -> None:
        from mehari_spark.datagen import Turn, reference_triples
        from mehari_spark.dictionary import demo_patterns

        docs = gen.base_documents(self.base_docs)
        self.input_rows = gen.write_replicated_transcripts(
            docs, self.replicas, self.seed, self.input_dir, self.n_files
        )
        self.patterns = demo_patterns()
        turns = [
            Turn(gen.base_conv_id(d.doc_id), t, "", text, None, None)
            for d in docs
            for t, text in enumerate(gen.doc_turns(d))
        ]
        self.golden = reference_triples(turns, self.patterns)
        self.golden_clusters = refs.union_find_clusters(self.golden)

    def kb(self, spark) -> tuple:
        from mehari_spark.dictionary import entity_kb_df, predicate_kb_df

        return entity_kb_df(spark), predicate_kb_df(spark)

    def map_convs(self, conv: pa.ChunkedArray) -> pa.ChunkedArray:
        return pc.list_element(pc.split_pattern(conv, "~"), 0)  # drop the replica tag


class KgBuildSparse(KgBuild):
    """A Zipfian corpus with a ~100k-alias multi-token dictionary, no KB:
    the Aho-Corasick path. The reference covers a seeded sample of
    conversations."""

    name = "kg_build_sparse"
    n_convs = 48000
    n_files = 8
    sample_convs = 400

    def generate(self) -> None:
        from mehari_spark.dictionary import DictPattern

        corpus = gen.sparse_corpus(self.seed, self.n_convs)
        self.input_rows = gen.write_rows(corpus.rows, self.input_dir, self.n_files)
        self.patterns = [
            DictPattern(a, "E", 10_000 + i, 10_000 + i, 0)
            for i, a in enumerate(corpus.aliases)
        ] + [
            DictPattern((s,), "P", pid, canon, rank)
            for s, pid, rank, canon in corpus.predicates
        ]
        convs = sorted({r[0] for r in corpus.rows})
        self.sample = set(random.Random(self.seed).sample(convs, self.sample_convs))
        turns = [(r[0], r[1], r[3]) for r in corpus.rows if r[0] in self.sample]
        self.golden = refs.window_reference_triples(turns, self.patterns)
        self.golden_clusters = refs.union_find_clusters(self.golden)
        self.corpus = corpus

    def map_convs(self, conv: pa.ChunkedArray) -> pa.ChunkedArray:
        sampled = pc.is_in(conv, value_set=pa.array(sorted(self.sample)))
        return pc.if_else(sampled, conv, pa.scalar(None, pa.string()))


class DataprepCurate(Workload):
    """``run_dataprep`` over the replica-tagged documents corpus: quality
    gate, language id, BPE counts, MinHash-LSH near-dup pairs, global CC and
    the bucketed commit of the kept corpus. Not a timed workload (its
    many short stages make its wall time follow the CPU time the host
    steals from the VM); the traced run of ``kg_build_sparse`` times its
    layers and checks its output."""

    name = "dataprep_curate"
    base_docs = 750
    replicas = 2
    n_files = 8

    def generate(self) -> None:
        docs = gen.tagged_documents(
            gen.base_documents(self.base_docs), self.replicas, self.seed
        )
        self.input_rows = gen.write_documents(docs, self.input_dir, self.n_files)
        with open(os.path.join(HERE, "pinned.json")) as f:
            self.pinned = json.load(f)[self.name]

    def operation(self, spark, out_dir: str, run_id: str) -> dict:
        from mehari_spark.plans.dataprep import run_dataprep
        from mehari_spark.plans.stagecache import clear_shared_stages

        # every call is a whole job: nothing cached by an earlier call
        clear_shared_stages()
        docs = spark.read.parquet(self.input_dir)
        return run_dataprep(spark, docs, out_dir, run_id=run_id)

    def check(self, spark, out_dir: str, result: dict) -> list[str]:
        errs = []
        want = self.pinned["counters"]
        got = {k: result.get(k) for k in want}
        if got != want:
            errs.append(f"counters {got} != pinned {want}")
        digest = refs.ids_digest(read_table(out_dir, ["doc_id"]).column("doc_id").to_pylist())
        if digest != self.pinned["kept_doc_ids_sha256"]:
            errs.append(f"kept doc-id digest {digest} != pinned")
        return errs


WORKLOADS = {w.name: w for w in (KgBuildSparse, KgBuildDense)}

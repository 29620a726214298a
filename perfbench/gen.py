"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of its arguments: the same seed gives
byte-identical parquet files (``input_digest`` checks it). The program under
test only ever sees the files written here.

Inputs:

- ``base_documents``: a fixed corpus shaped like the engine's synthetic
  ``documents`` table (30-token vocabulary, 10-100 tokens per document,
  ~5% near-duplicates marked with a trailing ``dup`` token). It is fixed,
  not seeded: the workload seed only salts replica ids and sets row and
  file order, so results that depend on content alone stay pinned.
- replicated transcripts derived from those documents the way
  ``mehari_spark.sources.transcripts.derive_transcripts`` does it (16 tokens
  per turn, roles cycling user/assistant/tool), written with pyarrow.
- ``sparse_corpus``: a Zipfian ~10^5-token vocabulary, long-tailed turn
  lengths and a ~100k-alias dictionary of 1-4-token, partly overlapping
  aliases, all drawn from the seed.
- replica-tagged documents for the curation leg of the traced run.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14
TURN_TOKENS = 16
ROLES = ("user", "assistant", "tool")
TS_BASE = datetime(2024, 1, 1)
BASE_SEED = 20240101  # the fixed document corpus; never the workload seed

TURNS_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
DOCS_SCHEMA = pa.schema(
    [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string())]
)


@dataclass(frozen=True)
class Doc:
    doc_id: int
    text: str
    lang: str


def base_documents(n_docs: int) -> list[Doc]:
    """The fixed documents corpus (independent of the workload seed)."""
    rng = random.Random(BASE_SEED)
    docs: list[Doc] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:
            # near-duplicate of an earlier document: same tokens + one marker
            text = docs[rng.randrange(i)].text + " dup"
        elif i > 10 and r < 0.052:
            text = docs[rng.randrange(i)].text  # exact duplicate
        else:
            n = rng.randint(10, 100)
            text = " ".join(rng.choice(VOCAB) for _ in range(n))
        docs.append(Doc(i, text, rng.choice(LANGS)))
    return docs


def doc_turns(doc: Doc) -> list[str]:
    """Turn texts of one document (derive_transcripts' 16-token split)."""
    w = doc.text.split(" ")
    return [
        " ".join(w[k : k + TURN_TOKENS]) for k in range(0, len(w), TURN_TOKENS)
    ]


def base_conv_id(doc_id: int) -> str:
    return f"conv_{doc_id:08d}"


def conv_id(doc_id: int, salt: str, replica: int) -> str:
    """A replica's conv_id: the base id, ``~``, then the replica tag."""
    return f"{base_conv_id(doc_id)}~{salt}{replica}"


def seed_salt(seed: int) -> str:
    return hashlib.sha1(f"salt-{seed}".encode()).hexdigest()[:6]


def _turn_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[] for _ in TURNS_SCHEMA]
    return pa.table(
        {f.name: pa.array(c, type=f.type) for f, c in zip(TURNS_SCHEMA, cols)},
        schema=TURNS_SCHEMA,
    )


def _turn_rows(doc_id: int, cid: str, texts: list[str]) -> list[tuple]:
    return [
        (
            cid,
            t,
            ROLES[t % 3],
            text,
            "search" if t % 3 == 2 else None,
            TS_BASE + timedelta(seconds=doc_id * 3600 + t * 60),
        )
        for t, text in enumerate(texts)
    ]


def write_replicated_transcripts(
    docs: list[Doc], replicas: int, seed: int, out_dir: str, n_files: int
) -> int:
    """Replicate the documents' transcripts ``replicas`` times with distinct
    salted conv_ids; the seed sets the salt and the row/file order. Returns
    the number of turns written."""
    salt = seed_salt(seed)
    turns = [doc_turns(d) for d in docs]
    rows: list[tuple] = []
    for r in range(replicas):
        for d, texts in zip(docs, turns):
            rows += _turn_rows(d.doc_id, conv_id(d.doc_id, salt, r), texts)
    random.Random(seed).shuffle(rows)
    return write_rows(rows, out_dir, n_files)


def write_rows(rows: list[tuple], out_dir: str, n_files: int) -> int:
    """Transcript rows split evenly over ``n_files`` parquet files."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-len(rows) // n_files)
    for f in range(n_files):
        pq.write_table(
            _turn_table(rows[f * step : (f + 1) * step]),
            os.path.join(out_dir, f"part-{f:05d}.parquet"),
        )
    return len(rows)


# --- sparse corpus ------------------------------------------------------------


@dataclass(frozen=True)
class SparseCorpus:
    rows: list[tuple]  # transcripts rows
    aliases: list[tuple[str, ...]]  # entity aliases; entity id = 10_000 + index
    predicates: list[tuple[str, int, int, int]]  # (surface, pred_id, rank, canon)


VOCAB_SIZE = 100_000
N_ALIASES = 100_000
MENTION_RATE = 0.03  # share of token positions that hold a planted alias
PREDICATE_RATE = 0.02  # share that hold a predicate surface


def sparse_corpus(seed: int, n_convs: int) -> SparseCorpus:
    """Zipfian text with planted multi-token mentions (seed sets all of it)."""
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i:05x}" for i in range(VOCAB_SIZE)], dtype=object)
    p = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** 1.05
    cdf = np.cumsum(p / p.sum())

    # alias tokens come from the vocabulary's tail (ranks >= 5000), so
    # running text starts few natural matches and most mentions are the
    # planted ones; ~1/5 of the aliases extend or trim another alias, which
    # makes shared prefixes and contained aliases
    def alias_tok(k):
        return rng.integers(5000, VOCAB_SIZE, k)

    seen: set[tuple[str, ...]] = set()
    aliases: list[tuple[str, ...]] = []
    lens = rng.choice([1, 2, 3, 4], size=N_ALIASES * 2, p=[0.1, 0.45, 0.3, 0.15])
    for L in lens:
        if len(aliases) >= N_ALIASES:
            break
        if aliases and rng.random() < 0.2:
            a = aliases[int(rng.integers(len(aliases)))]
            if len(a) < 4 and rng.random() < 0.6:
                a = a + (vocab[alias_tok(1)[0]],)
            elif len(a) > 1:
                a = a[1:]
        else:
            a = tuple(vocab[alias_tok(int(L))])
        if a not in seen:
            seen.add(a)
            aliases.append(a)
    predicates = [(f"rel{i}", 300 + i, 1 + i % 5, 300 + i - i % 2) for i in range(24)]
    pred_surfaces = [s for s, *_ in predicates]

    # every token position is drawn at once: a Zipfian word, or (at the
    # planted rates) a whole alias or a predicate surface in its place
    n_turns = rng.integers(1, 12, n_convs)
    # long-tailed turn lengths: lognormal, median ~14 tokens
    lengths = np.clip(rng.lognormal(2.6, 0.8, int(n_turns.sum())), 1, 400).astype(int)
    n_tok = int(lengths.sum())
    tokens = vocab[np.searchsorted(cdf, rng.random(n_tok))]
    kinds = rng.random(n_tok)
    planted = kinds < MENTION_RATE
    alias_text = np.array([" ".join(a) for a in aliases], dtype=object)
    tokens[planted] = alias_text[rng.integers(len(aliases), size=int(planted.sum()))]
    is_pred = ~planted & (kinds < MENTION_RATE + PREDICATE_RATE)
    tokens[is_pred] = np.array(pred_surfaces, dtype=object)[
        rng.integers(len(pred_surfaces), size=int(is_pred.sum()))
    ]
    ends = np.cumsum(lengths)
    texts = [" ".join(tokens[e - L : e]) for e, L in zip(ends.tolist(), lengths.tolist())]
    rows: list[tuple] = []
    t = 0
    for c, n in enumerate(n_turns.tolist()):
        rows += _turn_rows(c, f"sconv_{c:07d}", texts[t : t + n])
        t += n
    return SparseCorpus(rows, aliases, predicates)


# --- documents ------------------------------------------------------------------

STOPWORDS = ("the", "a")


def tagged_documents(docs: list[Doc], replicas: int, seed: int) -> list[Doc]:
    """Replica-tagged corpus (the tagging of bench_scaling_dataprep.py): every
    non-stopword token gets ``@r<replica>``, a bijection per replica, so the
    within-replica near-dup structure holds and no cross-replica cliques
    form. The seed sets the row and file order only: MinHash-LSH recall
    depends on the token strings, so a seeded tag would make the curation
    counters differ from seed to seed and leave nothing to pin them to."""
    out = []
    for r in range(replicas):
        tag = f"@r{r}"
        for d in docs:
            text = " ".join(
                t if t in STOPWORDS else t + tag for t in d.text.split(" ")
            )
            out.append(Doc(d.doc_id + r * 1_000_000, text, d.lang))
    random.Random(seed).shuffle(out)
    return out


def write_documents(docs: list[Doc], out_dir: str, n_files: int) -> int:
    os.makedirs(out_dir, exist_ok=True)
    step = -(-len(docs) // n_files)
    for f in range(n_files):
        part = docs[f * step : (f + 1) * step]
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([d.doc_id for d in part], pa.int64()),
                    "text": pa.array([d.text for d in part], pa.string()),
                    "lang": pa.array([d.lang for d in part], pa.string()),
                },
                schema=DOCS_SCHEMA,
            ),
            os.path.join(out_dir, f"part-{f:05d}.parquet"),
        )
    return len(docs)


def input_digest(path: str) -> str:
    """sha256 over every file under ``path`` (sorted relative names + bytes)."""
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(path)):
        for name in sorted(files):
            full = os.path.join(root, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()

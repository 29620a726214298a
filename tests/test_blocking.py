"""The LSH blocking stage (operators/blocking.py).

- The rows of the LSH registry entries that no oracle checks are pinned:
  the sha256 of each entry's sorted rows at sf0.001. A refactor of the
  blocking stage must leave every digest unchanged.
- The vectorized MinHash band kernel gives, row for row, what one scalar
  ``minhash_signature`` + ``band_keys`` call per value gives, for both
  tokenisers and for empty, ``None`` and non-ASCII text. It runs without
  Spark.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest

from .conftest import SF_UNIT

PINNED_SHA256 = {
    "doc_minhash_pairs": "bc23caa7e12b2e6952d9d3ac4005c2c9ab3a50e7e21df16ef82ce809aabbebd7",
    "doc_dedup_clusters_lsh": "77b4d653d01ad6ee56cbe5e4496bc854b00fc33b3af7b9deaab13c03c12400b2",
    "doc_simhash_pairs": "9d95499ec90b482364b0c36ec8e113efd76848aa9d122ec3efe306886f32447a",
    "emb_lsh_buckets": "d9dc6f3a3186e208300a7b338af090a84395e7b50b8fc5eb613dea059f73dbf8",
}


def rows_sha256(df) -> str:
    """sha256 of a frame's rows, each joined as ``str`` values with '|' in
    column order, sorted, and joined with newlines."""
    rows = sorted("|".join(str(v) for v in r) for r in df.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


@pytest.mark.parametrize("name", sorted(PINNED_SHA256))
def test_lsh_entry_rows_pinned(spark, name):
    from mehari_spark.plans.queries import QUERIES

    assert rows_sha256(QUERIES[name][0](spark, SF_UNIT)) == PINNED_SHA256[name]


# non-ASCII, empty, None, doubled spaces, a repeat, and one document with
# more distinct tokens than the signature has values
TEXTS = [
    "the cat sat on the mat",
    "the cat sat on the mat",
    "",
    None,
    "naïve café über 東京 🙂 ok",
    "a  b",
    " ".join(f"w{i}" for i in range(300)),
]


def _shingle_tokens(v) -> set[str]:
    from mehari_spark.kernels.minhash import shingles

    return set(shingles(f"^{v}$", 2))


def _kernel_rows(tokens, payload=None, num_perm=128, bands=8, seed=42):
    from mehari_spark.operators.blocking import minhash_band_rows

    pdf = pd.DataFrame({"doc_id": range(len(TEXTS)), "text": TEXTS})
    # two batches and an empty one: the token memo spans batches
    batches = [pdf.iloc[:3], pdf.iloc[:0], pdf.iloc[3:]]
    return pd.concat(
        minhash_band_rows(iter(batches), "doc_id", "text", tokens, num_perm, bands, seed, payload),
        ignore_index=True,
    )


def _scalar_signature(tok_set, num_perm=128, seed=42):
    from mehari_spark.kernels.minhash import hash_tokens, minhash_signature, perm_params

    a, b = perm_params(num_perm, seed=seed)
    th = np.sort(hash_tokens(sorted(tok_set)))
    return th, minhash_signature(th, a, b)


@pytest.mark.parametrize("tokens", ["whitespace", "shingles"])
def test_minhash_band_rows_equal_scalar_reference(tokens):
    from mehari_spark.kernels.minhash import band_keys
    from mehari_spark.operators.blocking import whitespace_tokens

    fn = whitespace_tokens if tokens == "whitespace" else _shingle_tokens
    got = _kernel_rows(fn)
    assert got.dtypes.to_dict() == {
        "doc_id": np.dtype("int64"),
        "band_idx": np.dtype("int32"),
        "band_key": np.dtype("int64"),
    }
    want = [
        (doc, band, key)
        for doc, text in enumerate(TEXTS)
        for band, key in enumerate(band_keys(_scalar_signature(fn(text))[1], 8))
    ]
    assert list(zip(got["doc_id"], got["band_idx"], got["band_key"])) == want


@pytest.mark.parametrize("signature_state", [False, True])
def test_stream_payload_equals_per_document_reference(signature_state):
    from mehari_spark.operators.blocking import whitespace_tokens
    from mehari_spark.streaming.neardup_stream import _TAG_EXACT, _TAG_SIG, _payloads

    got = _kernel_rows(whitespace_tokens, _payloads(128, signature_state))
    want = []
    for text in TEXTS:
        th, sig = _scalar_signature(whitespace_tokens(text))
        if signature_state and th.size > 128:
            payload = [_TAG_SIG, th.size, *sig.astype(np.int64).tolist()]
        else:
            payload = [_TAG_EXACT, th.size, *th.view(np.int64).tolist()]
        want += [payload] * 8
    assert [p.tolist() for p in got["payload"]] == want
    assert {p.dtype for p in got["payload"]} == {np.dtype("int64")}
    # the long document is the one signature payload in signature mode
    assert sum(p[0] == _TAG_SIG for p in got["payload"]) == (8 if signature_state else 0)

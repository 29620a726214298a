"""SimHash (64-bit) fingerprints + banded blocking for Hamming search.

Near-duplicate detection path #3 (alongside exact-hash and MinHash/LSH).
Blocking: split the 64-bit fingerprint into 4 x 16-bit chunks; duplicates
within Hamming distance 3 must agree on at least one chunk (pigeonhole), so
candidate pairs come from an equi-join on (chunk_idx, chunk_value).
"""

from __future__ import annotations

import numpy as np

from .minhash import hash_tokens


def simhash64(tokens: list[str]) -> int:
    if not tokens:
        return 0
    h = hash_tokens(tokens)  # (n,) uint64
    bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(
        np.int64
    )
    score = (2 * bits - 1).sum(axis=0)  # +1 / -1 votes per bit
    fp = np.uint64(0)
    for b in range(64):
        if score[b] > 0:
            fp |= np.uint64(1) << np.uint64(b)
    return int(fp)


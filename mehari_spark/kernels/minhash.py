"""MinHash signatures + LSH banding (numpy-vectorized, deterministic).

Used for (a) near-duplicate detection over documents and (b) blocking in
entity linking, both through the one band-row kernel of
operators/blocking.py (``signatures_batch`` + ``band_keys_matrix``); the
scalar ``minhash_signature`` + ``band_keys`` pair is their reference. The
banding trick: two sets with Jaccard ~s collide in at
least one band with probability 1-(1-s^r)^b. All hashing is explicit
(xxhash-free, splitmix64-style) so signatures are reproducible across
executors and sessions — the same determinism discipline as mehari's
byte-ordered key encodings (/root/reference/mehari/src/db/keys.rs:144-163).
"""

from __future__ import annotations

import numpy as np

_MERSENNE = np.uint64((1 << 61) - 1)
# token budget of one signatures_batch hash segment: a (num_perm, tokens)
# uint64 matrix, 1 GiB at 128 permutations
_SEGMENT_TOKENS = 1 << 20


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Deterministic 64-bit mixer (public-domain splitmix64 constants).

    uint64 wrap-around is intentional; numpy overflow warnings suppressed.
    """
    with np.errstate(over="ignore"):
        x = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
        x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(
            0xFFFFFFFFFFFFFFFF
        )
        x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & np.uint64(
            0xFFFFFFFFFFFFFFFF
        )
        return x ^ (x >> np.uint64(31))


def hash_tokens(tokens: list[str]) -> np.ndarray:
    """Stable 64-bit hash per token (FNV-1a over utf-8, then mixed)."""
    out = np.empty(len(tokens), dtype=np.uint64)
    fnv_offset, fnv_prime, mask = 0xCBF29CE484222325, 0x100000001B3, (1 << 64) - 1
    for i, tok in enumerate(tokens):
        h = fnv_offset
        for b in tok.encode("utf-8"):
            h = ((h ^ b) * fnv_prime) & mask
        out[i] = h
    return _splitmix64(out)


def perm_params(num_perm: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    """(a, b) parameters for the universal-hash permutations, seeded."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, (1 << 61) - 1, size=num_perm, dtype=np.uint64)
    b = rng.randint(0, (1 << 61) - 1, size=num_perm, dtype=np.uint64)
    return a, b


def minhash_signature(
    token_hashes: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """num_perm minhash values for one set of token hashes."""
    if token_hashes.size == 0:
        return np.full(a.shape[0], np.iinfo(np.uint64).max, dtype=np.uint64)
    # (num_perm, n_tokens) universal hashes mod Mersenne prime, min over tokens;
    # uint64 wrap in the product is fine — still a deterministic mixing family
    with np.errstate(over="ignore"):
        h = (
            a[:, None] * (token_hashes[None, :] & _MERSENNE) + b[:, None]
        ) % _MERSENNE
    return h.min(axis=1)


def signatures_batch(
    tok_sets: list[set],
    memo: dict[str, int],
    a: np.ndarray,
    b: np.ndarray,
) -> np.ndarray:
    """MinHash signatures for a whole batch of token SETS at once.

    A (num_perm, tokens) universal-hash pass over the concatenated token
    hashes of a run of documents + ``np.minimum.reduceat`` per document —
    bit-identical to calling :func:`minhash_signature` per document (same
    permutation values, min over the same set; min is order-independent),
    but the modulo pass and the min run as two vectorized ops instead of
    one small numpy call per document. The runs are document-aligned
    segments of at most ``_SEGMENT_TOKENS`` tokens (a longer document is a
    segment of its own), so the hash matrix stays bounded however large
    the batch. Empty documents get the uint64-max sentinel signature."""
    num_perm = a.shape[0]
    n = len(tok_sets)
    lens = np.fromiter((len(s) for s in tok_sets), dtype=np.int64, count=n)
    ends = np.cumsum(lens)
    starts = ends - lens
    sigs = np.full((n, num_perm), np.iinfo(np.uint64).max, dtype=np.uint64)
    th = np.fromiter(
        (memo[t] for s in tok_sets for t in s),
        dtype=np.uint64,
        count=int(ends[-1]) if n else 0,
    )
    lo = 0
    while lo < n:
        # docs lo..hi-1 end within the budget; at least one doc per segment
        hi = max(lo + 1, int(np.searchsorted(ends, starts[lo] + _SEGMENT_TOKENS, "right")))
        seg = th[starts[lo] : ends[hi - 1]]
        nonempty = lens[lo:hi] > 0
        if seg.size:
            with np.errstate(over="ignore"):
                h = a[:, None] * (seg[None, :] & _MERSENNE)
                h += b[:, None]
                h %= _MERSENNE
            # reduceat segments must start in-bounds; empty docs keep the sentinel
            offsets = (starts[lo:hi] - starts[lo])[nonempty]
            sigs[lo:hi][nonempty] = np.minimum.reduceat(h, offsets, axis=1).T
        lo = hi
    return sigs


def band_keys_matrix(signatures: np.ndarray, bands: int) -> np.ndarray:
    """Band bucket keys for a whole BATCH of signatures at once.

    ``signatures``: (n_docs, num_perm) uint64 -> (n_docs, bands) int64.
    Bit-identical to the scalar ``band_keys`` fold (same chain
    acc = splitmix64(acc ^ v) over the band's rows, band index salted into
    the seed), but the fold loop runs ``rows`` vectorized steps over all
    docs x bands instead of n_docs x num_perm Python-level scalar mixes."""
    n, num_perm = signatures.shape
    rows = num_perm // bands
    # (n, bands, rows): row-major chunks per band
    chunks = signatures[:, : bands * rows].reshape(n, bands, rows)
    acc = np.broadcast_to(
        np.arange(1, bands + 1, dtype=np.uint64), (n, bands)
    ).copy()
    for r in range(rows):
        acc = _splitmix64(acc ^ chunks[:, :, r])
    return (acc & np.uint64(0x7FFFFFFFFFFFFFFF)).astype(np.int64)


def band_keys(signature: np.ndarray, bands: int) -> list[int]:
    """One stable 63-bit bucket key per band (band index salted in),
    folded one signature value at a time: the scalar reference that
    ``band_keys_matrix`` is tested against."""
    sig = np.asarray(signature, dtype=np.uint64)
    rows = sig.size // bands
    keys = []
    for band in range(bands):
        acc = np.array([band + 1], dtype=np.uint64)
        for v in sig[band * rows : (band + 1) * rows]:
            acc = _splitmix64(acc ^ v)
        keys.append(int(acc[0] & np.uint64(0x7FFFFFFFFFFFFFFF)))
    return keys


def shingles(text: str, n: int = 3) -> list[str]:
    """Character n-gram shingles."""
    if len(text) < n:
        return [text] if text else []
    return [text[i : i + n] for i in range(len(text) - n + 1)]

"""Operators of the KG-construction engine (SURVEY.md §2 inventory).

Each module maps one mehari operator family onto Spark primitives:

- mentions.py      — J1 interval join  -> Arrow-batch dictionary match in mapInArrow
- triples.py       — consequence build -> window-based nearest-mention assembly
- canonicalize.py  — SO-term rewrite   -> broadcast rule-table join
- coref.py         — SV clustering/J8  -> edge list + connected components
- linking.py       — tx picking F6/F7  -> MinHash/LSH blocking + best-link window
- dedup.py         — A7 seen-keys      -> exact/minhash/simhash/jaccard near-dup
- similarity.py    — (training-data op) exact + IVF top-k over embeddings, persistent IVF index
- textstats.py     — (training-data op) lang-id/quality/token/fingerprint
- multimodal.py    — (training-data op) binary-column decode plumbing (stub)
"""

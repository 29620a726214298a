"""Pure-Python/numpy/pyarrow kernels executed inside Arrow-batched UDFs.

These are the executor-side equivalents of mehari's in-process indexes:
the dictionary match table (dictmatch.py) plays the role of the per-contig
interval trees (mehari's annotate/seqvars/provider.rs:33-99) — compiled
once on the driver and broadcast once per dictionary version, never built
per row.
"""

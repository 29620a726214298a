"""Pure-Python/numpy/pyarrow kernels executed inside Arrow-batched UDFs.

These are the executor-side equivalents of mehari's in-process indexes:
the dictionary match table (dictmatch.py) plays the role of the per-contig
interval trees
(/root/reference/mehari/src/annotate/seqvars/provider.rs:33-99) — built once
per executor from a broadcast dictionary, never per row.
"""

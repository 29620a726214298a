"""Pure-Python/numpy/pyarrow kernels executed inside Arrow-batched UDFs.

These are the executor-side equivalents of mehari's in-process indexes:
the dictionary match table (dictmatch.py) plays the role of the per-contig
interval trees (mehari's annotate/seqvars/provider.rs:33-99) — compiled
once on the driver and broadcast once per dictionary version, never built
per row. The connected-components kernel (components.py) solves coref for
a whole Arrow batch of conversations per call, the analog of mehari's
per-transcript compound grouping (compound.rs:96-170). The pipeline's
staging kernel (stage.py) writes a partition's triples, entities and
subject counts in one pass, the way mehari writes each annotated record
once.

The per-row reference twins stay for tests only: ahocorasick.py for the
matcher and unionfind.py for components.py.
"""

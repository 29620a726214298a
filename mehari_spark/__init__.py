"""mehari_spark — a from-scratch PySpark-native knowledge-graph construction engine.

Re-expresses the capabilities of varfish-org/mehari (a VEP-class variant
annotator, see /root/reference) as an idiomatic Spark pipeline that turns
multi-turn agent transcripts into a canonical (subj, pred, obj) knowledge
graph:

- mention detection  = mehari's transcript interval-join
  (reference: mehari/src/annotate/seqvars/provider.rs:795-843), done here as
  one dictionary-matching kernel over whole Arrow batches in ``mapInArrow``
  (the executor-side shape of mehari-python/src/lib.rs:297-380).
- predicate canonicalization = mehari's Sequence-Ontology/HGVS normalization
  (mehari/src/annotate/seqvars/consequence/terms.rs:78-397).
- best-per-group dedup = mehari's worst-consequence picking
  (mehari/src/annotate/seqvars/consequence/logic.rs:452-513).
- cross-turn coreference = mehari's SV clustering / compound grouping
  (mehari/src/annotate/strucvars/mod.rs:3189-3290, compound.rs:96-170),
  done as connected components over an edge list.
- per-partition checkpoints + lineage = mehari's report.jsonl build lineage
  (mehari/src/db/transcripts/create/mod.rs:137-241).

Everything is DataFrame-first: joins/windows/dedup/AQE come from Catalyst;
Python appears only inside Arrow-vectorized pandas UDFs.
"""

__version__ = "0.1.0"

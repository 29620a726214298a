"""Test helpers: order-insensitive DataFrame comparison against the pandas
oracle, a counter of the Spark jobs a block launches, and the physical
plan nodes those jobs ran."""

from __future__ import annotations

import uuid
from contextlib import contextmanager

import pandas as pd


@contextmanager
def spark_jobs(spark):
    """Yields a list that holds, once the block is done, the ids of the
    Spark jobs it launched (a job group of its own, then cleared)."""
    sc = spark.sparkContext
    group = f"counted-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    ids: list[int] = []
    try:
        yield ids
    finally:
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def sql_plans(spark, job_ids: list[int]) -> dict[int, list[tuple[str, str]]]:
    """Execution id -> (name, description) of every node of its final
    physical plan, for each SQL execution that ran one of ``job_ids``, read
    from the SQL status store (AQE's updates included)."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = {}
    for i in range(execs.size()):
        e = execs.apply(i)
        jobs = e.jobs().keySet().iterator()
        ran = set()
        while jobs.hasNext():
            ran.add(int(jobs.next()))
        if not ran & set(job_ids):
            continue
        nodes = store.planGraph(e.executionId()).allNodes().iterator()
        out[e.executionId()] = []
        while nodes.hasNext():
            n = nodes.next()
            out[e.executionId()].append((n.name(), n.desc()))
    return out


def normalize_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(pdf.columns)
    out = pdf[cols].copy()
    for c in cols:
        out[c] = out[c].astype(str)
    return out.sort_values(cols).reset_index(drop=True)


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str):
    a, b = normalize_pdf(spark_pdf), normalize_pdf(oracle_pdf)
    assert list(a.columns) == list(b.columns), (
        f"{name}: column mismatch {list(a.columns)} vs {list(b.columns)}"
    )
    assert len(a) == len(b), f"{name}: row count {len(a)} vs {len(b)}"
    if not a.equals(b):
        diff = pd.concat([a, b]).drop_duplicates(keep=False)
        raise AssertionError(f"{name}: value mismatch; sample diff:\n{diff.head(10)}")

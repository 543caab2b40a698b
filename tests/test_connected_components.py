"""Duplicate clustering and resolution: ``connected_components`` against a
plain-Python union-find, its non-convergence error, and the Spark-job
budget of ``resolve_duplicates``."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etdtransform_spark.operators.dedup import (
    connected_components,
    resolve_duplicates,
)


def _union_find(edges):
    """{node: minimum node of its component} for every node in ``edges``."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@st.composite
def _edge_lists(draw):
    # free-form pairs on a small id range (self-pairs included); at most 20
    # pairs keep every component's diameter within the default max_iter
    edges = draw(
        st.lists(st.tuples(st.integers(0, 30), st.integers(0, 30)), max_size=20)
    )
    # disjoint cliques
    for k, size in enumerate(draw(st.lists(st.integers(1, 4), max_size=3))):
        base = 100 + 10 * k
        edges += [(base + i, base + j) for i in range(size) for j in range(i + 1, size)]
        edges.append((base, base))
    # a path whose far end needs more than 3 rounds to reach the minimum
    n = draw(st.integers(4, 6))
    edges += [(200 + i, 200 + i + 1) for i in range(n)]
    # reversed and duplicated copies of pairs already drawn
    extra = draw(st.lists(st.sampled_from(edges), max_size=4))
    edges += extra + [(b, a) for a, b in extra]
    return draw(st.permutations(edges))


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=_edge_lists())
def test_connected_components_matches_union_find(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.node: r.cluster_id for r in connected_components(df).collect()}
    assert got == _union_find(edges)


def test_connected_components_raises_when_max_iter_truncates(spark):
    """A 41-node path needs 40 propagation rounds plus one that changes
    nothing; cut at 25 it would come back as 16 clusters."""
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match=r"max_iter=25 .*: 16 labels"):
        connected_components(path)
    out = connected_components(path, max_iter=41).collect()
    assert len(out) == 41
    assert {r.cluster_id for r in out} == {0}


def test_resolve_duplicates_empty_pairs_keeps_every_document(spark):
    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    out = resolve_duplicates(docs, pairs).collect()
    assert sorted(r.doc_id for r in out) == list(range(6))
    assert all(r.keep and r.cluster_id == r.doc_id for r in out)


def test_resolve_duplicates_job_budget(spark, tmp_path):
    """Spark jobs of ``resolve_duplicates`` plus one write of its keep rows
    on a fixed fixture (local[4], clusters of diameter 1 and 2). Job counts
    do not move with host load, so this bound only goes down."""
    docs = spark.createDataFrame([(i,) for i in range(60)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 4)]
        + [(i + 1, i + 2) for i in range(0, 40, 4)]
        + [(i, i + 2) for i in range(40, 50, 3)],
        "id_a long, id_b long",
    )
    sc = spark.sparkContext
    sc.setJobGroup("resolve_job_budget", "resolve_duplicates job budget")
    try:
        resolved = resolve_duplicates(docs, pairs)
        resolved.filter("keep").write.parquet(str(tmp_path / "keep"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup("resolve_job_budget"))
    kept = spark.read.parquet(str(tmp_path / "keep")).count()
    assert kept == 60 - 2 * 10 - 4
    assert 0 < jobs <= 18, jobs

"""Unit tests for the shared convergence loop (operators/fixpoint.py),
each on a tiny local frame, driven by the production min-label round of
dedup_cluster_canonical."""

import random

import pytest

from gotsdb_spark.operators.dedup import _cluster_label_round
from gotsdb_spark.operators.fixpoint import fixpoint


def _min_label(spark, pairs, max_rounds, what="test label propagation"):
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    labels = edges.selectExpr("src AS doc").distinct().selectExpr(
        "doc", "doc AS label"
    )
    out = fixpoint(
        labels, lambda lb: _cluster_label_round(lb, edges), max_rounds, what
    )
    return {r["doc"]: r["label"] for r in out.collect()}


def test_unconverged_loop_raises_naming_the_loop(spark):
    # A 12-node path needs 11 rounds to carry label 0 to its far end.
    path = [(i, i + 1) for i in range(11)]
    with pytest.raises(RuntimeError, match="path label propagation"):
        _min_label(spark, path, 4, what="path label propagation")


def test_min_label_matches_union_find(spark):
    rng = random.Random(7)
    pairs = [(rng.randrange(40), rng.randrange(40)) for _ in range(30)]
    pairs = [(a, b) for a, b in pairs if a != b]

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for a, b in pairs for n in (a, b)}

    assert _min_label(spark, pairs, 40) == expected


def test_identity_step_stops_after_one_round(spark):
    frame = spark.createDataFrame([(1, "a"), (2, None)], "k long, s string")
    calls = []

    def identity(df):
        calls.append(df)
        return df

    out = fixpoint(frame, identity, 5, "identity")
    assert len(calls) == 1
    assert sorted(out.collect()) == sorted(frame.collect())

"""Capture `.explain("formatted")` for checkpoint-INTERIOR subplans.

Several r14 optimizations live inside localCheckpoint subtrees, so the
registered query's final plan (what tools/capture_plans.py dumps) shows
only `Scan ExistingRDD` where the change happened. This tool rebuilds
the interior stage exactly as the operator builds it and dumps ITS
plan:

- prefix_filter_candidates — the PPJoin candidate chain
  (dedup_prefix_filter_jaccard and both LSH-audit truth arms): shows
  the positional-filter predicate ahead of the distinct.
- bridges_round / articulation_round — ONE min-label propagation round
  over the scenario-replicated frames: shows the join strategy and
  Exchange count per round (SMJ x2 + 4 Exchanges before; broadcast
  joins + 1 aggregate Exchange after).

Usage: python tools/capture_interior_plans.py <tag> [name ...]
Writes plans/<round>/<name>_<tag>.txt (round dir from
SPARK_GRAFT_PLANS_ROUND, default r14).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from gotsdb_spark.plans import formatted_plan  # noqa: E402
from gotsdb_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r14"),
)


def prefix_filter_candidates(spark):
    from gotsdb_spark.operators.dedup import (
        _prefix_filter_candidates,
        shingle_table,
    )

    return _prefix_filter_candidates(
        shingle_table(spark, SF_DIR).localCheckpoint(eager=False)
    )


def _bridges_frames(spark):
    import gotsdb_spark.operators.graph as g

    ue = g._backbone_edges(spark, SF_DIR)
    edb = ue.select("a", "b").unionByName(
        ue.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    nodes = edb.select(F.col("a").alias("v")).distinct().localCheckpoint(
        eager=False
    )
    excl = ue.select(F.col("a").alias("xa"), F.col("b").alias("xb")).unionByName(
        ue.sparkSession.range(1).select(
            F.lit(-1).alias("xa"), F.lit(-1).alias("xb")
        )
    )
    edx = (
        edb.crossJoin(F.broadcast(excl))
        .where(
            ~(
                (F.least("a", "b") == F.col("xa"))
                & (F.greatest("a", "b") == F.col("xb"))
            )
        )
        .select("xa", "xb", "a", "b")
        .localCheckpoint(eager=False)
    )
    labels = (
        nodes.crossJoin(F.broadcast(excl))
        .select("xa", "xb", "v", F.col("v").alias("lbl"))
        .localCheckpoint(eager=False)
    )
    return edx, labels


def bridges_round(spark):
    """One propagation round, built by the operator's own round step."""
    import gotsdb_spark.operators.graph as g

    edx, labels = _bridges_frames(spark)
    return g._scenario_min_label_round(labels, edx, ["xa", "xb"])


def bridges_round_r13(spark):
    """The r13 (pre-hint) round shape, for the before capture."""
    edx, labels = _bridges_frames(spark)
    cand = (
        labels.join(
            edx,
            (labels.xa == edx.xa)
            & (labels.xb == edx.xb)
            & (labels.v == edx.a),
        )
        .groupBy(labels.xa, labels.xb, F.col("b").alias("v"))
        .agg(F.min("lbl").alias("nlbl"))
    )
    return labels.join(cand, ["xa", "xb", "v"], "left").select(
        "xa",
        "xb",
        "v",
        F.least(F.col("lbl"), F.coalesce("nlbl", F.col("lbl"))).alias("lbl"),
    )


BUILDERS = {
    "prefix_filter_candidates": prefix_filter_candidates,
    "bridges_round": bridges_round,
    "bridges_round_r13": bridges_round_r13,
}


def main() -> int:
    tag = sys.argv[1]
    names = sys.argv[2:] or list(BUILDERS)
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark("capture-interior-plans")
    rc = 0
    for name in names:
        try:
            plan = formatted_plan(BUILDERS[name](spark))
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: {exc}")
            rc = 1
            continue
        path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange, "
              f"{plan.count('SortMergeJoin')} SMJ, "
              f"{plan.count('BroadcastHashJoin')} BHJ)")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())

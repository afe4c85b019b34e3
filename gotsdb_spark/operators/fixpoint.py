"""Iterate a DataFrame step to its fixpoint with one Spark job per round.

Every data-parallel convergence loop in the package (star contraction,
min-label clustering, the articulation / bridge scenario sweeps) has the
same skeleton: checkpoint the new frame to truncate lineage, compare it
with the previous round, stop when nothing changed, fail loudly when
the round bound runs out. `fixpoint` is that skeleton, once.

Round signature: `(count, sum(xxhash64(*cols)))`, recorded by an
`Observation` that rides on the checkpoint job itself — the same
observed-metrics mechanism Structured Streaming uses for its progress
reports — so a round costs exactly the eager `localCheckpoint` and no
separate signature `collect`. The sum is taken as DECIMAL(38,0) so it
cannot overflow and is independent of partitioning and row order.

Exactness: a repeated signature is only a hint (two different frames
can collide). On a repeat, one keyed `left_anti` + `limit(1)` over every
column (null-safe equality) proves the two frames equal: frames passed
here are sets — `.distinct()` or keyed — and their counts already
match, so "no row of the new frame is missing from the old one" IS
equality. That check runs once per converged loop, not once per round.

Reference parity: the reference (j0shgrant/gotsdb) has no iterative
operators (internal/storage/types.go:3); this is [TARGET] scale
machinery.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _observed_checkpoint(frame: DataFrame) -> tuple[DataFrame, dict]:
    """Materialize ``frame`` with an eager localCheckpoint and return it
    with the signature observed on that same job. The Observation is
    unnamed, so Spark gives it a unique name — concurrent loops in one
    session cannot collide."""
    obs = Observation()
    cp = frame.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*frame.columns).cast("decimal(38,0)")).alias("h"),
    ).localCheckpoint(eager=True)
    return cp, obs.get


def _same_rows(cur: DataFrame, prev: DataFrame) -> bool:
    """True iff no row of ``cur`` is absent from ``prev`` — frame
    equality for two sets of equal size."""
    a, b = cur.alias("a"), prev.alias("b")
    on = [F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}")) for c in cur.columns]
    return a.join(b, on, "left_anti").limit(1).count() == 0


def fixpoint(
    frame: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_rounds: int,
    what: str,
) -> DataFrame:
    """Apply ``step`` until its output equals its input and return that
    checkpointed fixpoint; raise RuntimeError naming ``what`` if
    ``max_rounds`` applications do not get there.

    ``frame`` and every ``step`` output must be sets (distinct or keyed
    rows). The initial frame is checkpointed and observed too, so a
    frame that is already a fixpoint stops after one round.
    """
    prev, last_sig = _observed_checkpoint(frame)
    for _ in range(max_rounds):
        cur, sig = _observed_checkpoint(step(prev))
        if sig == last_sig and _same_rows(cur, prev):
            return cur
        prev, last_sig = cur, sig
    raise RuntimeError(
        f"{what} did not reach a fixpoint within {max_rounds} rounds; "
        "raise the round bound"
    )

"""Connected components via alternating large-star / small-star
contraction (Kiveris et al., "Connected Components in MapReduce and
Beyond", SOCC 2014) — the 100 TB-safe replacement for plain
hash-to-min label propagation.

Why not hash-to-min: it moves the minimum label ONE HOP per iteration,
so convergence is O(component diameter). A viral duplicate cluster (a
long chain of pairwise near-dups, the documented failure mode in
SCALE.md "Known limits") makes the iteration count — and therefore the
number of full-graph shuffles — proportional to the chain length.
Star contraction instead rewires every node toward its neighborhood
minimum each round, contracting components to stars in O(log n)
alternating rounds regardless of diameter (O(log^2 n) worst case);
``tests/test_components.py`` pins the iteration count on a synthetic
giant-chain component.

Execution shape per round: two grouped aggregations + two equi-joins
on the (current) edge set — all hash-shuffles on node ids, no
driver-side graph state, lineage cut by ``localCheckpoint``. Exactly
ONE job per round: the convergence signature (count + order-
insensitive hash sum of the edge set) rides the checkpoint
materialization as an ``observe()`` metric instead of a second pass;
only the SMALL-star output is deduplicated (the large-star output
feeds straight into small-star's aggregates, which absorb duplicate
edges for free). A signature collision would surface as an oracle
mismatch in q32's hash-checked output, not silent corruption.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


@dataclass
class CCResult:
    labels: DataFrame  # (node, label) — label = min node id in component
    iterations: int  # alternating large/small-star rounds until fixpoint
    # converged star forest (checkpointed) — ``labels`` reads it, so it
    # cannot be freed here; callers that materialize ``labels`` should
    # release_frame(edges) afterwards (r16: superseded PER-ROUND
    # checkpoints are already freed inside the loop — without that,
    # every round's blocks survived until driver GC and repeated CC
    # runs in one session degraded 5-10x under block-manager pressure)
    edges: DataFrame | None = None


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u}).
    Output may carry duplicate edges — the consumer (small-star) is
    duplicate-insensitive, so no dedup shuffle is spent here.

    The aggregated side's join key is RENAMED (mu) before joining back
    onto its own source: a same-name self-referential join resolves
    through Spark's attribute disambiguation, which breaks with an
    internal 'key not found' on some checkpointed-union inputs under
    AQE — explicit renames sidestep the resolver entirely."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn")).select(
        F.col("u").alias("mu"), "mn"
    )
    return (
        sym.join(mins, F.col("u") == F.col("mu"))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.least("u", "mn").alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges large→small, then connect every smaller neighbor
    (and u itself) to the neighborhood minimum. Output is distinct —
    this is the round boundary the convergence signature hashes."""
    oriented = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("mn")).select(
        F.col("u").alias("mu"), "mn"
    )
    rewired = (
        oriented.join(mins, F.col("u") == F.col("mu"))
        .filter(F.col("v") != F.col("mn"))
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
    )
    self_edges = mins.select(F.col("mu").alias("u"), F.col("mn").alias("v"))
    return rewired.union(self_edges).distinct()


def _checkpoint_with_signature(e: DataFrame) -> tuple[DataFrame, tuple]:
    """Materialize ``e`` (localCheckpoint) and return its convergence
    signature (row count, order-insensitive hash sum) computed BY the
    same job via observe() — no second pass over the edge set. The
    hash sum is a decimal so ANSI bigint math can't overflow."""
    obs = Observation()
    observed = e.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    )
    ckpt = observed.localCheckpoint()
    got = obs.get
    return ckpt, (got["n"], got["h"])


def connected_components(edges: DataFrame, max_iter: int = 50) -> CCResult:
    """Labels every node of the undirected graph ``edges`` (columns
    ``u``, ``v``) with the minimum node id of its component.

    Nodes are whatever orderable type the edge columns carry; self
    loops are ignored; isolated nodes don't appear (callers union
    singleton nodes themselves if they need them labelled).

    Constraint propagation is disabled for the duration of the loop:
    ``localCheckpoint`` rewrites the source plan's constraints into the
    checkpointed relation's attributes, and on star-contraction round
    plans (union + self-derived aggregate joins) that rewrite hits a
    Catalyst internal 'key not found' on large inputs (reproduced on a
    550k-edge union-of-ranges graph; fixture inputs pass by luck of
    attribute layout). The per-round plans gain nothing from
    constraints, so off-for-the-loop is free."""
    spark = edges.sparkSession
    _CP = "spark.sql.constraintPropagation.enabled"
    prev_cp = spark.conf.get(_CP, "true")
    spark.conf.set(_CP, "false")
    try:
        from eventsgateway_spark.queries._util import release_frame

        e, sig = _checkpoint_with_signature(
            edges.select("u", "v").filter(F.col("u") != F.col("v")).distinct()
        )
        if sig[0] == 0:
            return CCResult(
                labels=e.select(
                    F.col("u").alias("node"), F.col("v").alias("label")
                ),
                iterations=0,
                edges=e,
            )
        iterations = 0
        try:
            while iterations < max_iter:
                e_next, sig_next = _checkpoint_with_signature(
                    _small_star(_large_star(e))
                )
                # the new checkpoint is materialized, so the previous
                # round's blocks are dead weight — free them now instead
                # of at driver GC (repeated CC runs in one session
                # otherwise accumulate every round's blocks)
                prev, e = e, e_next
                release_frame(prev)
                iterations += 1
                if sig_next == sig:
                    break
                sig = sig_next
            else:
                raise RuntimeError(
                    f"star contraction did not converge in {max_iter} rounds"
                )
        except BaseException:
            # no caller ever sees the current round's checkpoint on a
            # raise (non-convergence or a failed round): free it here
            release_frame(e)
            raise
    finally:
        spark.conf.set(_CP, prev_cp)
    # Converged edge set is a forest of stars (child → component-min
    # root). Roots label themselves via the v-side union.
    labels = (
        e.select(F.col("u").alias("node"), F.col("v").alias("label"))
        .union(e.select(F.col("v").alias("node"), F.col("v").alias("label")))
        .groupBy("node")
        .agg(F.min("label").alias("label"))
    )
    return CCResult(labels=labels, iterations=iterations, edges=e)

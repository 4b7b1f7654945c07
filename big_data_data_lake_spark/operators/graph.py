"""Distributed graph primitives shared by the dedup-clustering family.

``min_label_components`` is the Pregel-style connected-components
loop extracted from the near-dup clustering query (see
queries/corpus.py::dedup_clusters, where its scale rationale is
documented): one equi-join + one partial-aggregated min per round,
label sum as the exact convergence check, eager localCheckpoint to
cut the iterative lineage. AQE sizes the loop's stages; the loop
sets no session config. Reference scope: the reference has no
graph operator; this is the §7 LLM-pipeline extension that turns
pairwise similarity into keep/drop decisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def min_label_components(
    ids: DataFrame, pairs: DataFrame, max_rounds: int = 20
) -> DataFrame:
    """Connected components by min-label propagation.

    ``ids``: one column, the vertex id. ``pairs``: two columns, one
    undirected edge per row (any column names; symmetrized here).
    Returns (id, label) with label = min vertex id in the component;
    isolated vertices label themselves.

    Scale shape: per round, one equi-join of the edge list against the
    label frame and one min-aggregation — both partial-aggregated
    shuffles on the vertex id. Labels only ever decrease, so the exact
    decimal(38,0) label sum strictly decreases iff anything changed —
    a single-row convergence probe per round instead of a join+count.
    Neighbor-min plus pointer jumping converges in O(log diameter)
    rounds (see the loop comment); hard-fails rather than silently
    mislabeling if not converged in ``max_rounds``.

    The loop runs under the session's shuffle-partition setting; AQE
    sizes its stages. Every round launches ~5 shuffle stages on frames
    of |V|/|E| rows, and AQE's runtime coalescing (which, with
    ``canChangeCachedPlanOutputPartitioning`` on, also covers the eager
    ``localCheckpoint`` materializations) packs each tiny stage into a
    few tasks: a 200-vertex graph ran at most 8 tasks per stage under
    64 session partitions (local[4]). So the loop sets no session config, and a
    query running beside it plans under the session's own settings.
    """
    id_col = ids.columns[0]
    a, b = pairs.columns[:2]
    sym = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    edges = sym.union(
        sym.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    edges.count()  # materializes the persist once, up front
    # Each round references `labels` TWICE (once in the propagation
    # join, once in the merge), so a persist()-chained loop doubles
    # the LOGICAL plan per round — by round ~8 the plan string hits
    # Spark's 2^31-char cap and analysis time explodes exponentially
    # (measured: round 5 = 2 s, round 8 = 107 s at a mere 2000
    # vertices). An EAGER localCheckpoint per round materializes AND
    # flattens the lineage, keeping every round's plan constant-size;
    # checkpoint blocks are reclaimed by the ContextCleaner as each
    # round's frame is dereferenced.
    labels = ids.select(
        F.col(id_col).alias("vid"), F.col(id_col).alias("label")
    ).localCheckpoint(eager=True)

    def _label_sum(df: DataFrame):
        return df.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]

    try:
        prev_sum = _label_sum(labels)
        for _ in range(max_rounds):
            prop = (
                edges.join(labels, edges.src == labels.vid)
                .groupBy("dst")
                .agg(F.min("label").alias("nlabel"))
            )
            merged = labels.join(prop, labels.vid == prop.dst, "left").select(
                labels.vid,
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias(
                    "label"
                ),
            )
            # Pointer jumping (path compression): l <- min(l, label(l)).
            # A label is always the id of a vertex in the same
            # component, so following it one hop preserves the
            # invariant while letting the min travel the distance the
            # LABEL has already traveled — neighbor-min alone moves one
            # hop per round (rounds = diameter), with the jump the
            # reach roughly doubles per round (rounds = O(log d)). On
            # a deep dup-chain at corpus scale that is the difference
            # between ~40 driver round-trips and ~7. One extra
            # self-join of the label frame per round buys it.
            x, y = merged.alias("x"), merged.alias("y")
            labels = (
                x.join(y, F.col("x.label") == F.col("y.vid"), "left")
                .select(
                    F.col("x.vid").alias("vid"),
                    F.least(
                        F.col("x.label"),
                        F.coalesce(F.col("y.label"), F.col("x.label")),
                    ).alias("label"),
                )
                .localCheckpoint(eager=True)
            )
            new_sum = _label_sum(labels)
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
        else:
            raise RuntimeError(
                f"label propagation did not converge in {max_rounds} rounds"
            )
        return labels.select(F.col("vid").alias(id_col), "label")
    finally:
        edges.unpersist()

"""Distributed connected components over a pair/edge DataFrame.

The dedup family (LSH near-dup, embedding near-dup) emits PAIRS; the
correct corpus-level grouping is the transitive closure of those pairs
— doc A~B, B~C must land in one group even if A~C never paired (the
survivor-per-pair convention in near_dedup_survivors under-merges
chains). This module computes, for every node, the minimum node id
reachable through the pair graph ("hash-min" connected components),
which is the canonical duplicate-cluster representative used by
large-scale dedup pipelines.

Algorithm: iterative min-label propagation. labels(v) starts at v;
each round sets labels(v) = min(labels(v), min over neighbors u of
labels(u)); a monotonically non-increasing global sum certifies
convergence with a scalar driver check (no data collected). Rounds
needed = graph diameter; duplicate clusters are short-diameter blobs
(a spam template cluster is a near-clique), so 3-6 rounds in practice.
For adversarially long path graphs the round count grows, which is the
known trade-off of hash-min vs the O(log n)-round large-star/small-star
scheme (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14) — the per-round join below is the building block
either way.

Scale shape per round: one equi-join of the symmetric edge list with
the label table on the node key + one groupBy(node) min — two hash
exchanges over data that shrinks as labels stabilize. Lineage is cut
every round by an eager localCheckpoint (persist alone leaves the
full join lineage in the logical plan, which blows up plan analysis
on long chains — measured). Prior rounds' checkpoint blocks are
released by Spark's ContextCleaner once the superseded DataFrame is
dereferenced on the driver (bounded by GC cadence, not guaranteed
immediate); a production run over a huge label table should prefer a
reliable checkpoint dir, which also survives executor loss.

No SQL-recursion is used on the Spark side; the DuckDB oracle twin
(`components_duckdb_sql`) expresses the same fixpoint as a recursive
CTE, which the driver hash-compares at sf0.01.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import session as _session

__all__ = ["connected_components", "connected_components_star",
           "components_duckdb_sql"]


def connected_components(edges: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iter: int = 25) -> DataFrame:
    """(node, component) for every node appearing in `edges`;
    component = min node id in the node's connected component.

    Only scalar convergence stats ever reach the driver. If the
    label-sum trend stagnates (per-round delta decaying < 20% over
    three rounds — the arithmetic-decay signature of a chain eating
    one hop per round) or `max_iter` rounds elapse, falls back to the
    O(log n)-round star-contraction variant, which is
    diameter-independent. The fallback KEEPS the completed hash-min
    rounds (ADVICE r3 — the old path restarted from raw edges): edges
    are contracted through the current labels first, so star
    contraction runs on the quotient graph (one node per current
    label cluster) and the result composes back through the label
    table. Either trigger only picks the plan: the result is exact
    and the call never raises on a long diameter.
    """
    sym = (edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
           .unionByName(
               edges.select(F.col(id_b).alias("src"),
                            F.col(id_a).alias("dst")))
           .distinct()
           .persist())
    _session.register_persisted(sym)

    # localCheckpoint (eager) per round: persist alone leaves the full
    # join lineage in the logical plan, which grows superlinearly with
    # rounds (measured: a 12-round chain overflows plan analysis). On
    # a cluster use a reliable checkpoint dir instead (localCheckpoint
    # state dies with an executor); semantics are identical.
    labels = (sym.select(F.col("src").alias("node")).distinct()
              .withColumn("lbl", F.col("node"))
              .localCheckpoint())

    prev_sum = labels.agg(F.sum("lbl")).first()[0]
    deltas: list[int] = []
    for _ in range(max_iter):
        nbr_min = (sym.join(labels, sym.src == labels.node)
                   .groupBy(F.col("dst").alias("node"))
                   .agg(F.min("lbl").alias("nbr_lbl")))
        labels = (labels.join(nbr_min, "node", "left")
                  .select("node",
                          F.least("lbl", F.coalesce("nbr_lbl", "lbl"))
                          .alias("lbl"))
                  .localCheckpoint())
        new_sum = labels.agg(F.sum("lbl")).first()[0]
        if new_sum == prev_sum:
            sym.unpersist()
            return labels.select(F.col("node"),
                                 F.col("lbl").alias("component"))
        deltas.append(prev_sum - new_sum)
        prev_sum = new_sum
        if len(deltas) >= 4 and deltas[-1] > 0 \
                and deltas[-1] * 5 >= deltas[-4] * 4:
            # stagnating trend: the label-sum delta decayed < 20% over
            # three rounds — chains/paths shed one hop per round
            # (arithmetic decay) where hash-min on low-diameter graphs
            # collapses geometrically. Switch plans now; the fallback
            # is exact either way, so firing early only changes cost.
            break
    # contract edges through the completed rounds' labels: star
    # contraction then runs on the quotient graph instead of
    # restarting from the raw edge set
    la = labels.select(F.col("node").alias("src"),
                       F.col("lbl").alias("_la"))
    lb = labels.select(F.col("node").alias("dst"),
                       F.col("lbl").alias("_lb"))
    reduced = (sym.join(la, "src").join(lb, "dst")
               .where(F.col("_la") != F.col("_lb"))
               .select(F.col("_la").alias(id_a),
                       F.col("_lb").alias(id_b))
               .distinct()
               .localCheckpoint())
    sym.unpersist()
    if reduced.isEmpty():
        # every cluster already carries a single label
        return labels.select(F.col("node"),
                             F.col("lbl").alias("component"))
    roots = connected_components_star(reduced, id_a, id_b)
    return (labels
            .join(roots.withColumnRenamed("node", "lbl"),
                  "lbl", "left")
            .select(F.col("node"),
                    F.coalesce("component", "lbl").alias("component")))


def components_duckdb_sql(edges_cte: str, id_a: str = "id_a",
                          id_b: str = "id_b") -> str:
    """DuckDB twin: min reachable id via recursive CTE over the edge
    set produced by `edges_cte` (a CTE name visible in the enclosing
    WITH RECURSIVE query). UNION (distinct) bounds the recursion:
    reach holds (node, reachable-id) pairs, so it grows to at most
    sum of component sizes squared — fine at oracle scale, and an
    exact fixpoint semantics match for the Spark hash-min loop."""
    return f"""
        sym AS (
            SELECT {id_a} AS src, {id_b} AS dst FROM {edges_cte}
            UNION
            SELECT {id_b} AS src, {id_a} AS dst FROM {edges_cte}),
        reach(node, r) AS (
            SELECT src, src FROM sym
            UNION
            SELECT s.dst, reach.r FROM sym s
            JOIN reach ON reach.node = s.src),
        comp AS (
            SELECT node, MIN(r) AS component FROM reach GROUP BY node)
    """


def _edge_fingerprint(e: DataFrame):
    """(count, hash-sum) of an edge set — the fixpoint detector for
    star contraction (two scalars to the driver, never rows)."""
    row = e.agg(F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(a, b))").alias("h")).first()
    return (row[0], row[1])


def connected_components_star(edges: DataFrame, id_a: str = "id_a",
                              id_b: str = "id_b",
                              max_iter: int = 40) -> DataFrame:
    """(node, component) via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14) — O(log n) rounds even on path graphs,
    where hash-min label propagation needs diameter rounds.

    large-star: every neighbor of u LARGER than u re-attaches to
    m = min(N(u) ∪ {u}); small-star: every not-larger neighbor (and u)
    attaches to m. Alternating the two contracts every component to a
    star around its minimum id; the final edge set IS the
    (member -> root) mapping. Fixpoint detection is a scalar
    (count, hash-sum) pair; per-round localCheckpoint cuts lineage
    (same discipline and caveats as connected_components).
    """
    raw = edges.select(F.col(id_a).cast("long").alias("a"),
                       F.col(id_b).cast("long").alias("b"))
    # nodes derive BEFORE the self-loop filter: a node whose only
    # edge is (x, x) is still in the graph (its own singleton
    # component), matching connected_components' output
    nodes = (raw.select(F.col("a").alias("node"))
             .unionByName(raw.select(F.col("b").alias("node")))
             .distinct().localCheckpoint())
    e = raw.where("a != b").distinct().localCheckpoint()

    prev = _edge_fingerprint(e)
    for _ in range(max_iter):
        # large-star over the symmetric view
        sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")) \
            .unionByName(
                e.select(F.col("b").alias("u"), F.col("a").alias("v")))
        lmins = (sym.groupBy("u").agg(F.min("v").alias("mn"))
                 .select("u", F.least("mn", F.col("u")).alias("m")))
        e = (sym.join(lmins, "u").where(F.col("v") > F.col("u"))
             .select(F.col("v").alias("a"), F.col("m").alias("b"))
             .where("a != b").distinct())
        # small-star over min-oriented edges
        ore = e.select(F.greatest("a", "b").alias("u"),
                       F.least("a", "b").alias("v")).distinct()
        smins = ore.groupBy("u").agg(F.min("v").alias("m"))
        e = (ore.join(smins, "u")
             .select(F.col("v").alias("a"), F.col("m").alias("b"))
             .unionByName(smins.select(F.col("u").alias("a"),
                                       F.col("m").alias("b")))
             .where("a != b").distinct().localCheckpoint())
        cur = _edge_fingerprint(e)
        if cur == prev:
            # star fixpoint: e = {(member, root)}; roots map to self
            return (nodes.join(e, nodes.node == e.a, "left")
                    .select("node",
                            F.coalesce("b", "node").alias("component")))
        prev = cur
    raise RuntimeError(
        f"connected_components_star: no fixpoint in {max_iter} rounds")

"""Connected components over a pair graph — duplicate *groups* from
duplicate *pairs*.

MinHash/SimHash emit near-dup PAIRS; production dedup must keep one
document per transitive group (A~B, B~C ⇒ {A,B,C} even when A,C never
collide).  The reference has nothing transitive (its dedup surface is
nonexistent; this is north-star work).

Algorithm: distributed min-label propagation.  Every node starts labeled
with itself; each round, every node takes the min label over itself and
its neighbors; converge when no label changes.  Each round is one
key-shuffle join + one groupBy-min — O(E) work, O(diameter) rounds.
Near-dup graphs are unions of near-cliques (diameter 2-3), so rounds stay
in the single digits even at web scale; for adversarial long-chain graphs
the same loop accepts a higher ``max_iter`` (the alternating
large-star/small-star variant would cut rounds to O(log d) at the price
of two shuffles per round — not worth it at near-dup shapes).

Determinism: labels are min ids — no randomness anywhere.

Lineage: every iteration's label frame is ``localCheckpoint(eager=True)``
— materialized AND plan-truncated.  Without truncation the logical plan
references the previous labels ~3× per round, so plans grow
exponentially and Catalyst analysis itself becomes the bottleneck (a
second components run over the first one's output — exactly what
``merge_components`` does — used to hang on 7-edge graphs).  On a real
cluster swap ``localCheckpoint`` for reliable ``checkpoint`` against the
cluster checkpoint dir so executor loss can't lose iteration state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

NODE, COMP = "node", "component"


def connected_components(pairs: DataFrame, col_a: str = "id_a",
                         col_b: str = "id_b", max_iter: int = 25
                         ) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``;
    ``component`` is the minimum node id of the node's component."""
    a, b = F.col(col_a), F.col(col_b)
    und = (pairs.select(a.alias("src"), b.alias("dst"))
           .unionByName(pairs.select(b.alias("src"), a.alias("dst")))
           .distinct()
           .localCheckpoint(eager=True))
    labels = (und.select(F.col("src").alias(NODE)).distinct()
              .withColumn(COMP, F.col(NODE))
              .localCheckpoint(eager=True))

    for _ in range(max_iter):
        nb_min = (und.join(labels, und["dst"] == labels[NODE])
                  .groupBy(F.col("src").alias(NODE))
                  .agg(F.min(COMP).alias("__nb__")))
        # eager localCheckpoint = materialize + TRUNCATE lineage, so
        # the next round's plan starts from a flat scan (see module
        # docstring — without this, plan size grows exponentially)
        new = (labels.join(nb_min, NODE, "left_outer")
               .select(F.col(NODE),
                       F.least(F.col(COMP), F.coalesce(F.col("__nb__"),
                                                       F.col(COMP)))
                       .alias(COMP))
               .localCheckpoint(eager=True))
        changed = (new.alias("n")
                   .join(labels.alias("o"), NODE)
                   .where(F.col(f"n.{COMP}") != F.col(f"o.{COMP}"))
                   .count())
        labels = new
        if changed == 0:
            break
    return labels


def merge_components(assign: DataFrame, new_pairs: DataFrame,
                     col_a: str = "id_a", col_b: str = "id_b",
                     max_iter: int = 25,
                     validate_min_labels: bool = True) -> DataFrame:
    """Fold an arriving shard's near-dup pairs into an EXISTING
    ``(node, component)`` labeling without recomputing the corpus
    graph — the ingest-time companion of the incremental probe
    (`dedup.incremental_near_dup` finds the pairs; this maintains the
    canonical groups they imply).

    PRECONDITION: ``assign`` must be a MIN-ID labeling — each row's
    component id is the component's minimum member, i.e. the output of
    ``connected_components`` / ``dup_groups`` / a previous
    ``merge_components`` (NOT ``canonical_groups``, whose keeper is
    quality-chosen, and not an externally relabeled frame).  The star
    equivalence below silently breaks otherwise, so by default the
    touched rows are asserted (``component <= node``) before merging —
    the check is shard-sized, never corpus-sized; pass
    ``validate_min_labels=False`` to skip it.

    Correctness: a min-id labeling is equivalent to the star graph
    ``node—component`` (the component id IS its minimum member), so
    components over ``star(assign) ∪ new_pairs`` equal components over
    ``original_edges ∪ new_pairs`` — the incremental result is
    bit-identical to a from-scratch recomputation (oracle-pinned).

    Scale: only components TOUCHED by the new pairs re-enter label
    propagation — the relabel subgraph is (affected components +
    shard pairs)-sized, never corpus-sized.  Untouched rows pass
    through with one anti-join.  At 100 TB a shard arrival costs the
    shard's pairs plus the components they graze, which is the whole
    point versus re-running `connected_components` on everything."""
    nodes = (new_pairs.select(F.col(col_a).alias(NODE))
             .unionByName(new_pairs.select(F.col(col_b).alias(NODE)))
             .distinct())
    touched = (assign.join(nodes, NODE, "left_semi")
               .select(COMP).distinct())
    affected = assign.join(touched, COMP, "left_semi")
    if validate_min_labels:
        bad = affected.where(F.col(COMP) > F.col(NODE)).limit(1).collect()
        if bad:
            raise ValueError(
                "merge_components requires a min-id labeling "
                f"(component <= node); got {bad[0]} — feed it "
                "connected_components/dup_groups output, not a "
                "quality-canonical or externally relabeled frame")
    untouched = assign.join(touched, COMP, "left_anti")
    star = affected.select(F.col(NODE).alias(col_a),
                           F.col(COMP).alias(col_b))
    graph = star.unionByName(new_pairs.select(F.col(col_a),
                                              F.col(col_b)))
    relabeled = connected_components(graph, col_a, col_b, max_iter)
    return untouched.unionByName(relabeled)


def dup_groups(pairs: DataFrame, col_a: str = "id_a", col_b: str = "id_b",
               max_iter: int = 25) -> DataFrame:
    """(member_id, keep_id) per document in any duplicate group, keep_id =
    the group's minimum id (the reference-free analog of exact_dedup's
    keep-lowest rule, applied transitively)."""
    cc = connected_components(pairs, col_a, col_b, max_iter)
    return (cc.select(F.col(NODE).alias("member_id"),
                      F.col(COMP).alias("keep_id"))
            .orderBy("member_id"))


def canonical_groups(df: DataFrame, pairs: DataFrame, score_col: str,
                     id_col: str = "doc_id", col_a: str = "id_a",
                     col_b: str = "id_b", max_iter: int = 25
                     ) -> DataFrame:
    """(member_id, keep_id) with the keeper chosen by QUALITY, not id:
    the best-``score_col`` member of each duplicate component, lowest
    id on ties — the canonical-document selection curation stacks
    apply when collapsing near-dup clusters (keep the best copy, drop
    the rest).  A struct-max aggregation per component (map-side
    combinable), no window."""
    cc = connected_components(pairs, col_a, col_b, max_iter)
    scored = cc.join(
        df.select(F.col(id_col).alias(NODE), score_col), NODE)
    best = (scored.groupBy(COMP)
            .agg(F.max(F.struct(
                F.col(score_col).alias("s"),
                (-F.col(NODE)).cast("long").alias("nid"))).alias("m"))
            .select(COMP, (-F.col("m.nid")).alias("keep_id")))
    return (scored.join(best, COMP)
            .select(F.col(NODE).alias("member_id"), "keep_id")
            .orderBy("member_id"))

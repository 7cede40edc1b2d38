"""Distributed connected components for near-dup clustering.

Near-dup candidate pairs (MinHash/SimHash/embedding LSH) form a graph;
dropping "the larger id of each pair" over/under-drops transitive
clusters (A~B, B~C, A!~C).  The standard fix is to label every doc with
the minimum id of its connected component and keep one doc per label.

:func:`connected_components` is iterative min-label propagation with
pointer jumping — each round every node takes the smallest label among
itself and its neighbors, then jumps to its label's label (path
halving).  Converges in O(log diameter) rounds; near-dup clusters
(docs similar to a common template) finish in 2-3.  Each round is two
equi-joins + one min-aggregate, all AQE-planned; ``localCheckpoint``
truncates the iterative lineage so plans stay constant-size.  No
driver-side graph materialization — the only per-round driver value is
the convergence probe (one scalar sum per round: exact label sum for
integral ids, hash sum otherwise).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import IntegralType

from ..functions import read_if_exists


def connected_components(pairs: DataFrame, src: str = "id_a",
                         dst: str = "id_b", max_iter: int = 30,
                         ) -> DataFrame:
    """Label every node in the *pairs* edge list with its component's
    minimum id.  Returns ``(id, component)``, one row per distinct node.

    Only nodes appearing in at least one pair are returned (isolated
    docs are their own component by definition — callers left-join).
    Stops at the fixpoint (warning if *max_iter* rounds exhaust first —
    the returned labels would then be an unconverged over-segmentation).
    """
    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    edges = (e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
             .distinct()
             .localCheckpoint(eager=True))  # reused every round; cut lineage

    labels = (edges.select(F.col("a").alias("id")).distinct()
              .withColumn("component", F.col("id")))

    # convergence probe — ONE scalar aggregate per round for every id
    # type (r1 used a labels⋈labels changed-count join for strings:
    # 2 jobs/round).  Integral ids: exact label sum; labels only ever
    # decrease, so an equal sum strictly certifies the fixpoint.  All
    # other types (strings, fractional numerics — decimal(38,0) would
    # truncate those and declare convergence early): sum of
    # xxhash64(label); any label change alters the hash multiset, so
    # equal sums certify the fixpoint up to a ~2^-64 sum collision.
    # decimal(38,0) accumulation keeps either sum exact under ANSI mode
    # (no long overflow at any node count).
    integral = isinstance(pairs.schema[src].dataType, IntegralType)
    probe_col = (F.col("component") if integral
                 else F.xxhash64("component"))

    def _label_sum(frame: DataFrame):
        return frame.agg(F.sum(probe_col.cast("decimal(38,0)"))).first()[0]

    converged = False
    prev_sum = _label_sum(labels)
    for _ in range(max_iter):
        nbr = (edges.join(labels.select(F.col("id").alias("b"), "component"),
                          "b")
               .groupBy("a").agg(F.min("component").alias("nbr_min")))
        stepped = (labels.join(nbr.select(F.col("a").alias("id"), "nbr_min"),
                               "id", "left")
                   .select("id",
                           F.least("component",
                                   F.coalesce("nbr_min", "component"))
                           .alias("component")))
        # pointer jumping (path halving): each label jumps to its label's
        # label, so chains collapse in O(log diameter) rounds instead of
        # O(diameter) — the standard trick for long-path components
        hop = stepped.select(F.col("id").alias("component"),
                             F.col("component").alias("__cc2"))
        new = (stepped.join(hop, "component", "left")
               .select("id",
                       F.least("component",
                               F.coalesce("__cc2", "component"))
                       .alias("component"))
               .localCheckpoint(eager=True))
        cur_sum = _label_sum(new)
        converged = cur_sum == prev_sum
        prev_sum = cur_sum
        labels = new
        if converged:
            break
    if not converged:
        warnings.warn(
            f"connected_components did not reach a fixpoint in {max_iter} "
            "rounds; returned labels may over-segment components — raise "
            "max_iter (pointer jumping needs ~log2(diameter) rounds)",
            RuntimeWarning, stacklevel=2)
    return labels


def pagerank(pairs: DataFrame, src: str = "id_a", dst: str = "id_b",
             iters: int = 3, damping: float = 0.85,
             directed: bool = False) -> DataFrame:
    """Fixed-iteration PageRank over a pair/edge list: ``(id, r)``.

    Centrality over the near-dup graph ranks cluster "authority" docs
    (the template everything else is a mangled copy of) and, over a
    citation/link table, feeds quality priors for curation.  Undirected
    input (the near-dup case) symmetrizes the edges first.

    The iteration count is a FIXED parameter, not a convergence probe —
    each round is one equi-join + one aggregate, the lineage stays
    ``iters`` deep, and a fixed unrolling is exactly reproducible in SQL
    (the oracle unrolls the same rounds), unlike converge-to-epsilon
    loops whose round count is data-dependent.  Isolated nodes (no
    edges) are out of scope by definition — callers union them at the
    baseline ``(1-d)/N`` if needed.  Undirected input symmetrizes, so
    every node has degree >= 1 and total rank mass is conserved at 1.
    Directed input keeps SINK nodes (in-edges only) in the node set at
    the baseline-plus-inflow, but their own mass is NOT redistributed
    (no dangling-mass term — the standard simplification; total mass
    then sums below 1 when sinks exist).

    Scale: ranks and degrees shuffle on node id; the one-row node count
    rides a broadcast; nothing materializes on the driver.
    """
    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if not directed:
        e = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    edges = e.distinct().localCheckpoint(eager=True)  # reused every round
    nodes = (edges.select(F.col("a").alias("id"))
             .union(edges.select(F.col("b").alias("id")))
             .distinct())
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    deg = edges.groupBy("a").agg(F.count(F.lit(1)).alias("outdeg"))
    ranks = (nodes.crossJoin(F.broadcast(nn))
             .select("id", (F.lit(1.0) / F.col("n")).alias("r")))
    for _ in range(iters):
        contrib = (edges
                   .join(ranks.withColumnRenamed("id", "a"), "a")
                   .join(deg, "a")
                   .groupBy("b")
                   .agg(F.sum(F.col("r") / F.col("outdeg")).alias("s")))
        ranks = (nodes.crossJoin(F.broadcast(nn))
                 .join(contrib.withColumnRenamed("b", "id"), "id", "left")
                 .select("id",
                         ((F.lit(1.0) - damping) / F.col("n")
                          + damping * F.coalesce(F.col("s"), F.lit(0.0)))
                         .alias("r")))
    return ranks


def write_component_store(labels: DataFrame, path: str,
                          mode: str = "overwrite") -> None:
    """Persist component labels ``(id, component)`` — the incremental
    clustering state (one row per node ever seen in a pair)."""
    labels.select("id", "component").write.mode(mode).parquet(path)


def incremental_components(spark, path: str, new_pairs: DataFrame,
                           src: str = "id_a", dst: str = "id_b",
                           max_iter: int = 30) -> DataFrame:
    """Incremental connected components: fold a NEW batch of edges into
    a persisted component store and return (and re-persist) the updated
    labels — the continuous-ingest face of near-dup clustering, where
    yesterday's clusters must merge with today's pairs without
    re-propagating over every edge ever seen.

    The stored labels stand in for the old edge set as STAR edges
    (every node -> its component label): any path that existed through
    old edges survives through the component hub, so
    ``CC(star(old labels) ∪ new edges) == CC(old edges ∪ new edges)``
    exactly — incremental == batch, pinned in tests AND by the contract
    oracle (the driver entry's result equals full-batch CC's recursive-
    CTE oracle).  Per batch the propagation runs over
    ``|store| + |batch|`` star/new edges, not the full edge history.
    """
    stored = read_if_exists(spark, path)
    e = new_pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if stored is not None:
        star = (stored.where(F.col("id") != F.col("component"))
                .select(F.col("id").alias("a"),
                        F.col("component").alias("b")))
        e = e.unionByName(star)
    labels = connected_components(e.select(F.col("a").alias("id_a"),
                                           F.col("b").alias("id_b")),
                                  "id_a", "id_b", max_iter)
    write_component_store(labels, path)
    return labels


def drop_near_dups(df: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one doc per near-dup component (the minimum id);
    docs in no pair are untouched.  One anti-join over the component
    labels — the transitive-correct version of keep-first pair drops."""
    comp = connected_components(pairs)
    losers = (comp.where(F.col("id") != F.col("component"))
              .select(F.col("id").alias(id_col)))
    return df.join(losers, id_col, "left_anti")


def cluster_representatives(df: DataFrame, pairs: DataFrame,
                            score_col: str,
                            id_col: str = "doc_id") -> DataFrame:
    """One row per near-dup component: the member that maximizes
    *score_col* (ties broken by minimum id — deterministic on any
    engine), plus the member count.  Returns ``(component, rep_id,
    rep_score, n_members)``.

    Min-id survivor selection (:func:`drop_near_dups`) throws away
    information: when a cluster holds one clean page and nine mangled
    re-crawls of it, a pipeline wants the CLEAN one.  Feeding a quality
    score here keeps the best member per cluster instead of the
    arbitrary smallest id.

    Scale shape: component labels from :func:`connected_components`;
    scores travel via one ids-only equi-join; the argmax is a
    row_number window keyed by component that compiles to
    WindowGroupLimit (running top-1 per task, no full cluster sort),
    plus one metadata-light groupBy for member counts.
    """
    return _reps(connected_components(pairs), df, score_col, id_col)


def _reps(comp: DataFrame, df: DataFrame, score_col: str,
          id_col: str) -> DataFrame:
    scored = comp.join(
        df.select(F.col(id_col).alias("id"), F.col(score_col).alias("__s")),
        "id")
    w = Window.partitionBy("component").orderBy(
        F.col("__s").desc_nulls_last(), F.col("id"))
    reps = (scored.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select("component", F.col("id").alias("rep_id"),
                    F.col("__s").alias("rep_score")))
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"))
    return reps.join(sizes, "component")


def drop_near_dups_keep_best(df: DataFrame, pairs: DataFrame,
                             score_col: str,
                             id_col: str = "doc_id") -> DataFrame:
    """:func:`drop_near_dups` with quality-aware survivor selection:
    keep each component's maximum-*score_col* member (tie → min id)
    instead of the minimum id; docs in no pair are untouched.  Same
    anti-join shape — only the survivor choice differs.  Component
    labels are computed ONCE and reused for both the argmax and the
    loser set (the iterative CC rounds already localCheckpoint, so the
    reuse is a cache hit, not a re-run)."""
    comp = connected_components(pairs)
    reps = _reps(comp, df, score_col, id_col)
    losers = (comp.join(reps.select("component", "rep_id"), "component")
              .where(F.col("id") != F.col("rep_id"))
              .select(F.col("id").alias(id_col)))
    return df.join(losers, id_col, "left_anti")

"""SemDeDup — semantic dedup inside k-means cells (operators/similarity.py)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from legend_community_delta_spark.demo import _query_vec
from legend_community_delta_spark.operators import similarity as SIM
from legend_community_delta_spark.operators.similarity import (
    semdedup,
    semdedup_pairs,
)


def _unit(v):
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


@pytest.fixture(scope="module")
def vecs(spark):
    # Deterministic k-means init seeds from the FIRST n_cells ids, so the
    # fixture puts four DIVERSE vectors first (ids 0-3) — seeding every
    # centroid of a cell with a member of the same dup group would split
    # the group across cells (the known first-n-init pathology; the
    # production knob is more cells + more iters, not special seeding).
    rows = [
        (0, _unit([0.0, 0.0, 1.0, 0.0])),    # singleton
        (1, _unit([0.0, 0.0, 0.0, 1.0])),    # singleton
        (2, _unit([1.0, 0.01, 0.0, 0.0])),   # dup group A
        (3, _unit([0.0, 1.0, 0.01, 0.0])),   # dup group B
        (4, _unit([1.0, 0.02, 0.0, 0.0])),   # dup of 2
        (5, _unit([1.0, 0.03, 0.01, 0.0])),  # dup of 2/4 (chain)
        (6, _unit([0.0, 1.0, 0.02, 0.0])),   # dup of 3
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_pairs_found_within_cells(spark, vecs):
    pairs = semdedup_pairs(vecs, threshold=0.99, n_cells=4, iters=2)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert {(2, 4), (2, 5), (4, 5), (3, 6)} <= got
    assert all(a < b for a, b in got)
    for r in pairs.collect():
        assert r["cos_sim"] >= 0.99


def test_pairs_subset_of_brute_force(spark, vecs):
    from legend_community_delta_spark.functions.vectors import cosine
    a = vecs.select(F.col("vec_id").alias("id_a"),
                    F.col("embedding").alias("__va"))
    b = vecs.select(F.col("vec_id").alias("id_b"),
                    F.col("embedding").alias("__vb"))
    brute = {(r["id_a"], r["id_b"]) for r in
             a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
             .where(cosine(F.col("__va"), F.col("__vb")) >= 0.99).collect()}
    semd = {(r["id_a"], r["id_b"]) for r in
            semdedup_pairs(vecs, threshold=0.99, n_cells=4,
                           iters=2).collect()}
    assert semd <= brute


def test_semdedup_one_survivor_per_component(spark, vecs):
    kept = sorted(r["vec_id"] for r in
                  semdedup(vecs, threshold=0.99, n_cells=4,
                           iters=2).collect())
    # one survivor from {2,4,5}, one from {3,6}, both singletons kept
    assert len(kept) == 4
    assert 0 in kept and 1 in kept
    assert len({2, 4, 5} & set(kept)) == 1
    assert len({3, 6} & set(kept)) == 1


def test_keep_farthest_vs_min_id(spark, vecs):
    far = sorted(r["vec_id"] for r in
                 semdedup(vecs, threshold=0.99, n_cells=4, iters=2,
                          keep="farthest").collect())
    mid = sorted(r["vec_id"] for r in
                 semdedup(vecs, threshold=0.99, n_cells=4, iters=2,
                          keep="min_id").collect())
    assert len(far) == len(mid) == 4
    assert {r for r in mid if r in (2, 4, 5)} == {2}  # min id survives
    with pytest.raises(ValueError):
        semdedup(vecs, keep="bogus")


def test_max_cell_caps_pair_generation(spark, vecs):
    capped = semdedup_pairs(vecs, threshold=0.99, n_cells=1, iters=1,
                            max_cell=5)
    # ids 0-4 survive the cap in the single cell; (2,4) is the only
    # similar pair among them — the capped family is a documented subset
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert got == {(2, 4)}


def test_plan_no_udf_join_on_cell(spark, vecs):
    plan = (semdedup_pairs(vecs, threshold=0.99, n_cells=4, iters=1)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semantic_contamination_finds_planted_leak(spark):
    from legend_community_delta_spark.operators.similarity import (
        semantic_contamination)
    train = spark.createDataFrame(
        [(0, _unit([0.0, 0.0, 1.0, 0.0])),
         (1, _unit([0.0, 0.0, 0.0, 1.0])),
         (2, _unit([1.0, 0.01, 0.0, 0.0])),
         (3, _unit([0.0, 1.0, 0.01, 0.0]))],
        "vec_id long, embedding array<double>")
    evals = spark.createDataFrame(
        [(100, _unit([1.0, 0.015, 0.0, 0.0])),   # paraphrase of train 2
         (101, _unit([0.5, 0.5, 0.5, 0.5]))],    # genuinely novel
        "vec_id long, embedding array<double>")
    got = semantic_contamination(train, evals, threshold=0.99,
                                 n_cells=4, iters=2,
                                 assume_normalized=True).collect()
    pairs = {(r["eval_id"], r["train_id"]) for r in got}
    assert pairs == {(100, 2)}
    assert all(r["cos_sim"] >= 0.99 for r in got)


def test_semantic_contamination_subset_of_bruteforce(spark):
    from legend_community_delta_spark.functions.vectors import cosine
    from legend_community_delta_spark.operators.similarity import (
        semantic_contamination)
    import random
    rng = random.Random(7)
    train = spark.createDataFrame(
        [(i, _unit([rng.gauss(0, 1) for _ in range(8)])) for i in range(40)],
        "vec_id long, embedding array<double>")
    evals = spark.createDataFrame(
        [(100 + i, _unit([rng.gauss(0, 1) for _ in range(8)]))
         for i in range(10)],
        "vec_id long, embedding array<double>")
    brute = {(r["eval_id"], r["train_id"]) for r in
             evals.selectExpr("vec_id AS eval_id", "embedding AS ve")
             .crossJoin(train.selectExpr("vec_id AS train_id",
                                         "embedding AS vt"))
             .where(cosine(F.col("ve"), F.col("vt")) >= 0.5).collect()}
    semd = {(r["eval_id"], r["train_id"]) for r in
            semantic_contamination(train, evals, threshold=0.5,
                                   n_cells=4, iters=2).collect()}
    assert semd <= brute


def test_assign_cells_vectorized_matches_literal(spark):
    """The >64-cell Arrow/matmul assignment path must agree with the
    literal Column-expression path cell-for-cell (random floats — no
    exact similarity ties)."""
    import random
    from legend_community_delta_spark.operators.similarity import (
        _assign_cells, kmeans_centroids)
    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_centroids(df, 12, 1)
    lit = {r["vec_id"]: (r["__cell"], round(r["__csim"], 9))
           for r in _assign_cells(df, cents, "embedding", "vec_id",
                                  method="literal").collect()}
    vec = {r["vec_id"]: (r["__cell"], round(r["__csim"], 9))
           for r in _assign_cells(df, cents, "embedding", "vec_id",
                                  method="vectorized").collect()}
    assert set(lit) == set(vec)
    for k in lit:
        assert lit[k][0] == vec[k][0], k
        assert abs(lit[k][1] - vec[k][1]) < 1e-9, k


def test_assign_cells_tie_break_identical_across_paths(spark):
    """ADVICE r7: on exact similarity TIES (all-zero vectors, duplicate
    centroids) both paths must break toward the LOWEST cell index, so
    results cannot flip when the centroid count crosses the vectorized
    threshold."""
    from legend_community_delta_spark.operators.similarity import (
        _assign_cells)
    rows = [
        (0, [0.0, 0.0, 0.0]),          # all-zero: ties EVERY centroid
        (1, [1.0, 0.0, 0.0]),          # ties the duplicate centroids 1&3
        (2, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[0.0, 1.0, 0.0], [1.0, 0.0, 0.0],
             [0.0, 0.0, 1.0], [1.0, 0.0, 0.0]]   # 1 and 3 duplicate
    for norm in (False, True):
        lit = {r["vec_id"]: r["__cell"]
               for r in _assign_cells(df, cents, "embedding", "vec_id",
                                      assume_normalized=norm,
                                      method="literal").collect()}
        vec = {r["vec_id"]: r["__cell"]
               for r in _assign_cells(df, cents, "embedding", "vec_id",
                                      assume_normalized=norm,
                                      method="vectorized").collect()}
        assert lit == vec, (norm, lit, vec)
        assert lit[0] == 0          # all-zero -> lowest index wins
        assert lit[1] == 1          # duplicate centroid -> index 1, not 3


def test_centroid_ties_probe_the_cell_the_data_was_written_to(spark,
                                                              tmp_path):
    """Rows 0, 1 and 4 are identical and seed two identical centroids, so
    every cell choice for them is a tie.  IVF assignment, IVF probing and
    the kNN probes must all break it toward the lowest cell, or a query
    probes a cell its duplicates were never written to."""
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]),
         (3, [0.0, 1.0]), (4, [1.0, 0.0]), (5, [0.2, 0.8])],
        "vec_id long, embedding array<double>")
    q = [1.0, 0.0]

    def rows(out):
        return sorted(tuple(r) for r in out.collect())

    brute = rows(SIM.cosine_topk(df, q, k=3))
    assert [r[0] for r in brute] == [0, 1, 4]
    assert rows(SIM.ivf_topk(df, q, k=3, n_centroids=3, n_probe=1)) == brute
    path = str(tmp_path / "ivf")
    cents = SIM.build_ivf_index(df, path, n_centroids=3)
    assert rows(SIM.query_ivf_index(spark, path, q, k=3, n_probe=1)) == brute
    def cells(out):
        return {r["vec_id"]: r["__cell"] for r in out.collect()}

    assert cells(spark.read.parquet(path)) == cells(
        SIM._assign_cells(df, cents, "embedding", "vec_id"))

    def edges(g):
        return sorted((r["query_id"], r["vec_id"]) for r in g.collect())

    assert edges(SIM.knn_graph_cells(df, k=1, n_cells=3, n_probe=1)) == \
        edges(SIM.knn_graph(df, k=1))


@pytest.mark.parametrize("call", [
    lambda e, p: SIM.kmeans_centroids(e),
    lambda e, p: SIM.ivf_topk(e, [1.0, 0.0]),
    lambda e, p: SIM.build_ivf_index(e, p),
    lambda e, p: SIM.semdedup_pairs(e),
    lambda e, p: SIM.knn_graph_cells(e),
    lambda e, p: SIM.semantic_contamination(e, e),
    lambda e, p: _query_vec(e),
], ids=["kmeans_centroids", "ivf_topk", "build_ivf_index", "semdedup_pairs",
        "knn_graph_cells", "semantic_contamination", "demo._query_vec"])
def test_empty_vectors_raise_a_pointed_error(spark, tmp_path, call):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match=r"embedding|vec_id = 0"):
        call(empty, str(tmp_path / "idx"))

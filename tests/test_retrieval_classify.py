"""BM25 retrieval, Naive Bayes classifier, and count-min sketch:
hand-computed goldens, algebraic invariants, store semantics, plan pins.

(The end-to-end DuckDB parity of the three contract entries is covered
by test_oracle_parity.py's parametrized sweep.)
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from legend_community_delta_spark.operators.classify import (
    nb_confusion,
    nb_score,
    nb_train,
)
from legend_community_delta_spark.operators.retrieval import (
    bm25_topk,
    doc_postings,
)
from legend_community_delta_spark.operators.sketches import (
    cms_cells,
    cms_estimate,
    cms_merge,
    read_cms,
    write_cms_store,
)


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------

def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_hand_computed(spark):
    docs = _docs(spark, [
        (1, "spark spark join"),
        (2, "join table"),
        (3, "sort sort sort sort"),
    ])
    queries = spark.createDataFrame([("q", "spark")],
                                    "query_id string, query string")
    out = bm25_topk(docs, queries, k=10).collect()
    # only doc 1 contains 'spark'
    assert [(r.doc_id, r.rank) for r in out] == [(1, 1)]
    n, df, tf, dl, avgdl, k1, b = 3, 1, 2, 3, 3.0, 1.2, 0.75
    idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    w = idf * (tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl)))
    assert out[0].score == round(w, 6)


def test_bm25_rarer_term_outranks_common(spark):
    # 'rare' appears in 1 of 4 docs, 'common' in all: the rare-term doc
    # must outrank a common-term doc for the two-term query
    docs = _docs(spark, [
        (1, "common rare"),
        (2, "common x"),
        (3, "common y"),
        (4, "common z"),
    ])
    queries = spark.createDataFrame([("q", "common rare")],
                                    "query_id string, query string")
    out = {r.doc_id: r.rank for r in
           bm25_topk(docs, queries, k=10).collect()}
    assert out[1] == 1 and len(out) == 4


def test_bm25_query_term_absent_from_corpus_is_ignored(spark):
    docs = _docs(spark, [(1, "alpha beta"), (2, "beta gamma")])
    q = spark.createDataFrame([("q", "alpha zzz_never_seen")],
                              "query_id string, query string")
    out = bm25_topk(docs, q, k=10).collect()
    assert [r.doc_id for r in out] == [1]


def test_doc_postings_counts_all_occurrences(spark):
    docs = _docs(spark, [(1, "A a b")])
    rows = {(r.tok): (r.tf, r.dl)
            for r in doc_postings(docs).collect()}
    assert rows == {"a": (2, 3), "b": (1, 3)}


def test_bm25_plan_no_smj_no_udf_no_single_partition_topk(spark):
    docs = _docs(spark, [(i, f"tok{i} shared") for i in range(20)])
    q = spark.createDataFrame([("q1", "shared"), ("q2", "tok3")],
                              "query_id string, query string")
    plan = bm25_topk(docs, q, k=5)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# Naive Bayes
# ---------------------------------------------------------------------------

def _labeled(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, y string")


def test_nb_separable_classes(spark):
    train = _labeled(spark, [
        (1, "cat cat purr", "animal"), (2, "cat purr paw", "animal"),
        (3, "bolt nut wrench", "tool"), (4, "wrench bolt", "tool"),
    ])
    test = _labeled(spark, [(10, "cat purr", "animal"),
                            (11, "bolt wrench nut", "tool")])
    model, stats = nb_train(train, "y")
    preds = {r.doc_id: r.pred_label
             for r in nb_score(test, model, stats).collect()}
    assert preds == {10: "animal", 11: "tool"}
    conf = {(r.label, r.pred_label): r.docs
            for r in nb_confusion(test, model, stats, "y").collect()}
    assert conf == {("animal", "animal"): 1, ("tool", "tool"): 1}


def test_nb_model_is_complete_vocab_x_class_cross(spark):
    train = _labeled(spark, [(1, "aa bb", "x"), (2, "cc", "y")])
    model, _ = nb_train(train, "y")
    rows = {(r.label, r.tok) for r in model.collect()}
    assert rows == {(lbl, t) for lbl in ("x", "y")
                    for t in ("aa", "bb", "cc")}


def test_nb_hand_computed_logp(spark):
    # class x: tokens [aa aa bb] -> n_l=3, V=3 (aa,bb,cc)
    train = _labeled(spark, [(1, "aa aa bb", "x"), (2, "cc", "y")])
    model, stats = nb_train(train, "y")
    logp = {(r.label, r.tok): r.logp for r in model.collect()}
    assert logp[("x", "aa")] == pytest.approx(math.log(3 / 6))
    assert logp[("x", "cc")] == pytest.approx(math.log(1 / 6))
    st = {r.label: (r.log_prior, r.log_oov) for r in stats.collect()}
    assert st["x"][0] == pytest.approx(math.log(0.5))
    assert st["y"][1] == pytest.approx(math.log(1 / 4))


def test_nb_empty_doc_falls_back_to_prior_with_label_tiebreak(spark):
    # equal priors, empty test doc -> tie -> ascending label wins
    train = _labeled(spark, [(1, "aa", "x"), (2, "bb", "y")])
    model, stats = nb_train(train, "y")
    test = _labeled(spark, [(10, "", "x")])
    out = nb_score(test, model, stats).collect()
    assert [(r.doc_id, r.pred_label) for r in out] == [(10, "x")]


def test_nb_oov_tokens_use_per_class_floor(spark):
    # doc of only-OOV tokens: class with FEWER training tokens has the
    # higher floor ln(1/(n_l+V)) and must win under equal priors
    train = _labeled(spark, [(1, "aa aa aa aa aa", "big"),
                             (2, "bb", "small")])
    model, stats = nb_train(train, "y")
    test = _labeled(spark, [(10, "zz zz", "small")])
    out = nb_score(test, model, stats).collect()
    assert out[0].pred_label == "small"


def test_nb_plan_no_python_udfs(spark):
    train = _labeled(spark, [(1, "aa bb", "x"), (2, "cc", "y")])
    model, stats = nb_train(train, "y")
    plan = nb_score(train, model, stats)._jdf.queryExecution(
        ).explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# Count-min sketch
# ---------------------------------------------------------------------------

def _toks(spark, toks):
    return spark.createDataFrame([(t,) for t in toks], "tok string")


def test_cms_estimate_dominates_exact_counts(spark):
    toks = ["a"] * 5 + ["b"] * 3 + ["c"] * 2 + list("defghij")
    df = _toks(spark, toks)
    cms = cms_cells(df, "tok")
    probes = df.distinct()
    est = {r.value: r.est
           for r in cms_estimate(cms, probes, "tok").collect()}
    from collections import Counter
    exact = Counter(toks)
    for t, c in exact.items():
        assert est[t] >= c, t
    # 4096 cells vs 10 distinct values: no collisions, estimates exact
    assert est == dict(exact)


def test_cms_unseen_value_estimates_zero(spark):
    cms = cms_cells(_toks(spark, ["a", "b"]), "tok")
    probes = _toks(spark, ["zzz"])
    assert cms_estimate(cms, probes, "tok").collect()[0].est == 0


def test_cms_merge_is_cellwise_linear(spark):
    left = _toks(spark, ["a", "a", "b"])
    right = _toks(spark, ["a", "c"])
    merged = cms_merge(cms_cells(left, "tok")
                       .unionByName(cms_cells(right, "tok")))
    full = cms_cells(left.unionByName(right), "tok")
    assert (sorted(tuple(r) for r in merged.collect())
            == sorted(tuple(r) for r in full.collect()))


def test_cms_store_roundtrip_incremental(spark, tmp_path):
    path = str(tmp_path / "cms")
    write_cms_store(_toks(spark, ["a", "a", "b"]), path, "tok")
    write_cms_store(_toks(spark, ["a", "c"]), path, "tok")
    merged = read_cms(spark, path)
    est = {r.value: r.est
           for r in cms_estimate(merged,
                                 _toks(spark, ["a", "b", "c"]),
                                 "tok").collect()}
    assert est == {"a": 3, "b": 1, "c": 1}


def test_cms_store_rejects_mixed_shapes(spark, tmp_path):
    path = str(tmp_path / "cms")
    write_cms_store(_toks(spark, ["a"]), path, "tok", d=4)
    write_cms_store(_toks(spark, ["b"]), path, "tok", d=2)
    with pytest.raises(ValueError, match="mixes sketch shapes"):
        read_cms(spark, path)


def test_cms_store_is_metadata_sized(spark, tmp_path):
    # one batch's store rows are bounded by d * 16**prefix_len, not by
    # the input row count
    path = str(tmp_path / "cms")
    many = _toks(spark, [f"t{i % 7}" for i in range(1000)])
    write_cms_store(many, path, "tok", d=4, prefix_len=3)
    assert spark.read.parquet(path).count() <= 4 * 16 ** 3


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------

def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id_a long, id_b long")


def test_pagerank_symmetric_graphs_stay_uniform(spark):
    from legend_community_delta_spark.operators.graph import pagerank
    # a single edge and a triangle are vertex-transitive: ranks stay at
    # the uniform 1/N through every iteration
    two = {r.id: r.r for r in pagerank(_pairs(spark, [(1, 2)])).collect()}
    assert two[1] == pytest.approx(0.5) and two[2] == pytest.approx(0.5)
    tri = {r.id: r.r for r in
           pagerank(_pairs(spark, [(1, 2), (2, 3), (1, 3)])).collect()}
    assert all(v == pytest.approx(1 / 3) for v in tri.values())


def test_pagerank_star_hand_computed(spark):
    from legend_community_delta_spark.operators.graph import pagerank
    # star: hub 0 joined to leaves 1..3; replicate the fixed iteration
    # in plain python and compare exactly (same IEEE ops)
    edges = [(0, 1), (0, 2), (0, 3)]
    got = {r.id: r.r
           for r in pagerank(_pairs(spark, edges), iters=3).collect()}
    d, n = 0.85, 4
    r = {v: 1.0 / n for v in range(4)}
    deg = {0: 3, 1: 1, 2: 1, 3: 1}
    for _ in range(3):
        contrib = {v: 0.0 for v in range(4)}
        for a, b in edges + [(b, a) for a, b in edges]:
            contrib[b] += r[a] / deg[a]
        r = {v: (1.0 - d) / n + d * contrib[v] for v in range(4)}
    for v in range(4):
        assert got[v] == pytest.approx(r[v], abs=1e-12)
    assert got[0] > got[1]  # hub outranks leaves


def test_pagerank_mass_is_conserved(spark):
    from legend_community_delta_spark.operators.graph import pagerank
    # undirected graph, no dangling nodes: total rank stays 1
    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    total = (pagerank(_pairs(spark, edges), iters=4)
             .agg(F.sum("r")).first()[0])
    assert total == pytest.approx(1.0, abs=1e-9)


def test_pagerank_directed_mode_keeps_edge_direction(spark):
    from legend_community_delta_spark.operators.graph import pagerank
    # 1 -> 2 directed: 2 receives 1's mass, 1 only keeps the baseline
    got = {r.id: r.r for r in
           pagerank(_pairs(spark, [(1, 2), (2, 1)]), iters=2,
                    directed=True).collect()}
    sym = {r.id: r.r for r in
           pagerank(_pairs(spark, [(1, 2)]), iters=2).collect()}
    assert got == pytest.approx(sym)  # 2-cycle == symmetrized edge


# ---------------------------------------------------------------------------
# Persisted BM25 index / NB model store / streaming gate
# ---------------------------------------------------------------------------

def test_bm25_index_equals_inflight_and_prunes_partitions(spark, tmp_path):
    from legend_community_delta_spark.operators.retrieval import (
        query_bm25_index, write_bm25_index)
    docs = _docs(spark, [(i, f"alpha tok{i % 5} beta") for i in range(40)])
    q = spark.createDataFrame([("q1", "alpha tok3"), ("q2", "beta")],
                              "query_id string, query string")
    path = str(tmp_path / "idx")
    write_bm25_index(docs, path)
    via_index = query_bm25_index(spark, path, q, k=7)
    inflight = bm25_topk(docs, q, k=7)
    assert (sorted(map(tuple, via_index.collect()))
            == sorted(map(tuple, inflight.collect())))
    plan = via_index._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert "PartitionFilters" in plan and "__bkt" in plan
    # an empty corpus leaves no postings file; the schema recorded in
    # the index footer still answers, with an empty top-k
    empty = _docs(spark, [])
    write_bm25_index(empty, str(tmp_path / "empty_idx"))
    assert query_bm25_index(spark, str(tmp_path / "empty_idx"), q,
                            k=7).collect() == []
    assert bm25_topk(empty, q, k=7).collect() == []


def test_nb_model_store_roundtrip(spark, tmp_path):
    from legend_community_delta_spark.operators.classify import (
        read_nb_model, write_nb_model)
    train = _labeled(spark, [(1, "aa bb", "x"), (2, "cc", "y")])
    model, stats = nb_train(train, "y")
    write_nb_model(model, stats, str(tmp_path / "nb"))
    m2, s2 = read_nb_model(spark, str(tmp_path / "nb"))
    assert (sorted(map(tuple, m2.collect()))
            == sorted(map(tuple, model.collect())))
    assert (sorted(map(tuple, s2.collect()))
            == sorted(map(tuple, stats.collect())))


def test_nb_stream_matches_batch_scorer(spark, tmp_path):
    from legend_community_delta_spark.operators.classify import (
        nb_model_wide)
    from legend_community_delta_spark.streaming import nb_score_stream
    train = _labeled(spark, [
        (1, "cat cat purr", "animal"), (2, "cat paw", "animal"),
        (3, "bolt nut wrench", "tool"), (4, "wrench bolt", "tool"),
    ])
    # includes an empty doc (prior fallback), an OOV-only doc, and a
    # NULL-text doc (regression: legacy sizeOfNull gives size(NULL)=-1,
    # which once injected a spurious -log_oov into every class score)
    test = _labeled(spark, [(10, "cat purr zz", "animal"),
                            (11, "bolt", "tool"),
                            (12, "", "animal"),
                            (13, "zz qq", "tool"),
                            (14, None, "animal")])
    model, stats = nb_train(train, "y")
    wide, stats_rows = nb_model_wide(model, stats)
    src = str(tmp_path / "src")
    test.select("doc_id", "text").write.parquet(src)
    stream = (spark.readStream
              .schema(spark.read.parquet(src).schema).parquet(src))
    q = (nb_score_stream(stream, wide, stats_rows)
         .writeStream.format("memory").queryName("__nb_test_sink")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    q.stop()
    got = {r.doc_id: (r.pred_label, r.score)
           for r in spark.table("__nb_test_sink").collect()}
    want = {r.doc_id: (r.pred_label, r.score)
            for r in nb_score(test, model, stats).collect()}
    # exact round-6 parity: the contract oracle compares value hashes,
    # so the streaming scorer must reproduce the batch scores EXACTLY
    # (same cnt*logp multiplication set, single OOV multiply)
    assert got == want


def test_nb_model_wide_pivots_every_class(spark):
    from legend_community_delta_spark.operators.classify import (
        nb_model_wide)
    train = _labeled(spark, [(1, "aa", "x"), (2, "bb", "y"),
                             (3, "aa cc", "z")])
    model, stats = nb_train(train, "y")
    wide, stats_rows = nb_model_wide(model, stats)
    assert [r.label for r in stats_rows] == ["x", "y", "z"]
    assert set(wide.columns) == {"tok", "x", "y", "z"}
    assert wide.count() == 3  # one row per vocab token


# ---------------------------------------------------------------------------
# Containment pairs (asymmetric near-dup)
# ---------------------------------------------------------------------------

def test_containment_finds_excerpt_jaccard_misses(spark):
    from legend_community_delta_spark.operators.dedup import (
        containment_pairs, ngram_jaccard_pairs)
    base = " ".join(f"w{i}" for i in range(8))          # the excerpt
    long = base + " " + " ".join(f"x{i}" for i in range(40))
    docs = _docs(spark, [(1, base), (2, long)])
    got = {(r.id_a, r.id_b): r.containment
           for r in containment_pairs(docs, n=5, threshold=0.9).collect()}
    # excerpt fully contained in the long doc; reverse direction absent
    assert got == {(1, 2): 1.0}
    jac = ngram_jaccard_pairs(docs, n=5, threshold=0.9).collect()
    assert jac == []  # symmetric jaccard misses it


def test_containment_identical_docs_both_directions(spark):
    from legend_community_delta_spark.operators.dedup import (
        containment_pairs)
    t = " ".join(f"w{i}" for i in range(10))
    docs = _docs(spark, [(1, t), (2, t)])
    got = {(r.id_a, r.id_b): r.containment
           for r in containment_pairs(docs, n=5, threshold=0.9).collect()}
    assert got == {(1, 2): 1.0, (2, 1): 1.0}


def test_containment_matches_bruteforce(spark):
    from legend_community_delta_spark.operators.dedup import (
        containment_pairs)
    import itertools
    import random
    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(12)]
    texts = [" ".join(rng.choice(vocab) for _ in range(rng.randint(6, 18)))
             for _ in range(15)]
    docs = _docs(spark, list(enumerate(texts)))

    def gramset(s, n=4):
        w = s.split()
        return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}

    want = {}
    for a, b in itertools.permutations(range(15), 2):
        ga, gb = gramset(texts[a]), gramset(texts[b])
        if ga and len(ga & gb) / len(ga) >= 0.5:
            want[(a, b)] = len(ga & gb) / len(ga)
    got = {(r.id_a, r.id_b): r.containment
           for r in containment_pairs(docs, n=4, threshold=0.5).collect()}
    assert got == pytest.approx(want)


def test_containment_plan_no_cartesian(spark):
    from legend_community_delta_spark.operators.dedup import (
        containment_pairs)
    docs = _docs(spark, [(i, f"a b c d e f{i} g h") for i in range(10)])
    plan = containment_pairs(docs)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# Weighted sampling without replacement
# ---------------------------------------------------------------------------

def _wdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, w double")


def test_weighted_sample_matches_python_reference(spark):
    import hashlib
    import math
    from legend_community_delta_spark.operators.curation import (
        weighted_sample)
    rows = [(i, float(1 + i % 7)) for i in range(200)]
    got = [(r.doc_id, r["__key"]) for r in
           weighted_sample(_wdocs(spark, rows), "w", k=30).collect()]

    def key(i, w):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:13], 16)
        u = float(h + 1) / 4503599627370497.0
        return round(math.log(u) / w, 9)

    want = sorted(((i, key(i, w)) for i, w in rows),
                  key=lambda t: (-t[1], t[0]))[:30]
    assert got == want


def test_weighted_sample_tracks_weights(spark):
    from legend_community_delta_spark.operators.curation import (
        weighted_sample)
    # 500 heavy (w=10) + 500 light (w=1): heavy rows dominate the sample
    rows = ([(i, 10.0) for i in range(500)]
            + [(i + 500, 1.0) for i in range(500)])
    out = weighted_sample(_wdocs(spark, rows), "w", k=200).collect()
    heavy = sum(1 for r in out if r.doc_id < 500)
    assert heavy > 150  # E[heavy] ~ 191 under A-Res; light-only would be 100


def test_weighted_sample_excludes_nonpositive_weights(spark):
    from legend_community_delta_spark.operators.curation import (
        weighted_sample)
    rows = [(1, 5.0), (2, 0.0), (3, -1.0), (4, None), (5, 2.0)]
    out = weighted_sample(_wdocs(spark, rows), "w", k=10).collect()
    assert sorted(r.doc_id for r in out) == [1, 5]


def test_weighted_sample_grouped_k_per_group(spark):
    from legend_community_delta_spark.operators.curation import (
        weighted_sample)
    df = spark.createDataFrame(
        [(i, 1.0 + i % 3, "g" + str(i % 2)) for i in range(40)],
        "doc_id long, w double, g string")
    out = weighted_sample(df, "w", k=5, group_cols=("g",)).collect()
    from collections import Counter
    assert Counter(r.g for r in out) == {"g0": 5, "g1": 5}


def test_weighted_sample_plans(spark):
    from legend_community_delta_spark.operators.curation import (
        weighted_sample)
    df = _wdocs(spark, [(i, 1.0 + i) for i in range(50)])
    plan = weighted_sample(df, "w", k=5)._jdf.queryExecution(
        ).explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert "TakeOrderedAndProject" in plan
    gdf = spark.createDataFrame(
        [(i, 1.0, "g" + str(i % 3)) for i in range(50)],
        "doc_id long, w double, g string")
    gplan = weighted_sample(gdf, "w", k=5, group_cols=("g",))._jdf \
        .queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert "SinglePartition" not in gplan


# ---------------------------------------------------------------------------
# PSI drift
# ---------------------------------------------------------------------------

def test_psi_zero_when_current_equals_baseline(spark):
    from legend_community_delta_spark.operators.scoring import psi_drift
    df = spark.createDataFrame(
        [("p1", float(v)) for v in range(0, 500, 5)],
        "period string, value double")
    out = psi_drift(df, df, "value", "period",
                    n_bins=10, lo=0.0, hi=500.0).collect()
    # identical distributions: every p_i == q_i exactly -> psi == 0.0
    assert [(r.period, r.psi) for r in out] == [("p1", 0.0)]


def test_psi_grows_with_shift_and_clamps_outliers(spark):
    from legend_community_delta_spark.operators.scoring import psi_drift
    base = spark.createDataFrame([("b", 10.0 + i) for i in range(100)],
                                 "period string, value double")
    near = spark.createDataFrame([("cur", 30.0 + i) for i in range(100)],
                                 "period string, value double")
    far = spark.createDataFrame(
        [("cur", 400.0 + i * 3) for i in range(100)],  # incl. >hi outliers
        "period string, value double")
    psi_near = psi_drift(near, base, "value", "period",
                         n_bins=10, lo=0.0, hi=500.0).first().psi
    psi_far = psi_drift(far, base, "value", "period",
                        n_bins=10, lo=0.0, hi=500.0).first().psi
    assert 0 < psi_near < psi_far


def test_psi_one_row_per_period(spark):
    from legend_community_delta_spark.operators.scoring import psi_drift
    cur = spark.createDataFrame(
        [(f"p{i % 3}", float(i % 490)) for i in range(300)],
        "period string, value double")
    base = cur.where("period = 'p0'")
    out = psi_drift(cur, base, "value", "period").collect()
    assert sorted(r.period for r in out) == ["p0", "p1", "p2"]
    p0 = {r.period: r.psi for r in out}["p0"]
    assert p0 == 0.0  # baseline vs itself


# ---------------------------------------------------------------------------
# Char entropy / key skew
# ---------------------------------------------------------------------------

def test_char_entropy_hand_computed(spark):
    import math
    from legend_community_delta_spark.operators.scoring import (
        char_entropy_stats)
    df = _docs(spark, [(1, "aabb"), (2, "aaaa"), (3, ""), (4, None),
                       (5, "abcd")])
    got = {r.doc_id: (r.n_chars_counted, r.char_entropy)
           for r in char_entropy_stats(df).collect()}
    assert got[1] == (4, round(math.log(2), 6))
    assert got[2] == (4, 0.0)           # single-char flood: zero entropy
    assert got[3] == (0, None) and got[4] == (0, None)
    assert got[5] == (4, round(math.log(4), 6))  # uniform: ln(alphabet)


def test_key_skew_report_fracs_and_ranks(spark):
    from legend_community_delta_spark.operators.joins import (
        key_skew_report)
    df = spark.createDataFrame(
        [(i, "hot" if i % 10 else "cold") for i in range(100)],
        "id long, k string")
    got = [(r.k, r.n, r.frac, r.rank)
           for r in key_skew_report(df, ["k"], top_n=5).collect()]
    assert got == [("hot", 90, 0.9, 1), ("cold", 10, 0.1, 2)]


def test_key_skew_report_composite_keys_and_topn(spark):
    from legend_community_delta_spark.operators.joins import (
        key_skew_report)
    df = spark.createDataFrame(
        [(i % 3, i % 2) for i in range(60)], "a int, b int")
    out = key_skew_report(df, ["a", "b"], top_n=4).collect()
    assert len(out) == 4
    assert all(out[i].n >= out[i + 1].n for i in range(len(out) - 1))
    assert [r.rank for r in out] == [1, 2, 3, 4]


# ---------------------------------------------------------------------------
# Edit-distance pairs (SymSpell deletion join)
# ---------------------------------------------------------------------------

def test_edit_pairs_matches_bruteforce(spark):
    import itertools
    from legend_community_delta_spark.operators.dedup import (
        edit_distance_pairs)

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a):
            cur = [i + 1]
            for j, cb in enumerate(b):
                cur.append(min(prev[j + 1] + 1, cur[j] + 1,
                               prev[j] + (ca != cb)))
            prev = cur
        return prev[-1]

    vocab = ["table", "tble", "cable", "fable", "tables", "scan",
             "scam", "span", "a", "ab", "b", "zzz"]
    df = spark.createDataFrame([(v,) for v in vocab], "tok string")
    got = {(r.val_a, r.val_b): r.dist
           for r in edit_distance_pairs(df).collect()}
    want = {(a, b): lev(a, b)
            for a, b in itertools.combinations(sorted(set(vocab)), 2)
            if lev(a, b) <= 1}
    assert got == want
    assert ("scam", "scan") in got and ("table", "tble") in got


def test_edit_pairs_rejects_k2_and_nulls(spark):
    from legend_community_delta_spark.operators.dedup import (
        edit_distance_pairs)
    df = spark.createDataFrame([("ab",), (None,), ("xy",)], "tok string")
    assert edit_distance_pairs(df).collect() == []  # dist("ab","xy")=2
    with pytest.raises(ValueError, match="max_dist=1 only"):
        edit_distance_pairs(df, max_dist=2)


def test_edit_pairs_plan_no_cartesian(spark):
    from legend_community_delta_spark.operators.dedup import (
        edit_distance_pairs)
    df = spark.createDataFrame([(f"tok{i}",) for i in range(30)],
                               "tok string")
    plan = edit_distance_pairs(df)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# kNN graph
# ---------------------------------------------------------------------------

def test_knn_graph_excludes_self_and_ranks(spark):
    from legend_community_delta_spark.operators.similarity import (
        knn_graph)
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]),
         (4, [-1.0, 0.0])],
        "vec_id long, embedding array<double>")
    got = {(r.query_id, r.rank): r.vec_id
           for r in knn_graph(emb, k=2).collect()}
    assert got[(1, 1)] == 2          # nearest neighbor, never itself
    assert got[(4, 2)] == 3 or got[(4, 1)] == 3
    assert all(q != v for (q, _), v in got.items())


def test_knn_graph_cells_recall_floor(spark):
    # the within-cell graph must recover >= 0.75 of the exact graph's
    # edges at (n_cells=8, n_probe=5) on the real embeddings table
    # (measured 0.856; the floor guards against banding regressions)
    from legend_community_delta_spark.operators.similarity import (
        knn_graph, knn_graph_cells)
    from conftest import SF_DIR
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = {(r.query_id, r.vec_id)
             for r in knn_graph(emb, k=3).collect()}
    cells = {(r.query_id, r.vec_id)
             for r in knn_graph_cells(emb, k=3, n_cells=8,
                                      n_probe=5).collect()}
    assert len(exact & cells) / len(exact) >= 0.75


def test_knn_graph_cells_unique_ranks_per_query(spark):
    # multiprobe can propose the same pair from several cells; ranks
    # must stay unique after the dedup
    from legend_community_delta_spark.operators.similarity import (
        knn_graph_cells)
    emb = spark.createDataFrame(
        [(i, [float(i % 5), float((i * 3) % 7), 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>")
    out = knn_graph_cells(emb, k=3, n_cells=4, n_probe=4).collect()
    seen = {}
    for r in out:
        key = (r.query_id, r.rank)
        assert key not in seen
        seen[key] = r.vec_id


# ---------------------------------------------------------------------------
# Incremental connected components
# ---------------------------------------------------------------------------

def _pairs2(spark, rows):
    return spark.createDataFrame(rows, "id_a long, id_b long")


def test_incremental_components_equals_batch(spark, tmp_path):
    from legend_community_delta_spark.operators.graph import (
        connected_components, incremental_components)
    all_edges = [(1, 2), (3, 4), (5, 6), (2, 3), (7, 8)]
    path = str(tmp_path / "cc")
    incremental_components(spark, path, _pairs2(spark, all_edges[:2]))
    incremental_components(spark, path, _pairs2(spark, all_edges[2:4]))
    got = {r.id: r.component
           for r in incremental_components(
               spark, path, _pairs2(spark, all_edges[4:])).collect()}
    want = {r.id: r.component
            for r in connected_components(
                _pairs2(spark, all_edges)).collect()}
    assert got == want
    assert got[4] == 1  # the late (2,3) edge merged {1,2} with {3,4}


def test_incremental_components_merges_two_old_components(spark, tmp_path):
    from legend_community_delta_spark.operators.graph import (
        incremental_components)
    path = str(tmp_path / "cc")
    incremental_components(spark, path, _pairs2(spark, [(1, 2), (9, 10)]))
    got = {r.id: r.component
           for r in incremental_components(
               spark, path, _pairs2(spark, [(2, 9)])).collect()}
    # one bridging edge unifies both stored components under min id 1
    assert got == {1: 1, 2: 1, 9: 1, 10: 1}


def test_incremental_components_store_persists_between_calls(spark,
                                                             tmp_path):
    from legend_community_delta_spark.operators.graph import (
        incremental_components)
    path = str(tmp_path / "cc")
    incremental_components(spark, path, _pairs2(spark, [(4, 5)]))
    stored = {tuple(r) for r in spark.read.parquet(path).collect()}
    assert stored == {(4, 4), (5, 4)}


# ---------------------------------------------------------------------------
# KS drift
# ---------------------------------------------------------------------------

def test_ks_zero_on_identical_and_one_on_disjoint(spark):
    from legend_community_delta_spark.operators.scoring import ks_drift
    same = spark.createDataFrame(
        [("p", float(v)) for v in range(50)], "period string, value double")
    assert ks_drift(same, same, "value", "period").first().ks == 0.0
    lo = spark.createDataFrame([("p", float(v)) for v in range(50)],
                               "period string, value double")
    hi = spark.createDataFrame([("b", 1000.0 + v) for v in range(50)],
                               "period string, value double")
    # fully separated supports: D = 1
    assert ks_drift(lo, hi, "value", "period").first().ks == 1.0


def test_ks_matches_scipy_style_reference(spark):
    import itertools
    from legend_community_delta_spark.operators.scoring import ks_drift
    import random
    rng = random.Random(3)
    a = [round(rng.uniform(0, 10), 3) for _ in range(40)]
    b = [round(rng.gauss(6, 2), 3) for _ in range(60)]
    cur = spark.createDataFrame([("p", v) for v in a],
                                "period string, value double")
    base = spark.createDataFrame([("b", v) for v in b],
                                 "period string, value double")
    got = ks_drift(cur, base, "value", "period").first().ks

    def ecdf(xs, x):
        return sum(1 for v in xs if v <= x) / len(xs)

    want = max(abs(ecdf(a, x) - ecdf(b, x)) for x in a + b)
    assert got == round(want, 6)


def test_ks_handles_ties_across_sides(spark):
    from legend_community_delta_spark.operators.scoring import ks_drift
    # heavy ties shared by both samples: D must evaluate AFTER all rows
    # of the tied value on both sides (range frame), here exactly 0.25
    cur = spark.createDataFrame(
        [("p", v) for v in [1.0, 1.0, 2.0, 2.0]],
        "period string, value double")
    base = spark.createDataFrame(
        [("b", v) for v in [1.0, 2.0, 2.0, 2.0]],
        "period string, value double")
    assert ks_drift(cur, base, "value", "period").first().ks == 0.25


def test_pagerank_directed_sink_nodes_receive_rank(spark):
    from legend_community_delta_spark.operators.graph import pagerank
    # 1 -> 2, 3 -> 2: node 2 is a pure sink — it must appear in the
    # output with baseline + inflow (directed mode keeps sinks; their
    # own mass is not redistributed, the documented simplification)
    got = {r.id: r.r for r in
           pagerank(_pairs(spark, [(1, 2), (3, 2)]), iters=1,
                    directed=True).collect()}
    assert set(got) == {1, 2, 3}
    d, n = 0.85, 3
    assert got[1] == pytest.approx((1 - d) / n)
    assert got[2] == pytest.approx((1 - d) / n + d * (2 / 3))


# ---------------------------------------------------------------------------
# Round-6 regressions (ADVICE items)
# ---------------------------------------------------------------------------

def test_bm25_null_text_ignored_in_avgdl(spark):
    # NULL-text doc: excluded from avgdl (SQL AVG semantics; legacy
    # sizeOfNull would have contributed -1), still counted in n_docs
    docs = _docs(spark, [(1, "aa aa"), (2, "bb"), (3, None)])
    queries = spark.createDataFrame([("q", "aa")],
                                    "query_id string, query string")
    out = bm25_topk(docs, queries, k=10).collect()
    assert [(r.doc_id, r.rank) for r in out] == [(1, 1)]
    n, df, tf, dl, avgdl, k1, b = 3, 1, 2, 2, 1.5, 1.2, 0.75
    idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    w = idf * (tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl)))
    assert out[0].score == round(w, 6)


def test_nb_train_keeps_tokenless_class(spark):
    # a label whose training docs all tokenize to zero tokens must keep
    # its prior (log_oov = ln(1/V)) instead of vanishing from the model
    train = _labeled(spark, [(1, "aa bb", "x"), (2, "", "y")])
    model, stats = nb_train(train, "y")
    srows = {r.label: r for r in stats.collect()}
    assert set(srows) == {"x", "y"}
    assert srows["y"].log_prior == pytest.approx(math.log(0.5))
    assert srows["y"].log_oov == pytest.approx(math.log(1.0 / 2))  # V=2
    # the model still carries vocab x classes rows for y (floor probs)
    mrows = {(r.label, r.tok): r.logp for r in model.collect()}
    assert ("y", "aa") in mrows and ("y", "bb") in mrows
    assert mrows[("y", "aa")] == pytest.approx(math.log(1.0 / 2))
    # an OOV-only doc falls back to the prior argmax and can pick either
    preds = nb_score(_labeled(spark, [(9, "zz", "x")]), model, stats)
    assert preds.collect()[0].pred_label in {"x", "y"}


def test_cms_null_values_estimable(spark):
    # NULLs counted into the sketch must be estimable by a NULL probe
    # (est >= true count); hashing NULL through md5(concat(...)) would
    # have put them under NULL cells the probe join can never match
    df = spark.createDataFrame([(None,), (None,), ("a",)],
                               "v string")
    cms = cms_merge(cms_cells(df, "v"))
    probes = spark.createDataFrame([(None,), ("a",)], "v string")
    est = {r.value: r.est for r in
           cms_estimate(cms, probes, "v").collect()}
    null_key = [k for k in est if k not in ("a",)]
    assert len(null_key) == 1  # the NULL probe row survives
    assert est[null_key[0]] >= 2
    assert est["a"] >= 1

"""Curation pipeline + IVF refinement tests."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from legend_community_delta_spark.operators.curation import curate_corpus
from legend_community_delta_spark.operators.similarity import (
    ivf_topk,
    kmeans_centroids,
)

from conftest import SF_DIR


def test_curate_corpus(spark):
    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the woods to find some food for the long cold winter")
    rows = [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base),                         # exact dup
        Row(doc_id=3, text=base.replace("runs", "walks")),  # near dup
        Row(doc_id=4, text="ok " * 40),                   # passes quality
        Row(doc_id=5, text="x"),                          # fails quality
    ]
    df = spark.createDataFrame(rows)
    out, stats = curate_corpus(df, min_quality=0.5, near_dup_threshold=0.5)
    kept = sorted(r["doc_id"] for r in out.collect())
    assert stats["input"] == 5
    assert stats["after_quality"] == 4          # doc 5 dropped
    assert stats["after_exact_dedup"] == 3      # doc 2 folded into 1
    assert stats["after_near_dedup"] == 2       # doc 3 dropped (near dup of 1)
    assert kept == [1, 4]


def test_curate_corpus_exact_backend(spark):
    """The exact-Jaccard backend reproduces the same drops as MinHash on a
    clear-cut corpus, is deterministic across runs, and rejects unknown
    backend names."""
    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the woods to find some food for the long cold winter")
    rows = [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base),                           # exact dup
        Row(doc_id=3, text=base.replace("runs", "walks")),  # near dup
        Row(doc_id=4, text="the cat sat on a mat and looked out at the rain "
                           "falling softly over the quiet grey town all day"),
        Row(doc_id=5, text="x"),                            # fails quality
    ]
    df = spark.createDataFrame(rows)
    out, stats = curate_corpus(df, min_quality=0.5, near_dup_threshold=0.5,
                               near_dup_backend="exact", ngram_n=3)
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [1, 4]
    assert stats["after_near_dedup"] == 2
    out2, _ = curate_corpus(df, min_quality=0.5, near_dup_threshold=0.5,
                            near_dup_backend="exact", ngram_n=3)
    assert sorted(r["doc_id"] for r in out2.collect()) == kept

    with pytest.raises(ValueError, match="near_dup_backend"):
        curate_corpus(df, near_dup_backend="nope", collect_stats=False)

    # the production backend (LSH candidates + exact verification)
    # reaches the same decisions on this clear-cut corpus
    outv, _ = curate_corpus(df, min_quality=0.5, near_dup_threshold=0.5,
                            near_dup_backend="minhash_verified", ngram_n=3)
    assert sorted(r["doc_id"] for r in outv.collect()) == kept


def test_curate_provenance_matches_pipeline(spark):
    """The one-action provenance labels must agree exactly with the
    pipeline: 'kept' ids == curate_corpus output, and the label counts
    reconcile with the per-stage collect_stats counters.  A NULL-text doc
    is unioned in (ADVICE r3): quality_score(NULL) is 0.0, the quality
    gate drops it, and provenance must label it 'quality' — before the
    fixes it scored 0.77 (least/greatest skip NULLs) and sailed through
    to a wrong downstream label."""
    from legend_community_delta_spark.operators.curation import (
        curate_provenance)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    null_doc = spark.createDataFrame(
        [Row(doc_id=100_000, text=None, lang="en", source="synthetic",
             n_chars=0)], schema=docs.schema)
    docs = docs.unionByName(null_doc)
    kw = dict(min_quality=0.3, near_dup_threshold=0.2, max_tokens=2_000,
              near_dup_backend="exact", ngram_n=5)
    out, stats = curate_corpus(docs, **kw)
    prov = curate_provenance(docs, **kw)
    labels = {r["doc_id"]: r["drop_stage"] for r in prov.collect()}

    kept = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert sorted(i for i, s in labels.items() if s == "kept") == kept

    from collections import Counter
    n = Counter(labels.values())
    assert len(labels) == stats["input"]
    assert n["quality"] == stats["input"] - stats["after_quality"]
    assert n["exact_dup"] == stats["after_quality"] - stats["after_exact_dedup"]
    assert n["near_dup"] == stats["after_exact_dedup"] - stats["after_near_dedup"]
    assert n["budget"] == stats["after_near_dedup"] - stats["output"]
    assert n["kept"] == stats["output"] > 0
    assert n["budget"] > 0     # the budget stage actually cut something
    assert labels[100_000] == "quality"   # NULL text == quality drop


def test_curate_token_budget(spark):
    rows = [Row(doc_id=i, text=f"word{i} " * 100) for i in range(1, 6)]
    df = spark.createDataFrame(rows)
    out, stats = curate_corpus(df, min_quality=0.0, near_dup_threshold=1.01,
                               max_tokens=250)
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2]


def test_token_budget_cut_matches_global_window(spark):
    """The bucketed two-level prefix sum must select exactly the same
    id-ordered prefix as a naive global running-sum window, regardless of
    input partitioning, for numeric AND string ids."""
    from pyspark.sql import Window, functions as F
    from legend_community_delta_spark.functions.text import token_count
    from legend_community_delta_spark.operators.curation import token_budget_cut

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    budget = 20_000

    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    naive = (docs.withColumn("__c", F.sum(token_count("text")).over(w))
             .where(F.col("__c") <= budget))
    expect = sorted(r["doc_id"] for r in naive.select("doc_id").collect())
    assert 0 < len(expect) < docs.count()

    got = token_budget_cut(docs, max_tokens=budget, n_buckets=16)
    assert sorted(r["doc_id"] for r in got.select("doc_id").collect()) == expect
    # partitioning-independent
    got7 = token_budget_cut(docs.repartition(7), max_tokens=budget, n_buckets=16)
    assert sorted(r["doc_id"] for r in got7.select("doc_id").collect()) == expect
    # string ids: zero-padded so lexicographic == numeric order
    sdocs = docs.withColumn("doc_id", F.format_string("doc%06d", "doc_id"))
    gots = token_budget_cut(sdocs, max_tokens=budget, prefix_len=5)
    got_ids = sorted(int(r["doc_id"][3:]) for r in gots.select("doc_id").collect())
    assert got_ids == expect

    # the per-doc running sum is partitioned by bucket (parallel), not global
    plan = got._jdf.queryExecution().executedPlan().toString()
    doc_windows = [ln for ln in plan.splitlines()
                   if "windowspecdefinition" in ln and "doc_id" in ln]
    assert doc_windows and all("__b" in ln for ln in doc_windows)


def test_ivf_with_kmeans_refinement(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = [float(x) for x in emb.where("vec_id = 7").first()["embedding"]]
    cents = kmeans_centroids(emb, n_centroids=4, iters=2)
    assert len(cents) == 4 and all(len(c) == 64 for c in cents)
    top = ivf_topk(emb, q, k=3, n_centroids=4, n_probe=4,
                   refine_iters=2).collect()
    assert top[0]["vec_id"] == 7
    assert top[0]["cosine"] == pytest.approx(1.0)


def test_normalize_embeddings_per_group(spark):
    from legend_community_delta_spark.operators.multimodal import (
        normalize_embeddings_per_group)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = normalize_embeddings_per_group(emb)
    assert out.count() == emb.count()
    # each group's mean is ~0 after centering
    from pyspark.sql import functions as F
    means = (out.select("label", F.posexplode("embedding").alias("p", "x"))
             .groupBy("label").agg(F.avg("x").alias("m")).collect())
    assert all(abs(r["m"]) < 1e-5 for r in means)


def test_session_configs():
    from legend_community_delta_spark.session import recommended_configs
    local = recommended_configs(8, "local")
    assert local["spark.sql.shuffle.partitions"] == "8"
    cluster = recommended_configs(400, "cluster")
    assert int(cluster["spark.sql.shuffle.partitions"]) == 1200
    assert cluster["spark.sql.adaptive.skewJoin.enabled"] == "true"


def test_query_error_messages(legend):
    import pytest as _pytest
    from legend_community_delta_spark import LegendModelError
    with _pytest.raises(LegendModelError, match="is a class entity"):
        legend.generate_sql("demo::entity::person")
    with _pytest.raises(LegendModelError, match="unknown entity"):
        legend.generate_sql("demo::mapping::nope")


def test_lazy_ann_variants_agree(spark):
    """cosine_topk_df / lsh_topk_df (broadcast query side, no driver
    .first()) must return exactly what the list-based variants return."""
    from legend_community_delta_spark.operators.similarity import (
        cosine_topk, cosine_topk_df, lsh_topk, lsh_topk_df)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qdf = emb.where("vec_id = 3")
    q = [float(x) for x in qdf.first()["embedding"]]
    assert ([tuple(r) for r in cosine_topk_df(emb, qdf, k=5).collect()]
            == [tuple(r) for r in cosine_topk(emb, q, k=5).collect()])
    assert ([tuple(r) for r in lsh_topk_df(emb, qdf, dims=64, k=5,
                                           n_planes=8).collect()]
            == [tuple(r) for r in lsh_topk(emb, q, k=5,
                                           n_planes=8).collect()])


def test_lsh_index_persist_and_prune(spark, tmp_path):
    """Persisted LSH index: query results match the on-the-fly lsh_topk,
    and the scan is partition-pruned to the probed signature buckets."""
    from legend_community_delta_spark.operators.similarity import (
        build_lsh_index, lsh_topk, query_lsh_index)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "lsh_index")
    build_lsh_index(emb, path, dims=64, n_planes=8)
    q = [float(x) for x in emb.where("vec_id = 3").first()["embedding"]]
    got = query_lsh_index(spark, path, q, k=5)
    expect = lsh_topk(emb, q, k=5, n_planes=8)
    assert ([tuple(r) for r in got.collect()]
            == [tuple(r) for r in expect.collect()])
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "__sig" in plan[plan.find("PartitionFilters"):][:300]


def test_token_budget_quantile_bucketing_shared_prefix(spark):
    """VERDICT r2 hardening #5: zero-padded sequential string ids share a
    long prefix, so fixed-prefix bucketing collapses to ONE fat bucket
    (the fat-partition problem the function exists to avoid).  Sampled
    quantile cuts must (a) select exactly the same set, (b) actually
    spread the corpus over many buckets, (c) keep the per-doc window
    partitioned by bucket."""
    from pyspark.sql import Window, functions as F
    from legend_community_delta_spark.functions.text import token_count
    from legend_community_delta_spark.operators.curation import (
        token_budget_cut)

    n_buckets = 16
    docs = spark.range(2000).select(
        F.format_string("doc_%012d", F.col("id")).alias("doc_id"),
        F.concat(F.lit("tok "), F.repeat(F.lit("word "), 20)).alias("text"))

    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    naive = (docs.withColumn("__c", F.sum(token_count("text")).over(w))
             .where(F.col("__c") <= 10_000))
    expect = sorted(r["doc_id"] for r in naive.select("doc_id").collect())
    assert 0 < len(expect) < 2000

    got = token_budget_cut(docs, max_tokens=10_000, n_buckets=n_buckets,
                           prefix_len=8)
    assert sorted(r["doc_id"] for r in got.select("doc_id").collect()) \
        == expect

    # the quantile cuts genuinely spread the shared-prefix ids (substring
    # prefix_len=8 would put ALL ids in the single bucket "doc_0000")
    from legend_community_delta_spark.operators.curation import (
        _string_quantile_bucket)
    bucket = _string_quantile_bucket(docs, "doc_id", n_buckets)
    assert bucket is not None
    n_used = docs.select(bucket.alias("b")).distinct().count()
    assert n_used >= n_buckets // 2

    # per-doc running sum stays partitioned by bucket (parallel)
    plan = got._jdf.queryExecution().executedPlan().toString()
    doc_windows = [ln for ln in plan.splitlines()
                   if "windowspecdefinition" in ln and "doc_id" in ln]
    assert doc_windows and all("__b" in ln for ln in doc_windows)


def test_events_sketch_within_tolerance(spark):
    from legend_community_delta_spark import demo
    from pyspark.sql import functions as F
    demo.ensure_views(spark, SF_DIR)
    approx = {r["event_type"]: r for r in
              demo.QUERIES["events_sketch_stats"](spark, SF_DIR).collect()}
    exact = {r["event_type"]: r for r in
             spark.table("events").groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("users"),
                  F.expr("percentile(value, 0.5)").alias("p50")).collect()}
    assert approx.keys() == exact.keys()
    for et, e in exact.items():
        a = approx[et]
        assert abs(a["approx_users"] - e["users"]) <= 0.05 * e["users"] + 1
        if e["p50"] is not None:
            spread = abs(e["p50"]) + 1e-9
            assert abs(a["p50_value"] - e["p50"]) <= 0.25 * spread + 1e-6


def test_ann_recall_harness(spark):
    """ann_recall turns the ANN quality trade-off into a number: an
    exact 'approximate' method must score recall 1.0; a real LSH run
    reports a recall in (0, 1] that more probing can only improve."""
    from pyspark.sql import functions as F
    from legend_community_delta_spark.operators.similarity import (
        ann_recall, cosine_topk_df, lsh_topk_df)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = (emb.where("vec_id IN (0, 1, 2)")
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))

    exact = ann_recall(
        emb, queries,
        lambda q: cosine_topk_df(emb, q, k=5, query_vec_col="query_vec"),
        k=5).collect()
    assert len(exact) == 3
    assert all(r["recall"] == 1.0 for r in exact)

    lsh = {r["query_id"]: r["recall"] for r in ann_recall(
        emb, queries,
        lambda q: lsh_topk_df(emb, q, dims=64, k=5, n_planes=8,
                              query_vec_col="query_vec"),
        k=5).collect()}
    lsh_more = {r["query_id"]: r["recall"] for r in ann_recall(
        emb, queries,
        lambda q: lsh_topk_df(emb, q, dims=64, k=5, n_planes=4,
                              query_vec_col="query_vec"),
        k=5).collect()}
    assert all(0.0 <= v <= 1.0 for v in lsh.values())
    # fewer planes => bigger buckets => recall can only go up per query
    assert all(lsh_more[q] >= lsh[q] for q in lsh)

    # IVF: probing every cell IS exhaustive search -> recall exactly 1.0
    from legend_community_delta_spark.operators.similarity import ivf_topk

    def ivf_all_cells(q):
        vec = [float(x) for x in q.first()["query_vec"]]
        return ivf_topk(emb, vec, k=5, n_centroids=4, n_probe=4)

    ivf = ann_recall(emb, queries, ivf_all_cells, k=5).collect()
    assert all(r["recall"] == 1.0 for r in ivf)


def test_ann_recall_floors(spark):
    """VERDICT r3 task: measured recall floors, pinned so a banding or
    k-means change that silently degrades recall fails CI.  All inputs are
    seeded/deterministic (fixed hyperplane seed, deterministic k-means
    init, fixed query sample), so the measured numbers are exactly
    reproducible; floors sit a margin below them (measured on sf0.001,
    recorded in PERF.md):

    * multiprobe LSH, n_planes=6, n_tables=8 (OR-amplification):
      mean 0.90, min 0.70  ->  floors 0.85 / 0.60
    * IVF n_centroids=16, refine_iters=2, n_probe=4:
      mean 0.71, min 0.50  ->  floors 0.65 / 0.45
    * IVF n_probe=16 probes every cell -> exhaustive, recall exactly 1.0
    * OR-amplification never hurts: per-query recall(L=8) >= recall(L=1)
    """
    from pyspark.sql import functions as F
    from legend_community_delta_spark.operators.similarity import (
        ann_recall, ivf_topk, lsh_topk_df)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = (emb.where(F.col("vec_id").isin(list(range(0, 100, 10))))
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))

    def lsh_recalls(n_tables):
        rows = ann_recall(
            emb, queries,
            lambda q: lsh_topk_df(emb, q, dims=64, k=10, n_planes=6,
                                  multiprobe=True, n_tables=n_tables,
                                  query_vec_col="query_vec"),
            k=10).collect()
        return {r["query_id"]: r["recall"] for r in rows}

    one, eight = lsh_recalls(1), lsh_recalls(8)
    assert sum(eight.values()) / len(eight) >= 0.85
    assert min(eight.values()) >= 0.60
    assert all(eight[q] >= one[q] for q in one)

    def ivf_fn(n_probe):
        def f(q):
            vec = [float(x) for x in q.first()["query_vec"]]
            return ivf_topk(emb, vec, k=10, n_centroids=16,
                            n_probe=n_probe, refine_iters=2)
        return f

    ivf4 = [r["recall"] for r in ann_recall(emb, queries, ivf_fn(4),
                                            k=10).collect()]
    assert sum(ivf4) / len(ivf4) >= 0.65
    assert min(ivf4) >= 0.45

    ivf16 = [r["recall"] for r in ann_recall(emb, queries, ivf_fn(16),
                                             k=10).collect()]
    assert all(r == 1.0 for r in ivf16)


def test_ivf_index_persist_and_prune(spark, tmp_path):
    from legend_community_delta_spark.operators.similarity import (
        build_ivf_index, cosine_topk, query_ivf_index)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivf_index")
    build_ivf_index(emb, path, n_centroids=4, refine_iters=1)
    q = [float(x) for x in emb.where("vec_id = 7").first()["embedding"]]
    got = query_ivf_index(spark, path, q, k=3, n_probe=4)
    # n_probe = all cells -> exact equivalence with brute force
    assert ([tuple(r) for r in got.collect()]
            == [tuple(r) for r in cosine_topk(emb, q, k=3).collect()])
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "__cell" in plan[plan.find("PartitionFilters"):][:300]
    # pruned probe still finds the exact self-match at rank 1
    top = query_ivf_index(spark, path, q, k=1, n_probe=1).first()
    assert top["vec_id"] == 7


def test_repetition_metrics_values(spark):
    """Exact metric values on authored docs: a keyword-stuffed doc flags
    on mode fraction, a loop-template doc flags on dup-bigram fraction,
    a normal doc passes, an empty doc scores 0.0 everywhere (not NULL)."""
    from legend_community_delta_spark.operators.curation import (
        repetition_metrics)
    rows = [
        Row(doc_id=1, text="buy cheap buy cheap buy cheap buy now"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=3, text=""),
        Row(doc_id=4, text="a b c a b c a b c a b c"),
    ]
    out = {r["doc_id"]: r for r in
           repetition_metrics(spark.createDataFrame(rows)).collect()}
    # doc 1: 8 tokens, 'buy' x4 -> top 0.5; bigrams 7, distinct 3
    assert out[1]["n_tokens"] == 8
    assert out[1]["top_token_frac"] == 0.5
    assert abs(out[1]["dup_ngram_frac"] - 4 / 7) < 1e-12
    assert out[1]["repetitive"]
    # doc 2: 9 tokens, 'the' x2 -> top 2/9 > 0.2 is False? 2/9=0.222 >0.2
    assert out[2]["n_tokens"] == 9
    assert abs(out[2]["top_token_frac"] - 2 / 9) < 1e-12
    assert out[2]["dup_ngram_frac"] == 0.0
    # doc 3: empty -> all zeros, boolean not NULL
    assert out[3]["n_tokens"] == 0
    assert out[3]["top_token_frac"] == 0.0
    assert out[3]["dup_ngram_frac"] == 0.0
    assert out[3]["repetitive"] is False
    # doc 4: 12 tokens of 3 distinct; 11 bigrams, 3 distinct
    assert out[4]["distinct_token_frac"] == 0.25
    assert abs(out[4]["dup_ngram_frac"] - 8 / 11) < 1e-12
    assert out[4]["repetitive"]


def test_stratified_sample_exact_counts_and_determinism(spark):
    from legend_community_delta_spark.operators.curation import (
        stratified_sample_exact)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = 7
    s1 = stratified_sample_exact(docs, "lang", n)
    s2 = stratified_sample_exact(docs.repartition(13), "lang", n)
    got1 = sorted((r["lang"], r["doc_id"]) for r in s1.collect())
    got2 = sorted((r["lang"], r["doc_id"]) for r in s2.collect())
    assert got1 == got2                      # layout-independent
    full = {r["lang"]: r["c"] for r in
            docs.groupBy("lang").count().withColumnRenamed("count", "c")
            .collect()}
    from collections import Counter
    per = Counter(lang for lang, _ in got1)
    assert dict(per) == {k: min(n, v) for k, v in full.items()}
    # rank filter compiles to the running-top-n physical operator
    plan = s1._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_stratified_sample_exact_mixture_dict(spark):
    """Dict mode builds a mixture with exact per-stratum targets; absent
    strata drop; the selected rows for a stratum are the same rows the
    int mode selects (same deterministic order, just per-stratum n)."""
    from legend_community_delta_spark.operators.curation import (
        stratified_sample_exact)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    mix = {"en": 30, "fr": 5}
    got = stratified_sample_exact(docs, "lang", mix).collect()
    from collections import Counter
    per = Counter(r["lang"] for r in got)
    assert dict(per) == mix
    flat10 = {(r["lang"], r["doc_id"]) for r in
              stratified_sample_exact(docs, "lang", 30).collect()
              if r["lang"] == "en"}
    assert {(r["lang"], r["doc_id"]) for r in got
            if r["lang"] == "en"} == flat10
    with pytest.raises(ValueError):
        stratified_sample_exact(docs, "lang", {"en": -1})


def test_mixture_weights_end_to_end(spark):
    """Temperature weighting: alpha=0.5 gives small strata a larger share
    than proportional; the emitted targets feed stratified_sample_exact
    and materialize exactly; ppm weights are integers summing to <= 1e6."""
    from legend_community_delta_spark.operators.curation import (
        mixture_weights, stratified_sample_exact)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = {r["lang"]: r for r in
            mixture_weights(docs, "lang", alpha=0.5, total_docs=120)
            .collect()}
    n_total = sum(r["n_docs"] for r in plan.values())
    smallest = min(plan.values(), key=lambda r: r["n_docs"])
    largest = max(plan.values(), key=lambda r: r["n_docs"])
    assert smallest["n_docs"] < largest["n_docs"]  # strata are uneven
    # temperature: small stratum's share exceeds its proportional share,
    # large stratum's falls below
    assert (smallest["weight_ppm"] / 1e6
            > smallest["n_docs"] / n_total)
    assert (largest["weight_ppm"] / 1e6
            < largest["n_docs"] / n_total)
    assert sum(r["weight_ppm"] for r in plan.values()) <= 1_000_000
    targets = {k: r["target_docs"] for k, r in plan.items()}
    assert all(t <= plan[k]["n_docs"] for k, t in targets.items())
    got = stratified_sample_exact(docs, "lang", targets).collect()
    from collections import Counter
    assert dict(Counter(r["lang"] for r in got)) == {
        k: t for k, t in targets.items() if t > 0}


def test_pack_plan_stream_properties(spark):
    """Packing invariants: doc offsets tile the concatenated stream with
    no gaps or overlaps in id order, chunk ids cover exactly
    ceil(total/L), zero-token docs span 0 chunks, and the plan is
    partitioning-independent (bucketed prefix sum == global window)."""
    from pyspark.sql import functions as F
    from legend_community_delta_spark.operators.curation import pack_plan
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    empty_doc = spark.createDataFrame(
        [Row(doc_id=100_000, text="", lang="en", source="synthetic",
             n_chars=0)], schema=docs.schema)
    docs = docs.unionByName(empty_doc)
    L = 128
    rows = sorted((r["doc_id"], r["n_tokens"], r["start_offset"],
                   r["chunk_first"], r["chunk_last"], r["n_chunks_spanned"])
                  for r in pack_plan(docs, chunk_tokens=L,
                                     n_buckets=16).collect())
    # offsets tile the stream in id order
    expect_start = 0
    for _, n_tok, start, first, last, spanned in rows:
        assert start == expect_start
        assert first == start // L
        if n_tok > 0:
            assert last == (start + n_tok - 1) // L
            assert spanned == last - first + 1
        else:
            assert (last, spanned) == (first, 0)
        expect_start += n_tok
    total = expect_start
    assert max(r[4] for r in rows) == (total - 1) // L
    assert rows[-1][0] == 100_000 and rows[-1][5] == 0  # empty doc
    # partitioning-independent
    rows7 = sorted((r["doc_id"], r["n_tokens"], r["start_offset"],
                    r["chunk_first"], r["chunk_last"], r["n_chunks_spanned"])
                   for r in pack_plan(docs.repartition(7), chunk_tokens=L,
                                      n_buckets=16).collect())
    assert rows7 == rows
    with pytest.raises(ValueError):
        pack_plan(docs, chunk_tokens=0)


def test_curate_corpus_repetition_gate(spark):
    """Opt-in Gopher repetition cut rides the stage-1 gate: a
    keyword-stuffed doc that passes the quality floor drops when
    max_dup_ngram_frac is set; provenance labels it 'quality'; default
    behavior (None) is unchanged."""
    from legend_community_delta_spark.operators.curation import (
        curate_provenance)
    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the woods to find some food for winter")
    spam = "buy cheap now " * 15
    rows = [Row(doc_id=1, text=base), Row(doc_id=2, text=spam)]
    df = spark.createDataFrame(rows)
    kw = dict(min_quality=0.2, near_dup_threshold=0.9,
              near_dup_backend="exact", ngram_n=3)
    out_default, _ = curate_corpus(df, **kw)
    assert sorted(r["doc_id"] for r in out_default.collect()) == [1, 2]
    out_gated, stats = curate_corpus(df, max_dup_ngram_frac=0.5, **kw)
    assert sorted(r["doc_id"] for r in out_gated.collect()) == [1]
    assert stats["after_quality"] == 1
    labels = {r["doc_id"]: r["drop_stage"] for r in
              curate_provenance(df, max_dup_ngram_frac=0.5, **kw).collect()}
    assert labels == {1: "kept", 2: "quality"}


def test_pack_plan_window_is_bucket_partitioned(spark):
    """The packing offsets must come from the bucketed prefix sum: every
    per-doc running-sum window is partitioned by the bucket column, and
    no corpus-wide single-partition window appears in the plan."""
    from legend_community_delta_spark.operators.curation import pack_plan
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = (pack_plan(docs, chunk_tokens=256, n_buckets=16)
            ._jdf.queryExecution().executedPlan().toString())
    doc_windows = [ln for ln in plan.splitlines()
                   if "windowspecdefinition" in ln and "doc_id" in ln]
    assert doc_windows and all("__b" in ln for ln in doc_windows)


def test_stratum_token_budget_matches_naive_window(spark):
    """The md5-prefix two-level prefix sum selects EXACTLY the rows a
    one-window-per-stratum plan would."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from legend_community_delta_spark.functions.text import token_count
    from legend_community_delta_spark.operators.curation import (
        stratum_token_budget)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = sorted(r["doc_id"] for r in
                 stratum_token_budget(docs, "lang", 900).collect())
    w = (Window.partitionBy("lang")
         .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    naive = (docs.withColumn("__cum",
                             F.sum(token_count("text").cast("long")).over(w))
             .where(F.col("__cum") <= 900))
    want = sorted(r["doc_id"] for r in naive.collect())
    assert got == want and got


def test_stratum_token_budget_dict_drops_absent_strata(spark):
    from pyspark.sql import Row
    import pytest as _pytest
    from legend_community_delta_spark.operators.curation import (
        stratum_token_budget)
    df = spark.createDataFrame([
        Row(doc_id=1, lang="en", text="a b c"),
        Row(doc_id=2, lang="en", text="d e f g"),
        Row(doc_id=3, lang="zz", text="h i"),
    ])
    out = stratum_token_budget(df, "lang", {"en": 3}, id_col="doc_id")
    rows = out.collect()
    assert all(r["lang"] == "en" for r in rows)  # zz absent -> dropped
    # budget=3 keeps only the first doc in md5 order (3 tokens <= 3;
    # adding the second crosses)
    assert len(rows) == 1
    with _pytest.raises(ValueError, match="negative"):
        stratum_token_budget(df, "lang", {"en": -1})


def test_stratum_token_budget_layout_independent(spark):
    """Same selected set regardless of input partitioning — the
    determinism contract mixtures need."""
    from legend_community_delta_spark.operators.curation import (
        stratum_token_budget)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = sorted(r["doc_id"] for r in stratum_token_budget(
        docs.repartition(1), "lang", 500).collect())
    b = sorted(r["doc_id"] for r in stratum_token_budget(
        docs.repartition(13, "n_chars"), "lang", 500).collect())
    assert a == b and a


def test_pq_roundtrip_and_validation(spark, tmp_path):
    """PQ mechanics: codes shape, dims validation, persisted-index
    equality with the in-memory path."""
    import pytest as _pytest
    from pyspark.sql import functions as F
    from legend_community_delta_spark.functions.vectors import norm
    from legend_community_delta_spark.operators.similarity import (
        build_pq_index, pq_encode, pq_topk, pq_train, query_pq_index)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    unit = emb.select(
        "vec_id",
        F.transform("embedding",
                    lambda x: x.cast("double") / norm("embedding"))
        .alias("embedding"))
    with _pytest.raises(ValueError, match="divide"):
        pq_train(unit, dims=64, m=7)
    path = str(tmp_path / "pq")
    cb = build_pq_index(unit, path, dims=64, m=8, n_codes=8, iters=1)
    codes = pq_encode(unit, cb)
    row = codes.first()
    assert len(row["codes"]) == 8
    assert all(0 <= c < 8 for c in row["codes"])
    q = [float(x) for x in unit.where("vec_id = 0").first()["embedding"]]
    direct = [(r["vec_id"], r["adc_dist"])
              for r in pq_topk(codes, q, cb, k=5).collect()]
    via_index = [(r["vec_id"], r["adc_dist"])
                 for r in query_pq_index(spark, path, q, k=5).collect()]
    assert direct == via_index
    with _pytest.raises(ValueError, match="dims"):
        pq_topk(codes, q[:32], cb)
    # a vector quantizes near itself: its own id is in its ADC top-5
    assert any(vid == 0 for vid, _ in direct)


def test_pq_refined_recall_floors(spark):
    """PQ ADC is the SHORTLIST stage; the production path re-ranks the
    shortlist exactly.  Measured at sf0.001 with the deterministic
    k-means init (m=16, n_codes=16, iters=2, refine_factor=10):
    refined mean 0.95 / min 0.90 -> floors 0.85 / 0.70; ADC-only mean
    0.45 -> floor 0.30 (it exists to feed the re-rank, not to rank)."""
    from pyspark.sql import functions as F
    from legend_community_delta_spark.functions.vectors import norm
    from legend_community_delta_spark.operators.similarity import (
        ann_recall, pq_encode, pq_topk, pq_topk_refined, pq_train)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    unit = emb.select(
        "vec_id",
        F.transform("embedding",
                    lambda x: x.cast("double") / norm("embedding"))
        .alias("embedding"))
    cb = pq_train(unit, dims=64, m=16, n_codes=16, iters=2)
    codes = pq_encode(unit, cb)
    queries = (unit.where(F.col("vec_id").isin(list(range(0, 100, 10))))
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))

    def run(fn):
        rows = ann_recall(unit, queries, fn, k=10).collect()
        rs = [r["recall"] for r in rows]
        return sum(rs) / len(rs), min(rs)

    def qvec(qdf):
        return [float(x) for x in qdf.first()["query_vec"]]

    mean_ref, min_ref = run(lambda qdf: pq_topk_refined(
        unit, codes, qvec(qdf), cb, k=10, refine_factor=10))
    assert mean_ref >= 0.85 and min_ref >= 0.70
    mean_adc, _ = run(lambda qdf: pq_topk(codes, qvec(qdf), cb, k=10))
    assert mean_adc >= 0.30
    assert mean_ref >= mean_adc  # refinement never hurts on average

"""Training-data operator tests: text functions, vectors, dedup, similarity,
multimodal plumbing — on small authored data plus the sf0.001 tables."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from legend_community_delta_spark.functions import text as TX
from legend_community_delta_spark.functions import vectors as V
from legend_community_delta_spark.operators import dedup as DD
from legend_community_delta_spark.operators import similarity as SIM
from legend_community_delta_spark.operators.multimodal import (
    attach_media_meta,
    extract_image_features,
)

from conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy dog"),  # exact dup
        Row(doc_id=3, text="The quick  brown fox jumps over the lazy dog"),  # normalized dup
        Row(doc_id=4, text="the quick brown fox leaps over the lazy dog"),  # near dup
        Row(doc_id=5, text="completely different content about spark engines"),
        Row(doc_id=6, text=""),
    ]
    return spark.createDataFrame(rows)


def test_text_functions(spark, docs):
    out = docs.select(
        "doc_id",
        TX.token_count("text").alias("ntok"),
        TX.punct_ratio("text").alias("punct"),
        TX.stopword_ratio("text").alias("sw"),
        TX.mean_word_length("text").alias("mwl"),
        TX.quality_score("text").alias("q"),
        TX.content_hash("text").alias("h"),
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["ntok"] == 9
    assert by_id[6]["ntok"] == 0
    assert by_id[1]["sw"] > 0.2           # 'the' twice + 'over'
    assert by_id[1]["h"] == by_id[2]["h"]
    assert by_id[1]["h"] == by_id[3]["h"]  # case/whitespace normalized
    assert by_id[1]["h"] != by_id[4]["h"]
    assert 0.0 <= by_id[5]["q"] <= 1.0


def test_word_ngrams_and_shingles(spark):
    df = spark.createDataFrame([Row(t="a b c d")])
    row = df.select(TX.word_ngrams("t", 2).alias("g"),
                    TX.char_shingles("t", 3).alias("s")).first()
    assert row["g"] == ["a b", "b c", "c d"]
    assert row["s"] == ["a b", " b ", "b c", " c ", "c d"]
    short = spark.createDataFrame([Row(t="x")]).select(
        TX.word_ngrams("t", 2).alias("g")).first()
    assert short["g"] == []


def test_language_id(spark):
    df = spark.createDataFrame([
        Row(doc_id=1, t="the cat and the dog went to the park"),
        Row(doc_id=2, t="der hund und die katze ist nicht da"),
        Row(doc_id=3, t="le chat est dans la maison pour une heure"),
        Row(doc_id=4, t="这是一个中文句子"),
        Row(doc_id=5, t="zzz qqq xxx"),
    ])
    got = {r["doc_id"]: r["lang"] for r in
           df.select("doc_id", TX.language_id("t").alias("lang")).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "zh", 5: "und"}


def test_vector_functions(spark):
    df = spark.createDataFrame([Row(a=[1.0, 2.0, 3.0], b=[2.0, 4.0, 6.0],
                                    z=[0.0, 0.0, 0.0])])
    row = df.select(V.dot("a", "b").alias("d"),
                    V.cosine("a", "b").alias("c"),
                    V.cosine("a", "z").alias("cz")).first()
    assert row["d"] == pytest.approx(28.0)
    assert row["c"] == pytest.approx(1.0)
    assert row["cz"] == 0.0


def test_exact_dedup(docs):
    kept = DD.exact_dedup(docs).select("doc_id").rdd.map(lambda r: r[0]).collect()
    assert sorted(kept) == [1, 4, 5, 6]   # 2,3 fold into 1
    stats = DD.dedup_stats(docs).first()
    assert stats["rows_total"] == 6
    assert stats["rows_distinct"] == 4


def test_minhash_dedup(docs):
    pairs = DD.minhash_dedup(docs, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got and (1, 3) in got and (2, 3) in got
    assert (1, 4) in got                   # near dup caught
    assert all(5 not in p and 6 not in p for p in got)
    est = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs}
    assert est[(1, 2)] == 1.0


def test_simhash_dedup(docs):
    pairs = DD.simhash_dedup(docs, max_hamming=10)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got[(1, 2)] == 0
    assert all((1, 5) != k and (4, 5) != k for k in got)


def test_ngram_jaccard(docs):
    pairs = DD.ngram_jaccard_pairs(docs, n=3, threshold=0.4)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 2)] == 1.0
    assert 0.4 <= got[(1, 4)] < 1.0


def test_ngram_jaccard_prefix_equals_bucket(spark):
    """AllPairs/PPJoin prefix filtering is an exact optimization: on the
    real corpus AND a boilerplate-heavy variant (every doc sharing one
    hot sentence — the case prefix filtering exists for), both plans
    return identical pair sets with identical jaccard values, including
    thresholds where t*|G| lands on an integer (the ceil-rounding edge
    guarded by the epsilon in the prefix-length predicate)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    boiler = docs.withColumn(
        "text", F.concat("text", F.lit(
            " terms of service privacy policy all rights reserved")))
    for df, n, t in ((docs, 5, 0.2), (docs, 3, 0.3), (boiler, 5, 0.5)):
        got = {}
        for method, pairs in (
                ("prefix", DD.ngram_jaccard_pairs(df, n=n, threshold=t)),
                ("bucket", DD._ngram_jaccard_bucket(df, "text", "doc_id",
                                                    n, t))):
            got[method] = {(r["id_a"], r["id_b"]): round(r["jaccard"], 9)
                           for r in pairs.collect()}
        assert got["prefix"], f"no pairs at n={n} t={t}"
        assert got["prefix"] == got["bucket"]


def test_embedding_dedup_and_topk(spark):
    import random
    rng = random.Random(7)
    base = [rng.gauss(0, 1) for _ in range(16)]
    rows = [Row(vec_id=0, embedding=[float(x) for x in base]),
            Row(vec_id=1, embedding=[float(x * 1.001 + 0.001) for x in base]),
            Row(vec_id=2, embedding=[float(-x) for x in base]),
            Row(vec_id=3, embedding=[rng.gauss(0, 1) for _ in range(16)])]
    df = spark.createDataFrame(rows)

    dups = DD.embedding_dedup(df, threshold=0.99, n_planes=4)
    got = {(r["id_a"], r["id_b"]) for r in dups.collect()}
    assert (0, 1) in got and (0, 2) not in got

    top = SIM.cosine_topk(df, base, k=2).collect()
    assert [r["vec_id"] for r in top] == [0, 1]
    assert top[0]["cosine"] == pytest.approx(1.0)

    # LSH path finds the same best match
    lsh = SIM.lsh_topk(df, base, k=1, n_planes=4).collect()
    assert lsh[0]["vec_id"] == 0


def test_cosine_topk_many(spark):
    rows = [Row(vec_id=i, embedding=[1.0 * (i == j) for j in range(4)])
            for i in range(4)]
    df = spark.createDataFrame(rows)
    queries = spark.createDataFrame([
        Row(query_id=100, query_vec=[1.0, 0.0, 0.0, 0.0]),
        Row(query_id=101, query_vec=[0.0, 0.0, 1.0, 0.0])])
    out = SIM.cosine_topk_many(df, queries, k=1).collect()
    got = {r["query_id"]: r["vec_id"] for r in out}
    assert got == {100: 0, 101: 2}


def test_multimodal_plumbing(spark):
    rows = [Row(media_id=1, payload=bytearray(b"fake-image-bytes-1")),
            Row(media_id=2, payload=bytearray(b"fake-image-bytes-2")),
            Row(media_id=3, payload=None)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    meta = attach_media_meta(df).collect()
    assert {r["media_id"]: r["n_bytes"] for r in meta}[1] == 18

    feats = extract_image_features(df, dim=4).collect()
    by_id = {r["media_id"]: r for r in feats}
    assert len(by_id[1]["feature"]) == 4
    assert by_id[1]["sha256"] != by_id[2]["sha256"]
    assert by_id[3]["feature"] == []
    # determinism
    again = {r["media_id"]: r["feature"]
             for r in extract_image_features(df, dim=4).collect()}
    assert again[1] == by_id[1]["feature"]


def test_on_real_documents(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = docs.select(TX.token_count("text").alias("n")).agg(
        F.min("n"), F.max("n")).first()
    assert out[0] >= 0 and out[1] > 0
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where("vec_id = 0").first()["embedding"]
    top = SIM.cosine_topk(emb, [float(x) for x in q], k=5).collect()
    assert top[0]["vec_id"] == 0 and top[0]["cosine"] == pytest.approx(1.0)


def test_deterministic_sample(spark):
    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    s1 = DD.deterministic_sample(df, 0.25, "o_orderkey")
    s2 = DD.deterministic_sample(df.repartition(7), 0.25, "o_orderkey")
    k1 = sorted(r[0] for r in s1.select("o_orderkey").collect())
    k2 = sorted(r[0] for r in s2.select("o_orderkey").collect())
    assert k1 == k2                      # partitioning-independent
    n = df.count()
    assert 0.15 * n < len(k1) < 0.35 * n
    import pytest as _p
    with _p.raises(ValueError):
        DD.deterministic_sample(df, 1.5, "o_orderkey")


def test_winnow_fingerprint(spark, docs):
    out = {r["doc_id"]: r["fp"] for r in docs.select(
        "doc_id", TX.winnow_fingerprint("text").alias("fp")).collect()}
    assert out[1] == out[2]                 # identical text, same fingerprint
    assert len(out[1]) == 4 and out[1] == sorted(out[1])
    assert out[6] == []                     # empty text
    # near-dup docs share most of their smallest shingle hashes
    assert len(set(out[1]) & set(out[4])) >= 2


def test_bpe_ish_token_count(spark):
    df = spark.createDataFrame([Row(t="hello, world! x2")])
    row = df.select(TX.bpe_ish_token_count("t").alias("n"),
                    TX.token_count("t").alias("ws")).first()
    # hello , world ! x 2  -> 6 sub-tokens vs 3 whitespace tokens
    assert row["n"] == 6 and row["ws"] == 3


def test_exact_dedup_keep_max(docs):
    kept = sorted(r["doc_id"] for r in
                  DD.exact_dedup(docs, keep="max").collect())
    assert kept == [3, 4, 5, 6]             # 1,2 fold into 3 (max id)


def test_validate_with_no_rules(spark, docs):
    from legend_community_delta_spark import legend_validate
    out = legend_validate(docs, {}).collect()
    assert all(r["legend"] == [] for r in out)


def test_connected_components(spark):
    from pyspark.sql import Row
    from legend_community_delta_spark.operators.graph import (
        connected_components, drop_near_dups)
    # chain 1-2-3 (transitive: 1!~3 directly), pair 10-11, isolated 99
    pairs = spark.createDataFrame([
        Row(id_a=2, id_b=3), Row(id_a=1, id_b=2), Row(id_a=10, id_b=11)])
    comp = {r["id"]: r["component"]
            for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"t{i}") for i in (1, 2, 3, 10, 11, 99)])
    kept = sorted(r["doc_id"]
                  for r in drop_near_dups(docs, pairs).collect())
    assert kept == [1, 10, 99]  # one per component + the isolated doc


def test_connected_components_long_chain_and_strings(spark):
    from pyspark.sql import Row
    from legend_community_delta_spark.operators.graph import (
        connected_components)
    # 12-node chain: needs several propagation rounds, ends as one label
    pairs = spark.createDataFrame(
        [Row(id_a=f"d{i:02d}", id_b=f"d{i+1:02d}") for i in range(11)])
    rows = connected_components(pairs).collect()
    assert len(rows) == 12
    assert {r["component"] for r in rows} == {"d00"}


def test_redact_pii_and_counts(spark):
    from pyspark.sql import Row
    from legend_community_delta_spark.functions.text import (
        pii_counts, redact_pii)
    rows = [
        Row(doc_id=1, text="mail bob.smith+x@ex-ample.org or 555-123-4567"),
        Row(doc_id=2, text="ssn 123-45-6789 host 10.0.255.1 ok"),
        Row(doc_id=3, text="clean text, no identifiers at all"),
    ]
    df = spark.createDataFrame(rows)
    out = {r["doc_id"]: r for r in df.select(
        "doc_id", redact_pii("text").alias("red"),
        pii_counts("text").alias("c")).collect()}
    assert out[1]["red"] == "mail [PII] or [PII]"
    assert out[2]["red"] == "ssn [PII] host [PII] ok"
    assert out[3]["red"] == rows[2]["text"]
    assert out[1]["c"]["email"] == 1 and out[1]["c"]["phone"] == 1
    assert out[2]["c"]["ssn"] == 1 and out[2]["c"]["ipv4"] == 1
    assert all(out[3]["c"][k] == 0 for k in ("email", "phone", "ssn", "ipv4"))
    # kinds subset: only emails scrubbed
    one = df.where("doc_id = 1").select(
        redact_pii("text", kinds=["email"]).alias("r")).first()["r"]
    assert one == "mail [PII] or 555-123-4567"


def test_minhash_oph_agrees_with_kperm(docs):
    """One-permutation hashing is not a signature method: only kperm
    and md5 are, and any other name is refused up front."""
    with pytest.raises(ValueError, match="unknown minhash method"):
        DD.minhash_dedup(docs, threshold=0.5, method="oph")


def test_minhash_md5_mode_same_recall(docs):
    """The md5-portable (oracle) mode must catch the same dup/near-dup
    pairs as the xxhash64 production mode on the pinned fixture corpus,
    and exact dups must still estimate 1.0."""
    md = {(r["id_a"], r["id_b"]): r["est_jaccard"]
          for r in DD.minhash_dedup(docs, threshold=0.5,
                                    method="md5").collect()}
    assert (1, 2) in md and (1, 3) in md and (2, 3) in md
    assert (1, 4) in md                    # near dup caught
    assert all(5 not in p and 6 not in p for p in md)
    assert md[(1, 2)] == 1.0


def test_simhash_md5_mode_same_recall(docs):
    """Portable 60-bit SimHash: exact dups at hamming 0, same
    keep/drop behavior as the 64-bit xxhash64 mode on the fixtures."""
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in DD.simhash_dedup(docs, max_hamming=10,
                                     hash="md5").collect()}
    assert got[(1, 2)] == 0
    assert all((1, 5) != k and (4, 5) != k for k in got)


def test_incremental_minhash_matches_full_batch(spark, tmp_path):
    """Signature store + incremental pairs on an append batch must equal
    the full-batch pair set: store(A) pairs ∪ incremental(B) pairs ==
    minhash_dedup(A ∪ B), and only B gets re-shingled."""
    from legend_community_delta_spark.operators.dedup import (
        incremental_minhash_pairs, minhash_dedup, write_signature_store)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    first = docs.where("doc_id % 2 = 0")
    batch = docs.where("doc_id % 2 = 1")
    path = str(tmp_path / "sig_store")

    write_signature_store(first, path)
    initial = {(r["id_a"], r["id_b"])
               for r in minhash_dedup(first, threshold=0.7).collect()}
    incr = {(r["id_a"], r["id_b"])
            for r in incremental_minhash_pairs(
                spark, path, batch, threshold=0.7).collect()}
    full = {(r["id_a"], r["id_b"])
            for r in minhash_dedup(docs, threshold=0.7).collect()}
    assert initial | incr == full
    assert all(a % 2 == 1 or b % 2 == 1 for a, b in incr)
    # store now holds every doc's signature (append happened)
    assert spark.read.parquet(path).count() >= docs.count() - 1


def test_incremental_hot_bucket_drift_superset(spark, tmp_path):
    """dedup.py documents ``store ∪ incremental ⊇ full batch``, strict
    exactly when a band bucket crosses max_bucket only in the combined
    corpus (the cap is evaluated per run, so earlier runs keep pairs a
    from-scratch run would suppress).  Pin both directions: group A
    (3 store + 2 appended identical docs) crosses cap=3 only after the
    append — its store-era pairs survive in the union while the full
    batch suppresses them all; group B (2+1) stays under the cap — its
    union pairs equal the full batch exactly."""
    from pyspark.sql import Row
    from legend_community_delta_spark.operators.dedup import (
        incremental_minhash_pairs, minhash_dedup, write_signature_store)
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    b = "one two three four five six seven eight nine ten eleven " * 3
    first = spark.createDataFrame(
        [Row(doc_id=i, text=a) for i in (1, 2, 3)]
        + [Row(doc_id=i, text=b) for i in (10, 11)])
    batch = spark.createDataFrame(
        [Row(doc_id=i, text=a) for i in (4, 5)]
        + [Row(doc_id=12, text=b)])
    cap = 3
    path = str(tmp_path / "sig_store")

    write_signature_store(first, path)
    store_pairs = {(r["id_a"], r["id_b"]) for r in minhash_dedup(
        first, threshold=0.7, max_bucket=cap).collect()}
    incr = {(r["id_a"], r["id_b"]) for r in incremental_minhash_pairs(
        spark, path, batch, threshold=0.7, max_bucket=cap).collect()}
    full = {(r["id_a"], r["id_b"]) for r in minhash_dedup(
        first.unionByName(batch), threshold=0.7, max_bucket=cap).collect()}
    union = store_pairs | incr

    assert union >= full                      # the documented relation
    a_ids = {1, 2, 3, 4, 5}
    # group A's buckets went hot only in the combined corpus: the full
    # batch suppresses every A pair, the incremental run suppresses the
    # append-era A pairs, but the store-era A pairs survive in the union
    assert not {p for p in full if p[0] in a_ids}
    assert not {p for p in incr if p[0] in a_ids and p[1] in a_ids}
    assert {(1, 2), (1, 3), (2, 3)} <= union
    # group B stayed cool throughout: union == full batch, non-trivially
    b_pairs_full = {p for p in full if p[0] in {10, 11, 12}}
    assert {p for p in union if p[0] in {10, 11, 12}} == b_pairs_full
    assert b_pairs_full == {(10, 11), (10, 12), (11, 12)}


def test_verified_near_dup_pairs_subset_of_exact(spark):
    """Candidate-verified pairs carry EXACT jaccard values and are a
    subset of the all-pairs exact operator; every pair LSH proposes is
    verified identically to the exact path."""
    from legend_community_delta_spark.operators.dedup import (
        ngram_jaccard_pairs, verified_near_dup_pairs)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    exact = {(r["id_a"], r["id_b"]): round(r["jaccard"], 9)
             for r in ngram_jaccard_pairs(docs, n=5, threshold=0.3).collect()}
    got = {(r["id_a"], r["id_b"]): round(r["jaccard"], 9)
           for r in verified_near_dup_pairs(docs, n=5, threshold=0.3).collect()}
    assert got, "LSH proposed no candidates at all"
    assert set(got) <= set(exact)
    assert all(exact[p] == got[p] for p in got)   # values exact, not est
    # on this template-heavy corpus LSH recalls most true pairs
    assert len(got) >= 0.8 * len(exact)


def test_cross_ngram_jaccard_matches_self_join_restriction(spark):
    """Cross-corpus pairs == the self-join pair set restricted to
    (left-split, right-split) memberships, with identical jaccard values
    — and never a within-side pair."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    left = docs.where("doc_id % 5 != 0")
    right = docs.where("doc_id % 5 = 0")
    cross = {(r["id_left"], r["id_right"]): round(r["jaccard"], 9)
             for r in DD.cross_ngram_jaccard_pairs(
                 left, right, n=5, threshold=0.2).collect()}
    full = {}
    for r in DD.ngram_jaccard_pairs(docs, n=5, threshold=0.2).collect():
        a, b = r["id_a"], r["id_b"]
        if a % 5 != 0 and b % 5 == 0:
            full[(a, b)] = round(r["jaccard"], 9)
        elif b % 5 != 0 and a % 5 == 0:
            full[(b, a)] = round(r["jaccard"], 9)
    assert cross == full and cross
    assert all(a % 5 != 0 and b % 5 == 0 for a, b in cross)


def test_contamination_report_values(spark):
    """Authored fixture: an eval doc fully inside train reports 1.0, a
    half-overlapping doc the exact gram fraction, a disjoint doc 0.0,
    an empty doc (0 grams) 0.0 — present in the output, not dropped."""
    from pyspark.sql import Row
    train = spark.createDataFrame([
        Row(doc_id=1, text="alpha beta gamma delta epsilon"),
        Row(doc_id=2, text="one two three four"),
    ])
    eval_df = spark.createDataFrame([
        Row(doc_id=10, text="alpha beta gamma delta epsilon"),  # all in
        Row(doc_id=11, text="one two three nine ten eleven"),   # partial
        Row(doc_id=12, text="zz yy xx ww vv"),                  # none
        Row(doc_id=13, text=""),                                # no grams
    ])
    out = {r["doc_id"]: r for r in DD.contamination_report(
        train, eval_df, n=2).collect()}
    assert out[10]["contamination_frac"] == 1.0 and out[10]["n_grams"] == 4
    # doc 11 bigrams: one-two, two-three, three-nine, nine-ten, ten-eleven
    # hits: one-two, two-three -> 2/5
    assert out[11]["n_hit"] == 2 and out[11]["n_grams"] == 5
    assert abs(out[11]["contamination_frac"] - 0.4) < 1e-12
    assert out[12]["contamination_frac"] == 0.0 and out[12]["n_hit"] == 0
    assert out[13]["n_grams"] == 0 and out[13]["contamination_frac"] == 0.0


def test_decontaminate_drops_exactly_contaminated(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    left = docs.where("doc_id % 5 != 0")
    right = docs.where("doc_id % 5 = 0")
    hit_ids = {r["id_left"] for r in DD.cross_ngram_jaccard_pairs(
        left, right, n=5, threshold=0.2).collect()}
    kept = {r["doc_id"] for r in
            DD.decontaminate(left, right, n=5, threshold=0.2).collect()}
    all_left = {r["doc_id"] for r in left.select("doc_id").collect()}
    assert kept == all_left - hit_ids and hit_ids


def test_winnow_candidate_pairs(spark):
    """Winnowing fingerprints: near-identical docs share smallest-hash
    fingerprints, unrelated docs share none; deterministic (no seed)."""
    from pyspark.sql import Row
    from legend_community_delta_spark.operators.dedup import (
        winnow_candidate_pairs)
    base = ("the quick brown fox jumps over the lazy dog while the cold "
            "rain falls softly on the quiet grey town all through the day")
    rows = [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base + " extra tail words here"),
        Row(doc_id=3, text="completely different content about spark "
                           "query planning and distributed aggregation"),
    ]
    df = spark.createDataFrame(rows)
    pairs = {(r["id_a"], r["id_b"]): r["n_shared"]
             for r in winnow_candidate_pairs(df, keep=4).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert not any(3 in p for p in pairs)
    # deterministic across invocations (no seed anywhere)
    again = {(r["id_a"], r["id_b"]): r["n_shared"]
             for r in winnow_candidate_pairs(df, keep=4).collect()}
    assert again == pairs


def test_signature_store_validates_params(spark, tmp_path):
    """ADVICE r2: a store built with one parameter set must refuse
    incremental queries with another — banding mismatched signatures
    silently produces garbage candidates."""
    import pytest
    from legend_community_delta_spark.operators.dedup import (
        incremental_minhash_pairs, write_signature_store)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    path = str(tmp_path / "store")
    write_signature_store(docs.where("doc_id % 2 = 0"), path, seed=7)
    with pytest.raises(ValueError, match="built with"):
        incremental_minhash_pairs(spark, path,
                                  docs.where("doc_id % 2 = 1"), seed=8)
    # matching params pass and inherit the store's method
    out = incremental_minhash_pairs(spark, path,
                                    docs.where("doc_id % 2 = 1"), seed=7,
                                    append=False)
    assert out.columns == ["id_a", "id_b", "est_jaccard"]
    # appending with different parameters is refused BEFORE writing
    with pytest.raises(ValueError, match="mixed-parameter"):
        write_signature_store(docs.where("doc_id % 2 = 1"), path,
                              seed=9, mode="append")
    # matching append succeeds
    write_signature_store(docs.where("doc_id % 2 = 1"), path,
                          seed=7, mode="append")


def test_wrong_dims_is_loudly_empty(spark):
    """ADVICE r2: a wrong explicit dims must not silently truncate
    vectors into degraded signatures — both LSH paths return empty."""
    from legend_community_delta_spark.operators.dedup import embedding_dedup
    from legend_community_delta_spark.operators.similarity import lsh_topk_df
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where("vec_id = 0")
    assert lsh_topk_df(emb, q, dims=64, k=5).count() >= 1
    assert lsh_topk_df(emb, q, dims=48, k=5).count() == 0
    assert embedding_dedup(emb, threshold=0.5, dims=48).count() == 0


def test_connected_components_log_rounds(spark):
    """Pointer jumping must collapse a 40-node chain within max_iter=8
    (O(log diameter)); plain propagation would need ~40 rounds."""
    from pyspark.sql import Row
    from legend_community_delta_spark.operators.graph import (
        connected_components)
    pairs = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(40)])
    rows = connected_components(pairs, max_iter=8).collect()
    assert len(rows) == 41
    assert {r["component"] for r in rows} == {0}


def test_connected_components_fractional_ids(spark):
    """ADVICE r2: a decimal(38,0)-cast label sum truncates fractional
    ids — every round of a chain whose ids share one integer part sums
    identically, so the old probe declared convergence after round 1.
    The hash-sum probe must keep iterating to the true fixpoint."""
    from pyspark.sql import Row
    from legend_community_delta_spark.operators.graph import (
        connected_components)
    ids = [1.0 + i / 64.0 for i in range(14)]       # all truncate to 1
    pairs = spark.createDataFrame(
        [Row(id_a=ids[i], id_b=ids[i + 1]) for i in range(13)])
    rows = connected_components(pairs).collect()
    assert len(rows) == 14
    assert {r["component"] for r in rows} == {1.0}


def test_connected_components_max_iter_warns(spark):
    """Exhausting max_iter without a fixpoint must warn, not return
    silently-unconverged labels."""
    import warnings as w
    from pyspark.sql import Row
    from legend_community_delta_spark.operators.graph import (
        connected_components)
    pairs = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(60)])
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        connected_components(pairs, max_iter=2).collect()
    assert any("fixpoint" in str(c.message) for c in caught)


# -- round-6: persisted verified-pair store -------------------------------

def test_pair_store_roundtrip_and_threshold_refilter(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = DD.verified_near_dup_pairs(docs, n=5, threshold=0.2)
    path = str(tmp_path / "pairs")
    DD.write_pair_store(pairs, path, method="verified", n=5,
                        threshold=0.2)
    got = {(r.id_a, r.id_b): round(r.jaccard, 9)
           for r in DD.read_pairs(spark, path, method="verified",
                                  n=5, threshold=0.2).collect()}
    want = {(r.id_a, r.id_b): round(r.jaccard, 9)
            for r in pairs.collect()}
    assert got == want
    # reading at a HIGHER threshold re-filters the stored jaccards
    hi = {(r.id_a, r.id_b)
          for r in DD.read_pairs(spark, path, threshold=0.5).collect()}
    assert hi == {p for p, j in want.items() if j >= 0.5}


def test_pair_store_rejects_mismatched_reads_and_appends(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = DD.verified_near_dup_pairs(docs, n=5, threshold=0.2)
    path = str(tmp_path / "pairs")
    DD.write_pair_store(pairs, path, method="verified", n=5,
                        threshold=0.2)
    with pytest.raises(ValueError, match="n=5"):
        DD.read_pairs(spark, path, n=3)
    with pytest.raises(ValueError, match="verified"):
        DD.read_pairs(spark, path, method="exact")
    with pytest.raises(ValueError, match="threshold"):
        DD.read_pairs(spark, path, threshold=0.1)  # below mining floor
    with pytest.raises(ValueError, match="mixed-parameter"):
        DD.write_pair_store(pairs, path, method="verified", n=4,
                            threshold=0.2, mode="append")


def test_pair_store_append_is_idempotent(spark, tmp_path):
    """Re-appending an overlapping batch must not duplicate (id_a,id_b)
    edges — downstream pagerank/components would double-count them."""
    path = str(tmp_path / "pairs")
    mk = lambda rows: spark.createDataFrame(
        rows, "id_a long, id_b long, jaccard double")
    DD.write_pair_store(mk([(1, 2, 0.9), (3, 4, 0.5)]), path,
                        method="verified", n=5, threshold=0.2)
    # same batch re-appended: store unchanged
    DD.write_pair_store(mk([(1, 2, 0.9), (3, 4, 0.5)]), path,
                        method="verified", n=5, threshold=0.2,
                        mode="append")
    got = sorted((r.id_a, r.id_b) for r in
                 DD.read_pairs(spark, path).collect())
    assert got == [(1, 2), (3, 4)]
    # overlapping batch: only the genuinely-new pair lands
    DD.write_pair_store(mk([(3, 4, 0.5), (5, 6, 0.7)]), path,
                        method="verified", n=5, threshold=0.2,
                        mode="append")
    got = sorted((r.id_a, r.id_b) for r in
                 DD.read_pairs(spark, path).collect())
    assert got == [(1, 2), (3, 4), (5, 6)]


def _small_docs(spark):
    return spark.createDataFrame(
        [(i, f"the quick brown fox jumps over the lazy dog {i % 3} "
             "again and again") for i in range(8)],
        "doc_id long, text string")


def test_signature_store_ignore_mode_keeps_footer(spark, tmp_path):
    """mode='ignore' on an existing store writes no signatures, so it
    must not rewrite the footer either: a 64-hash store re-labelled as
    32-hash would be banded as 32-long signatures."""
    docs = _small_docs(spark)
    path = str(tmp_path / "sigs")
    DD.write_signature_store(docs, path, num_hashes=64, seed=7)
    before = spark.read.parquet(f"{path}__meta").collect()
    DD.write_signature_store(docs, path, num_hashes=32, seed=7,
                             mode="ignore")
    assert spark.read.parquet(f"{path}__meta").collect() == before
    assert {len(r.sig) for r in spark.read.parquet(path).collect()} == {64}
    with pytest.raises(ValueError, match="built with num_hashes=64"):
        DD.incremental_minhash_pairs(spark, path, docs, num_hashes=32,
                                     bands=8, seed=7, append=False)


def test_pair_store_ignore_mode_keeps_footer(spark, tmp_path):
    """mode='ignore' on an existing pair store keeps the footer, so
    pairs mined at n=5 are never served as n=3 pairs."""
    path = str(tmp_path / "pairs")
    pairs = spark.createDataFrame([(1, 2, 0.9)],
                                  "id_a long, id_b long, jaccard double")
    DD.write_pair_store(pairs, path, n=5, threshold=0.2)
    DD.write_pair_store(pairs, path, n=3, threshold=0.5, mode="ignore")
    meta = spark.read.parquet(f"{path}__meta").first()
    assert (meta.n, meta.threshold) == (5, 0.2)
    with pytest.raises(ValueError, match="n=5"):
        DD.read_pairs(spark, path, n=3)
    assert DD.read_pairs(spark, path, n=5, threshold=0.2).count() == 1


def test_append_over_unreadable_footer_raises(spark, tmp_path):
    """A footer that cannot be read is an error, not "no footer": the
    append must fail before writing instead of skipping its check."""
    import glob

    docs = _small_docs(spark)
    path = str(tmp_path / "sigs")
    DD.write_signature_store(docs, path, num_hashes=64, seed=7)
    for f in glob.glob(f"{path}__meta/*.parquet"):
        with open(f, "wb") as fh:
            fh.write(b"not a parquet file" * 8)
    with pytest.raises(Exception, match="__meta"):
        DD.write_signature_store(docs, path, num_hashes=32, seed=7,
                                 mode="append")
    assert {len(r.sig) for r in spark.read.parquet(path).collect()} == {64}

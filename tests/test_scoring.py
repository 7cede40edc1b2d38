"""Unit tests for operators/scoring.py and the keep-best cluster
functions in operators/graph.py — hand-computed goldens on tiny frames
plus the plan-shape pins (WindowGroupLimit for the per-group caps)."""

from __future__ import annotations

import math
import re

import pytest

from pyspark.sql import Row, functions as F
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

from legend_community_delta_spark.operators.graph import (
    cluster_representatives,
    drop_near_dups,
    drop_near_dups_keep_best,
)
from legend_community_delta_spark.operators.scoring import (
    boilerplate_stats,
    chunk_docs,
    source_tv_distance,
    top_n_per_group,
    unigram_surprisal,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)],
        "doc_id long, text string")


# ---------------------------------------------------------------- surprisal

def test_unigram_surprisal_hand_computed(spark):
    # counts: a=3, b=2, c=1 -> N=6
    df = _docs(spark, ["a a b", "a b c", ""])
    out = {r["doc_id"]: r for r in unigram_surprisal(df).collect()}
    ln = math.log
    # doc 0: ln6 - (ln3 + ln3 + ln2)/3
    assert out[0]["n_tokens"] == 3
    assert abs(out[0]["mean_neg_logprob"]
               - (ln(6) - (2 * ln(3) + ln(2)) / 3)) < 1e-12
    # doc 1: ln6 - (ln3 + ln2 + ln1)/3
    assert abs(out[1]["mean_neg_logprob"]
               - (ln(6) - (ln(3) + ln(2)) / 3)) < 1e-12
    # token-less doc: 0 tokens, NULL surprisal (documented; not 0.0)
    assert out[2]["n_tokens"] == 0
    assert out[2]["mean_neg_logprob"] is None
    # rare-token doc 1 is MORE surprising than common-token doc 0
    assert out[1]["mean_neg_logprob"] > out[0]["mean_neg_logprob"]


# ------------------------------------------------------------- TV distance

def test_source_tv_distance_identity_and_split(spark):
    rows = [Row(doc_id=1, source="only", text="a a b")]
    one = spark.createDataFrame(rows)
    got = source_tv_distance(one).collect()
    assert len(got) == 1
    assert abs(got[0]["tv_distance"]) < 1e-12  # single source == corpus

    two = spark.createDataFrame([
        Row(doc_id=1, source="A", text="a a"),
        Row(doc_id=2, source="B", text="b b"),
    ])
    res = {r["source"]: r["tv_distance"]
           for r in source_tv_distance(two).collect()}
    # corpus: p(a)=p(b)=0.5; each source is a point mass -> TV = 0.5
    assert abs(res["A"] - 0.5) < 1e-12
    assert abs(res["B"] - 0.5) < 1e-12
    for v in res.values():
        assert 0.0 <= v <= 1.0


# -------------------------------------------------------------- boilerplate

def test_boilerplate_stats_template_detection(spark):
    template = "all rights reserved by corp"
    df = _docs(spark, [
        f"{template} alpha beta gamma",
        f"{template} delta epsilon zeta",
        f"{template} eta theta iota",
        "totally unrelated words only here",
        "xy",  # fewer than n tokens -> zero grams -> 0.0 not NULL
    ])
    out = {r["doc_id"]: r for r in
           boilerplate_stats(df, n=3, min_doc_frac=0.5).collect()}
    # the 3 template grams appear in 3/5 = 0.6 >= 0.5 of docs
    assert out[0]["n_boiler"] == 3
    assert out[0]["n_grams"] == 6  # 8 tokens -> 6 trigrams
    assert abs(out[0]["boiler_frac"] - 0.5) < 1e-12
    assert out[3]["n_boiler"] == 0 and out[3]["boiler_frac"] == 0.0
    assert out[4]["n_grams"] == 0 and out[4]["boiler_frac"] == 0.0


# ----------------------------------------------------------------- chunking

def test_chunk_docs_windows(spark):
    df = _docs(spark, ["t0 t1 t2 t3 t4", "s0 s1 s2", ""])
    got = sorted(
        (r["doc_id"], r["chunk_id"], r["start_token"], r["n_tokens"],
         r["chunk_text"])
        for r in chunk_docs(df, size=3, stride=2).collect())
    assert got == [
        (0, 0, 0, 3, "t0 t1 t2"),
        (0, 1, 2, 3, "t2 t3 t4"),
        (1, 0, 0, 3, "s0 s1 s2"),
    ]  # empty doc emits no chunks


def test_chunk_docs_partial_tail_and_reassembly(spark):
    df = _docs(spark, ["a b c d"])
    got = sorted((r["chunk_id"], r["n_tokens"], r["chunk_text"])
                 for r in chunk_docs(df, size=3, stride=2).collect())
    assert got == [(0, 3, "a b c"), (1, 2, "c d")]
    # stride == size partitions the stream exactly: concat reassembles
    packed = (chunk_docs(df, size=2).orderBy("chunk_id")
              .agg(F.array_join(F.collect_list("chunk_text"), " "))
              .first()[0])
    assert packed == "a b c d"


def test_chunk_every_token_covered(spark):
    df = _docs(spark, ["w" + " w" * 76])  # 77 tokens
    rows = chunk_docs(df, size=16, stride=10).collect()
    covered = set()
    for r in rows:
        covered.update(range(r["start_token"],
                             r["start_token"] + r["n_tokens"]))
    assert covered == set(range(77))
    assert all(r["n_tokens"] <= 16 for r in rows)


# --------------------------------------------------------- per-group caps

def test_top_n_per_group_caps_and_plan(spark):
    df = spark.createDataFrame(
        [Row(doc_id=i, grp=f"g{i % 3}", score=i * 7 % 11)
         for i in range(30)])
    out = top_n_per_group(df, "grp", 4, "score", id_col="doc_id")
    counts = {r["grp"]: r["n"] for r in
              out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert all(v == 4 for v in counts.values())
    # per group, the kept scores are the 4 largest
    for g in ("g0", "g1", "g2"):
        kept = sorted(r["score"] for r in out.where(F.col("grp") == g)
                      .collect())
        best = sorted(r["score"] for r in df.where(F.col("grp") == g)
                      .collect())[-4:]
        assert kept == best
    # rank filter must compile to the running top-n operator
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


# ------------------------------------------------- keep-best near-dup drop

def _pairs(spark, edges):
    schema = StructType([StructField("id_a", LongType()),
                         StructField("id_b", LongType())])
    return spark.createDataFrame(edges, schema)


def test_cluster_representatives_argmax_and_sizes(spark):
    df = spark.createDataFrame([
        Row(doc_id=1, q=10), Row(doc_id=2, q=99), Row(doc_id=3, q=10),
        Row(doc_id=4, q=50), Row(doc_id=5, q=50),
        Row(doc_id=6, q=1),  # isolated: not in any pair, not returned
    ])
    reps = {r["component"]: r for r in cluster_representatives(
        df, _pairs(spark, [(1, 2), (2, 3), (4, 5)]), "q").collect()}
    assert reps[1]["rep_id"] == 2 and reps[1]["rep_score"] == 99
    assert reps[1]["n_members"] == 3
    # tie on score 50 -> min id wins
    assert reps[4]["rep_id"] == 4 and reps[4]["n_members"] == 2
    assert set(reps) == {1, 4}


def test_drop_near_dups_keep_best_vs_min_id(spark):
    df = spark.createDataFrame([
        Row(doc_id=1, q=10), Row(doc_id=2, q=99), Row(doc_id=3, q=10),
        Row(doc_id=4, q=7),
    ])
    pairs = _pairs(spark, [(1, 2), (2, 3)])
    best = sorted(r["doc_id"] for r in
                  drop_near_dups_keep_best(df, pairs, "q").collect())
    minid = sorted(r["doc_id"] for r in
                   drop_near_dups(df, pairs).collect())
    assert best == [2, 4]   # survivor = best quality
    assert minid == [1, 4]  # survivor = min id
    assert len(best) == len(minid)  # same one-per-component guarantee


def test_drop_near_dups_keep_best_no_pairs_is_identity(spark):
    df = spark.createDataFrame([Row(doc_id=1, q=1), Row(doc_id=2, q=2)])
    out = drop_near_dups_keep_best(df, _pairs(spark, []), "q")
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2]


# ---------------------------------------------------------------------------
# DSIR importance weighting
# ---------------------------------------------------------------------------

def _dsir_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dsir_target_equals_raw_is_zero(spark):
    from legend_community_delta_spark.operators.scoring import (
        dsir_logratios, dsir_weights)
    df = _dsir_docs(spark, [(1, "alpha beta gamma"), (2, "delta beta")])
    lr = dsir_logratios(df, df)
    assert all(abs(r["logratio"]) < 1e-12 for r in lr.collect())
    w = {r["doc_id"]: r for r in dsir_weights(df, lr).collect()}
    assert abs(w[1]["logratio_avg"]) < 1e-12
    # unigrams + bigrams: 3 + 2 for doc 1
    assert w[1]["n_feats"] == 5 and w[2]["n_feats"] == 3


def test_dsir_ranks_target_like_docs_higher(spark):
    from legend_community_delta_spark.operators.scoring import (
        dsir_logratios, dsir_weights, dsir_select)
    target = _dsir_docs(spark, [(100, "good clean prose here"),
                                (101, "good clean words here")])
    raw = _dsir_docs(spark, [(1, "good clean prose here"),
                             (2, "spam junk noise garbage"),
                             (3, "")])
    lr = dsir_logratios(target, raw)
    w = {r["doc_id"]: r for r in dsir_weights(raw, lr).collect()}
    assert w[1]["logratio_avg"] > w[2]["logratio_avg"]
    # feature-less doc scores 0 by convention, with 0 features
    assert w[3]["n_feats"] == 0 and w[3]["logratio_avg"] == 0.0
    picked = [r["doc_id"] for r in dsir_select(raw, target, 1).collect()]
    assert picked == [1]


def test_dsir_plan_broadcast_no_udf(spark):
    from legend_community_delta_spark.operators.scoring import (
        dsir_logratios, dsir_weights)
    df = _dsir_docs(spark, [(1, "a b c"), (2, "c d")])
    plan = (dsir_weights(df, dsir_logratios(df, df))
            ._jdf.queryExecution().executedPlan().toString())
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# bigram surprisal + embedding drift
# ---------------------------------------------------------------------------

def test_bigram_surprisal_hand_computed(spark):
    from legend_community_delta_spark.operators.scoring import (
        bigram_surprisal)
    df = _dsir_docs(spark, [(1, "a b a b"), (2, "a b"), (3, "x"), (4, "")])
    out = {r["doc_id"]: r for r in bigram_surprisal(df).collect()}
    # corpus: c("a b")=3, c("b a")=1; left counts a=3, b=1; V=3
    p_b_a = (3 + 0.5) / (3 + 0.5 * 3)
    p_a_b = (1 + 0.5) / (1 + 0.5 * 3)
    exp1 = -(2 * math.log(p_b_a) + math.log(p_a_b)) / 3
    assert out[1]["n_bigrams"] == 3
    assert abs(out[1]["mean_neg_logprob2"] - exp1) < 1e-12
    assert abs(out[2]["mean_neg_logprob2"] - (-math.log(p_b_a))) < 1e-12
    # <2 tokens: zero bigrams, NULL surprisal (not a fake 0.0)
    assert out[3]["n_bigrams"] == 0 and out[3]["mean_neg_logprob2"] is None
    assert out[4]["n_bigrams"] == 0 and out[4]["mean_neg_logprob2"] is None


def test_bigram_vs_unigram_word_order(spark):
    from legend_community_delta_spark.operators.scoring import (
        bigram_surprisal, unigram_surprisal)
    # same bag of words, one doc scrambled relative to the dominant order
    df = _dsir_docs(spark, [(1, "the cat sat"), (2, "the cat sat"),
                            (3, "the cat sat"), (4, "sat the cat")])
    uni = {r["doc_id"]: r["mean_neg_logprob"]
           for r in unigram_surprisal(df).collect()}
    bi = {r["doc_id"]: r["mean_neg_logprob2"]
          for r in bigram_surprisal(df).collect()}
    assert abs(uni[4] - uni[1]) < 1e-12       # unigram model is blind
    assert bi[4] > bi[1]                      # bigram model is not


def test_embedding_drift_identity_and_orthogonal(spark):
    from legend_community_delta_spark.operators.scoring import (
        embedding_drift)
    one = spark.createDataFrame(
        [(0, "a", [1.0, 2.0]), (1, "a", [3.0, 4.0])],
        "vec_id long, label string, embedding array<double>")
    out = embedding_drift(one).collect()
    assert len(out) == 1 and abs(out[0]["drift"]) < 1e-9
    assert out[0]["n_vecs"] == 2

    two = spark.createDataFrame(
        [(0, "a", [1.0, 0.0]), (1, "a", [1.0, 0.0]),
         (2, "b", [0.0, 1.0]), (3, "b", [0.0, 1.0])],
        "vec_id long, label string, embedding array<double>")
    d = {r["label"]: r["drift"] for r in embedding_drift(two).collect()}
    # group mean [1,0] vs corpus mean [.5,.5]: drift = 1 - 1/sqrt(2)
    assert abs(d["a"] - (1 - 1 / math.sqrt(2))) < 1e-12
    assert abs(d["a"] - d["b"]) < 1e-12  # symmetric fixture


def test_scoring_plans_no_udf(spark):
    from legend_community_delta_spark.operators.scoring import (
        bigram_surprisal, embedding_drift)
    df = _dsir_docs(spark, [(1, "a b c"), (2, "c d")])
    emb = spark.createDataFrame(
        [(0, "a", [1.0, 0.0])],
        "vec_id long, label string, embedding array<double>")
    for frame in (bigram_surprisal(df), embedding_drift(emb)):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_robust_scores_median_iqr_and_clip(spark):
    from legend_community_delta_spark.operators.scoring import robust_scores
    df = spark.createDataFrame(
        # group a: values 1..5 (med 3, p25 2, p75 4, iqr 2)
        [(i, "a", float(i)) for i in range(1, 6)]
        # group b: constant -> iqr 0 -> z 0
        + [(10 + i, "b", 7.0) for i in range(3)]
        # group c: extreme outlier clipped at +-3
        + [(20, "c", 0.0), (21, "c", 1.0), (22, "c", 2.0),
           (23, "c", 1000.0)],
        "doc_id long, source string, q double")
    out = {r["doc_id"]: r for r in
           robust_scores(df, "q").collect()}
    assert out[3]["robust_z"] == 0.0            # the median itself
    assert abs(out[5]["robust_z"] - 1.0) < 1e-12  # (5-3)/2
    assert abs(out[1]["robust_z"] + 1.0) < 1e-12
    assert all(out[10 + i]["robust_z"] == 0.0 for i in range(3))
    assert out[23]["robust_z"] == 3.0           # winsorized
    assert out[20]["robust_z"] >= -3.0
    plan = robust_scores(df, "q")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_lm_store_oov_and_self_model_equivalence(spark, tmp_path):
    import math
    from legend_community_delta_spark.operators.scoring import (
        lm_surprisal, unigram_surprisal, write_lm_store)
    corpus = _dsir_docs(spark, [(1, "a a b"), (2, "b a"), (3, "")])
    path = str(tmp_path / "lm")
    write_lm_store(corpus, path)
    # pricing the corpus against its own persisted model == the
    # self-referential operator (zero OOV by construction)
    stored = {r["doc_id"]: r for r in
              lm_surprisal(spark, path, corpus).collect()}
    live = {r["doc_id"]: r for r in unigram_surprisal(corpus).collect()}
    for k in stored:
        assert stored[k]["oov_tokens"] == 0
        if live[k]["mean_neg_logprob"] is None:
            assert stored[k]["mean_neg_logprob"] is None
        else:
            assert abs(stored[k]["mean_neg_logprob"]
                       - live[k]["mean_neg_logprob"]) < 1e-12
    # OOV pricing: 'zzz' absent from the model -> hapax floor ln(1)=0
    new = _dsir_docs(spark, [(9, "a zzz")])
    out = lm_surprisal(spark, path, new).collect()[0]
    assert out["oov_tokens"] == 1 and out["n_tokens"] == 2
    # counts: a=3, b=2, N=5; doc = [a(3), zzz(oov->1)]
    want = math.log(5) - (math.log(3) + math.log(1)) / 2
    assert abs(out["mean_neg_logprob"] - want) < 1e-12


def test_lm_store_append_merges(spark, tmp_path):
    from legend_community_delta_spark.operators.scoring import (
        lm_surprisal, write_lm_store)
    path = str(tmp_path / "lm")
    write_lm_store(_dsir_docs(spark, [(1, "a a b")]), path)
    write_lm_store(_dsir_docs(spark, [(2, "b a")]), path, mode="append")
    merged = {r["doc_id"]: r for r in
              lm_surprisal(spark, path,
                           _dsir_docs(spark, [(9, "a b")])).collect()}
    import math
    # merged counts a=3, b=2, N=5
    want = math.log(5) - (math.log(3) + math.log(2)) / 2
    assert abs(merged[9]["mean_neg_logprob"] - want) < 1e-12


# -- round-6: interpolated Kneser-Ney bigram scoring -----------------------

def test_kn_bigram_hand_computed(spark):
    from legend_community_delta_spark.operators.scoring import (
        kn_bigram_surprisal)
    import math
    # corpus: doc1 'a b a b', doc2 'a c'
    # bigrams: (a b)x2, (b a)x1, (a c)x1
    # c(a.)=3, N1+(a,.)=2; c(b.)=1, N1+(b,.)=1
    # N1+(.,b)=1 (a), N1+(.,a)=1 (b), N1+(.,c)=1 (a); N1+(.,.)=3 types
    df = spark.createDataFrame([(1, "a b a b"), (2, "a c")],
                               "doc_id long, text string")
    d = 0.75
    def p(cb, cl, n1l, n1r, nt=3.0):
        return max(cb - d, 0) / cl + d * n1l / cl * (n1r / nt)
    p_ab = p(2, 3, 2, 1)
    p_ba = p(1, 1, 1, 1)
    p_ac = p(1, 3, 2, 1)
    want1 = -(math.log(p_ab) * 2 + math.log(p_ba)) / 3
    want2 = -math.log(p_ac)
    got = {r.doc_id: (r.n_bigrams, r.mean_neg_logprob_kn)
           for r in kn_bigram_surprisal(df).collect()}
    assert got[1][0] == 3 and got[2][0] == 1
    assert got[1][1] == pytest.approx(want1)
    assert got[2][1] == pytest.approx(want2)


def test_kn_probabilities_sum_to_one_per_left_token(spark):
    """Interpolated KN invariant: for every observed left token w1,
    sum over the continuation vocabulary of P(w2|w1) == 1 — the
    discounted mass is exactly redistributed."""
    import random
    from collections import Counter
    rng = random.Random(13)
    texts = [" ".join(rng.choice("abcdef") for _ in range(30))
             for _ in range(6)]
    bigrams = Counter()
    for t in texts:
        ws = t.split()
        for i in range(len(ws) - 1):
            bigrams[(ws[i], ws[i + 1])] += 1
    d = 0.75
    cl = Counter(); n1l = Counter(); n1r = Counter()
    for (a, b), c in bigrams.items():
        cl[a] += c
    for (a, b) in bigrams:
        n1l[a] += 1
        n1r[b] += 1
    nt = float(len(bigrams))
    vocab_r = set(b for _, b in bigrams)
    for a in cl:
        s = 0.0
        for b in vocab_r:
            cb = bigrams.get((a, b), 0)
            s += max(cb - d, 0) / cl[a] + d * n1l[a] / cl[a] * (n1r[b] / nt)
        assert abs(s - 1.0) < 1e-9, a


# -- round-6: content-defined chunking --------------------------------------

# Java regex \S is ASCII-only ([^ \t\n\x0B\f\r]) — the class
# functions.text.tokens() splits on
_JAVA_TOKEN = re.compile(r"[^ \t\n\x0b\f\r]+")


def _cdc_ref(text, window, hexz, min_tokens):
    import hashlib
    toks = _JAVA_TOKEN.findall(text or "")
    n = len(toks)
    raw = [i for i in range(window, n + 1)
           if hashlib.md5(" ".join(toks[i - window:i]).encode())
           .hexdigest().startswith("0" * hexz)]
    kept, prev = [], 0
    for i in raw:
        if i - prev >= min_tokens:
            kept.append(i)
            prev = i
    starts = [0] + [b for b in kept if b < n]
    out = []
    for k, s in enumerate(starts):
        e = starts[k + 1] if k + 1 < len(starts) else n
        out.append((k, s, e - s, " ".join(toks[s:e])))
    return out if n else []


def _cdc_by_doc(df, **kw):
    from legend_community_delta_spark.operators.scoring import (
        cdc_chunks_arrow)
    got = {}
    for r in cdc_chunks_arrow(df, **kw).collect():
        got.setdefault(r.doc_id, []).append(
            (r.chunk_id, r.start_token, r.n_tokens, r.chunk_text))
    return {i: sorted(ch) for i, ch in got.items()}


def test_cdc_chunks_matches_reference_and_reconstructs(spark):
    import random
    rng = random.Random(21)
    rows = [(i, " ".join(rng.choice("abcdefgh")
                         for _ in range(rng.randint(0, 60))))
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for window, hexz, mint in ((2, 1, 1), (4, 1, 3), (3, 1, 5)):
        got = _cdc_by_doc(df, window=window, boundary_hex=hexz,
                          min_tokens=mint)
        for i, text in rows:
            want = _cdc_ref(text, window, hexz, mint)
            assert got.get(i, []) == want, (i, window, mint)
            # chunks reconstruct the doc exactly
            if text.split():
                joined = " ".join(t for _, _, _, t in got[i])
                assert joined == " ".join(text.split())


def test_cdc_chunks_arrow_matches_hof(spark):
    """Edge inputs — empty, NULL, one token, unicode whitespace (Java
    \\S is ASCII-only, so NBSP is not a separator) and one long
    repetitive doc — match the pure-Python reference, and each doc's
    chunks rejoin to the JVM tokenizer's own token stream."""
    from legend_community_delta_spark.functions.text import tokens
    rows = [(100, ""), (101, None), (102, "one"),
            (103, "a b c\td  e"),       # NBSP is NOT Java \s
            (104, "x " * 200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    jvm = {r.doc_id: r.t for r in df.select(
        "doc_id", F.array_join(tokens("text"), " ").alias("t")).collect()}
    for window, hexz, mint in ((2, 1, 1), (4, 1, 3), (3, 1, 5)):
        got = _cdc_by_doc(df, window=window, boundary_hex=hexz,
                          min_tokens=mint)
        for i, text in rows:
            assert got.get(i, []) == _cdc_ref(text, window, hexz, mint), \
                (i, window, mint)
            assert " ".join(t for _, _, _, t in got.get(i, [])) \
                == (jvm[i] or ""), (i, window, mint)


def test_cdc_chunks_content_defined_shift_locality(spark):
    """Inserting a token near the head must leave all chunks after the
    next boundary byte-identical — the property fixed-size chunking
    lacks and the whole point of CDC."""
    import random
    rng = random.Random(5)
    base = [rng.choice("abcdefgh") for _ in range(200)]
    shifted = ["zz"] + base
    df = spark.createDataFrame(
        [(1, " ".join(base)), (2, " ".join(shifted))],
        "doc_id long, text string")
    ch = {i: {t for _, _, _, t in chunks} for i, chunks in _cdc_by_doc(
        df, window=3, boundary_hex=1, min_tokens=1).items()}
    common = ch[1] & ch[2]
    # everything beyond the first boundary after the insertion is shared
    assert len(common) >= max(len(ch[1]) - 2, 1)


def test_stupid_backoff_hand_computed_all_levels(spark):
    """One doc exercises every backoff level: seen trigram, bigram
    backoff, unigram backoff, and the OOV floor."""
    import math
    from legend_community_delta_spark.operators.scoring import (
        stupid_backoff_surprisal)
    train = spark.createDataFrame(
        [(1, "a b c a b d"), (2, "c d e")],
        "doc_id long, text string")
    # train: trigrams {a b c, b c a, c a b, a b d, c d e}
    # bigrams {a b:2, b c:1, c a:1, b d:1, c d:1, d e:1}; N=9
    # unigrams {a:2,b:2,c:2,d:2,e:1}
    score = spark.createDataFrame(
        [(10, "a b c"),      # seen trigram: 1/2
         (11, "e c d"),      # unseen tri, seen bigram c d: .4*1/c(c)=.4*1/2
         (12, "e e a"),      # unseen tri+bi, a seen: .16*2/9
         (13, "e e zz")],    # OOV w3: .16/9
        "doc_id long, text string")
    got = {r.doc_id: (r.n_trigrams, r.mean_neg_logscore)
           for r in stupid_backoff_surprisal(train, score).collect()}
    assert got[10] == (1, pytest.approx(-math.log(1 / 2)))
    assert got[11] == (1, pytest.approx(-math.log(0.4 * 1 / 2)))
    assert got[12] == (1, pytest.approx(-math.log(0.4 * 0.4 * 2 / 9)))
    assert got[13] == (1, pytest.approx(-math.log(0.4 * 0.4 / 9)))

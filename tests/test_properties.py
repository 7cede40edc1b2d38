"""Property-based tests (hypothesis): codegen round-trips, compiler
function-table behavior, and a PURE-vs-DuckDB differential fuzz hold for
arbitrary inputs, not just fixtures.

r13 example budgets: the fuzz tests whose per-example cost is a FULL
Spark pipeline (>= ~1 s each: prefix-jaccard, nb, bm25, contamination,
heavy-hitters, zorder, cleaning) run 8-12 derandomized examples in CI
instead of 20-25, so the suite fits the driver's verify window
(VERDICT r12 item 4).  The CI profile is derandomized, so these are the
SAME fixed examples every run; randomized exploration at full depth
stays on tools/hypothesis_sweep.py, and every previously-found
falsifying input remains pinned with @example(...)."""

from __future__ import annotations

import os
import re

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import types as T

from legend_community_delta_spark import load_dicts
from legend_community_delta_spark.codegen import generate_pure_from_schema
from legend_community_delta_spark.plans.parser import parse_model_text
from legend_community_delta_spark.schema import mapping_schema, relaxed

# Spark types whose PURE round trip is type-stable
# (Byte/Short collapse to Integer by design — excluded)
_STABLE_TYPES = [
    T.StringType(), T.IntegerType(), T.LongType(), T.DoubleType(),
    T.FloatType(), T.BooleanType(), T.DateType(), T.TimestampType(),
]

_field_name = st.from_regex(re.compile(r"[a-z][a-z0-9]{0,8}(_[a-z0-9]{1,6}){0,2}"),
                            fullmatch=True)


@st.composite
def flat_schemas(draw):
    names = draw(st.lists(_field_name, min_size=1, max_size=8, unique=True))
    return T.StructType([
        T.StructField(n, draw(st.sampled_from(_STABLE_TYPES)),
                      nullable=draw(st.booleans()))
        for n in names
    ])


def _camel(s):
    c = "".join(p[:1].upper() + p[1:] for p in s.split("_") if p)
    return c[:1].lower() + c[1:] if c else c


@settings(max_examples=40, deadline=None)
@given(flat_schemas())
@example(T.StructType([T.StructField("a_0", T.StringType(), True),
                       T.StructField("a0", T.StringType(), True)]))
def test_codegen_round_trip_schema(schema):
    """schema -> PURE text -> (our parser) -> model -> mapping schema
    reproduces the original columns/types, nullable-relaxed.  Schemas
    whose column names collide under camelCase (``a_0``/``a0``) must
    refuse loudly instead of silently dropping a column (regression:
    hypothesis-found in round 6)."""
    camels = [_camel(f.name) for f in schema.fields]
    if len(set(camels)) != len(camels):
        import pytest
        from legend_community_delta_spark.model.entities import LegendModelError
        with pytest.raises(LegendModelError, match="camelCase collision"):
            generate_pure_from_schema("prop::test", "db", "tbl", schema)
        return
    text = generate_pure_from_schema("prop::test", "db", "tbl", schema)
    model = load_dicts(parse_model_text(text))
    out = mapping_schema(model, "prop::test::mapping::Tbl")
    expected = relaxed(schema)
    assert [f.name for f in out.fields] == [f.name for f in expected.fields]
    assert [f.dataType for f in out.fields] == [f.dataType for f in expected.fields]


def test_expectation_sql_is_always_parseable(spark):
    """Every generated expectation compiles under Spark's SQL parser."""
    from pyspark.sql import functions as F
    from legend_community_delta_spark.expectations import class_expectations
    from fixtures import ALL_ENTITIES

    model = load_dicts(ALL_ENTITIES)
    for cls_path in ("demo::entity::employee", "demo::entity::person"):
        rules = class_expectations(model, model.get_class(cls_path))
        for sql in rules.values():
            F.expr(sql)  # raises on unparseable SQL


# ---------------------------------------------------------------------------
# Differential fuzz: random PURE lambda chains (filter -> project|groupBy ->
# sort -> take) over the TPC-H orders entity, compiled by OUR compiler and
# run on Spark, against hand-emitted equivalent SQL run in DuckDB (built
# from the same random spec, so the oracle shares no code with the
# compiler).  Orders data is NULL-free, aggregates restricted to
# count/max/min (exact cross-engine), and the sort covers every output
# column — results are fully deterministic, compared as ordered rows.
# ---------------------------------------------------------------------------

_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")

# pure property -> DuckDB expression over the raw orders table
_PROJ = {
    "orderKey": "o_orderkey",
    "custKey": "o_custkey",
    "totalPrice": "o_totalprice",
    "orderPriority": "o_orderpriority",
    "orderYear": "year(o_orderdate)",
    "priorityClass": "substring(o_orderpriority, 1, 1)",
}
_KEYS = {"orderYear": "year(o_orderdate)",
         "priorityClass": "substring(o_orderpriority, 1, 1)",
         "orderStatus": "o_orderstatus"}
_AGG_VALS = {"totalPrice": "o_totalprice", "orderKey": "o_orderkey",
             "custKey": "o_custkey"}


@st.composite
def _order_preds(draw):
    kind = draw(st.sampled_from(["price", "cust", "year", "starts",
                                 "pclass"]))
    if kind == "price":
        c = draw(st.integers(0, 400_000))
        return f"$x.totalPrice > {c}", f"o_totalprice > {c}"
    if kind == "cust":
        c = draw(st.integers(0, 1_500))
        return f"$x.custKey <= {c}", f"o_custkey <= {c}"
    if kind == "year":
        y = draw(st.integers(1994, 2002))
        return f"$x.orderYear == {y}", f"year(o_orderdate) = {y}"
    if kind == "starts":
        d = draw(st.integers(1, 5))
        return (f"$x.orderPriority->startsWith('{d}')",
                f"o_orderpriority LIKE '{d}%'")
    d = draw(st.integers(1, 5))
    return (f"$x.priorityClass != '{d}'",
            f"substring(o_orderpriority, 1, 1) <> '{d}'")


@st.composite
def _order_query_specs(draw):
    chain = "tpch::entity::order.all()"
    where: list[tuple[str, str]] = []
    for _ in range(draw(st.integers(0, 2))):
        p, d = draw(_order_preds())
        if where and draw(st.booleans()):           # OR into the previous
            pp, dd = where.pop()
            where.append((f"({pp} || {p})", f"({dd} OR {d})"))
        else:
            where.append((p, d))
    duck_pred = " AND ".join(d for _, d in where) if where else None
    if where:
        chain += f"->filter(x|{' && '.join(p for p, _ in where)})"

    if draw(st.booleans()):                         # project shape
        cols = draw(st.lists(st.sampled_from(sorted(_PROJ)), min_size=1,
                             max_size=4, unique=True))
        names = [f"C{i}" for i in range(len(cols))]
        chain += ("->project([" + ", ".join(f"x|$x.{c}" for c in cols)
                  + "], [" + ", ".join(f"'{n}'" for n in names) + "])")
        duck = ("SELECT " + ", ".join(f"{_PROJ[c]} AS {n}"
                                      for c, n in zip(cols, names))
                + " FROM orders")
        if duck_pred:
            duck += f" WHERE {duck_pred}"
    else:                                           # groupBy shape
        ks = draw(st.lists(st.sampled_from(sorted(_KEYS)), min_size=1,
                           max_size=2, unique=True))
        aggs = draw(st.lists(
            st.tuples(st.sampled_from(sorted(_AGG_VALS)),
                      st.sampled_from(["count", "max", "min"])),
            min_size=1, max_size=2))
        names = ([f"K{i}" for i in range(len(ks))]
                 + [f"A{i}" for i in range(len(aggs))])
        chain += ("->groupBy([" + ", ".join(f"x|$x.{k}" for k in ks)
                  + "], [" + ", ".join(f"agg(x|$x.{v}, x|$x->{f}())"
                                       for v, f in aggs)
                  + "], [" + ", ".join(f"'{n}'" for n in names) + "])")
        duck = ("SELECT "
                + ", ".join([f"{_KEYS[k]} AS K{i}"
                             for i, k in enumerate(ks)]
                            + [f"{f}({_AGG_VALS[v]}) AS A{i}"
                               for i, (v, f) in enumerate(aggs)])
                + " FROM orders")
        if duck_pred:
            duck += f" WHERE {duck_pred}"
        duck += " GROUP BY " + ", ".join(_KEYS[k] for k in ks)

    descs = draw(st.lists(st.booleans(), min_size=len(names),
                          max_size=len(names)))
    chain += ("->sort([" + ", ".join(f"desc('{n}')" if d else f"'{n}'"
                                     for n, d in zip(names, descs)) + "])")
    duck += " ORDER BY " + ", ".join(
        f"{n} {'DESC' if d else 'ASC'}" for n, d in zip(names, descs))
    n = draw(st.integers(1, 40))
    chain += f"->take({n})"
    duck += f" LIMIT {n}"
    return chain, duck


_FUZZ_STATE: dict = {}


def _fuzz_setup(spark):
    if "legend" not in _FUZZ_STATE:
        import duckdb
        from legend_community_delta_spark import demo
        demo.ensure_views(spark, _SF_DIR)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW orders AS SELECT * FROM "
                    f"'{_SF_DIR}/orders.parquet'")
        _FUZZ_STATE["legend"] = demo.build_legend(spark)
        _FUZZ_STATE["con"] = con
    return _FUZZ_STATE["legend"], _FUZZ_STATE["con"]


def _canon_row(row):
    return tuple(round(v, 6) if isinstance(v, float) else v for v in row)


@settings(max_examples=220, deadline=None)
@given(spec=_order_query_specs())
def test_pure_compiler_differential_vs_duckdb(spark, spec):
    """VERDICT r3 task #10: >=200 random lambda chains agree with an
    independently-emitted DuckDB oracle, values and order."""
    chain, duck = spec
    legend, con = _fuzz_setup(spark)
    got = [_canon_row(r) for r in
           legend.query_pure(chain, "tpch::mapping::orders_delta").collect()]
    want = [_canon_row(r) for r in con.execute(duck).fetchall()]
    assert got == want, f"\npure: {chain}\nduck: {duck}"


@settings(max_examples=60, deadline=None)
@given(st.integers(min_value=-10**9, max_value=10**9),
       st.integers(min_value=-10**9, max_value=10**9))
def test_pure_parser_comparison_round_trip(a, b):
    from legend_community_delta_spark.plans.parser import parse_expression
    from legend_community_delta_spark.plans.compiler import Context, to_sql
    from legend_community_delta_spark.model.loader import LegendModel

    ast = parse_expression(f"{a} + {b} > {b}")
    ctx = Context(model=LegendModel())
    sql = to_sql(ast, ctx)
    assert sql == f"{a} + {b} > {b}"


# ---------------------------------------------------------------------------
# prefix-filtered exact Jaccard == naive bucket plan, adversarial shapes
# ---------------------------------------------------------------------------

_WORDS = ["aa", "bb", "cc", "dd", "ee", "ff"]


@st.composite
def _doc_corpora(draw):
    n_docs = draw(st.integers(min_value=2, max_value=10))
    docs = []
    for i in range(n_docs):
        words = draw(st.lists(st.sampled_from(_WORDS), min_size=0,
                              max_size=12))
        docs.append((i, " ".join(words)))
    thr = draw(st.sampled_from([0.1, 0.25, 1 / 3, 0.5, 2 / 3, 0.75, 0.9]))
    return docs, thr


@settings(max_examples=10, deadline=None)
@given(corpus=_doc_corpora())
def test_prefix_jaccard_fuzz_equals_bucket(spark, corpus):
    """Differential fuzz for the AllPairs prefix+size+positional filters:
    on tiny random corpora over a 6-word vocab (duplicate-heavy, empty
    and single-gram docs included, thresholds incl. exact-integer t*|G|
    boundaries) the filtered plan equals the naive bucket plan exactly."""
    from legend_community_delta_spark.operators.dedup import (
        _ngram_jaccard_bucket, ngram_jaccard_pairs)
    docs, thr = corpus
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {}
    for method, pairs in (
            ("prefix", ngram_jaccard_pairs(df, n=2, threshold=thr)),
            ("bucket", _ngram_jaccard_bucket(df, "text", "doc_id", 2, thr))):
        out[method] = {(r["id_a"], r["id_b"]): round(r["jaccard"], 9)
                       for r in pairs.collect()}
    assert out["prefix"] == out["bucket"]
    # cross-corpus variant: parity split must equal the bucket self-join
    # restricted to (even, odd) memberships
    from legend_community_delta_spark.operators.dedup import (
        cross_ngram_jaccard_pairs)
    cross = {(r["id_left"], r["id_right"]): round(r["jaccard"], 9)
             for r in cross_ngram_jaccard_pairs(
                 df.where("doc_id % 2 = 0"), df.where("doc_id % 2 = 1"),
                 n=2, threshold=thr).collect()}
    want = {}
    for (a, b), j in out["bucket"].items():
        if a % 2 == 0 and b % 2 == 1:
            want[(a, b)] = j
        elif a % 2 == 1 and b % 2 == 0:
            want[(b, a)] = j
    assert cross == want


@settings(max_examples=12, deadline=None)
@given(corpus=_doc_corpora())
def test_containment_prefix_fuzz_equals_bruteforce(spark, corpus):
    """Differential fuzz for the ASYMMETRIC prefix filter: on the same
    tiny random corpora, containment_pairs equals the brute-force
    all-ordered-pairs computation exactly (including empty docs,
    duplicate docs, and integer t*|G| boundaries)."""
    from legend_community_delta_spark.operators.dedup import (
        containment_pairs)
    docs, thr = corpus
    n = 2
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r.id_a, r.id_b): round(r.containment, 9)
           for r in containment_pairs(sdf, n=n, threshold=thr).collect()}

    def gramset(s):
        w = s.split()
        return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}

    want = {}
    for a, ta in docs:
        for b, tb in docs:
            if a == b:
                continue
            ga, gb = gramset(ta), gramset(tb)
            if ga and len(ga & gb) / len(ga) >= thr:
                want[(a, b)] = round(len(ga & gb) / len(ga), 9)
    assert got == want


@settings(max_examples=40, deadline=None)
@given(word=st.text(alphabet="abcd", min_size=1, max_size=12),
       pair=st.tuples(st.sampled_from("abcd"), st.sampled_from("abcd")))
def test_bpe_merge_fold_fuzz_vs_python(spark, word, pair):
    """The F.aggregate merge fold equals the plain-python greedy
    left-to-right merge on arbitrary words (overlap runs included)."""
    from pyspark.sql import functions as F
    from legend_community_delta_spark.operators.tokenize import merge_pair
    a, b = pair
    got = spark.createDataFrame([(word,)], "w string").select(
        merge_pair(F.split("w", ""), a, b).alias("m")).first().m
    out = []
    for c in word:
        if out and out[-1] == a and c == b:
            out[-1] = a + b
        else:
            out.append(c)
    assert got == out


@st.composite
def _labeled_corpora(draw):
    n = draw(st.integers(min_value=2, max_value=8))
    rows = []
    for i in range(n):
        words = draw(st.lists(st.sampled_from(_WORDS), min_size=0,
                              max_size=8))
        label = draw(st.sampled_from(["x", "y"]))
        rows.append((i, " ".join(words), label))
    # at least one doc per label so priors are defined
    rows.append((n, "pad", "x"))
    rows.append((n + 1, "pad2", "y"))
    return rows


@settings(max_examples=8, deadline=None)
@given(rows=_labeled_corpora())
def test_nb_fuzz_vs_python_reference(spark, rows):
    """Distributed NB == a naive pure-python NB (same smoothing, same
    round-6 argmax, same ascending-label ties) on random tiny corpora —
    including empty docs and OOV-only docs."""
    import math
    from legend_community_delta_spark.operators.classify import (
        nb_score, nb_train)
    train = rows
    df = spark.createDataFrame(rows, "doc_id long, text string, y string")
    model, stats = nb_train(df, "y")
    got = {r.doc_id: (r.pred_label, r.score)
           for r in nb_score(df, model, stats).collect()}

    toks = {i: t.lower().split() for i, t, _ in train}
    labels = sorted({y for _, _, y in train})
    vocab = {w for ts in toks.values() for w in ts}
    n_docs = len(train)
    cnt = {(y, w): 0 for y in labels for w in vocab}
    n_l = {y: 0 for y in labels}
    docs_l = {y: 0 for y in labels}
    for i, _, y in train:
        docs_l[y] += 1
        for w in toks[i]:
            cnt[(y, w)] += 1
            n_l[y] += 1
    for i, _, _ in train:
        best = None
        for y in labels:
            denom = n_l[y] + len(vocab)
            s = math.log(docs_l[y] / n_docs)
            for w in toks[i]:
                c = cnt.get((y, w))
                s += math.log((c + 1) / denom) if c is not None \
                    else math.log(1 / denom)
            s = round(s, 6)
            if best is None or s > best[1]:
                best = (y, s)
        assert got[i] == best, (i, got[i], best)


@st.composite
def _bm25_cases(draw):
    n = draw(st.integers(min_value=1, max_value=8))
    docs = [(i, " ".join(draw(st.lists(st.sampled_from(_WORDS),
                                       min_size=1, max_size=10))))
            for i in range(n)]
    qwords = draw(st.lists(st.sampled_from(_WORDS + ["zzz"]),
                           min_size=1, max_size=3))
    return docs, " ".join(qwords)


@settings(max_examples=8, deadline=None)
@given(case=_bm25_cases())
def test_bm25_fuzz_vs_python_reference(spark, case):
    """bm25_topk == a naive pure-python BM25 on random corpora
    (duplicate query terms, absent terms, repeated tokens)."""
    import math
    from collections import Counter
    from legend_community_delta_spark.operators.retrieval import (
        bm25_topk)
    docs, qtext = case
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    q = spark.createDataFrame([("q", qtext)],
                              "query_id string, query string")
    got = [(r.doc_id, r.score, r.rank)
           for r in bm25_topk(sdf, q, k=100).collect()]

    k1, b = 1.2, 0.75
    toks = {i: t.lower().split() for i, t in docs}
    n = len(docs)
    avgdl = sum(len(t) for t in toks.values()) / n
    terms = sorted(set(qtext.lower().split()))
    df_t = {t: sum(1 for ts in toks.values() if t in ts) for t in terms}
    scores = {}
    for i, ts in toks.items():
        tf = Counter(ts)
        s = 0.0
        hit = False
        for t in terms:
            if tf[t] == 0:
                continue
            hit = True
            idf = math.log(1.0 + (n - df_t[t] + 0.5) / (df_t[t] + 0.5))
            s += idf * (tf[t] * (k1 + 1)
                        / (tf[t] + k1 * (1 - b + b * len(ts) / avgdl)))
        if hit:
            scores[i] = round(s, 6)
    want = [(i, s) for i, s in
            sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))]
    want = [(i, s, r + 1) for r, (i, s) in enumerate(want)]
    assert got == want


@st.composite
def _ansi_sql_specs(draw):
    num = draw(st.sampled_from(
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]))
    grp = draw(st.sampled_from(
        ["l_returnflag", "l_linestatus", "l_linenumber"]))
    agg = draw(st.sampled_from(["sum", "min", "max", "avg", "count"]))
    fcol = draw(st.sampled_from(["l_quantity", "l_discount"]))
    op = draw(st.sampled_from(["<", "<=", ">", ">=", "<>"]))
    lit = draw(st.sampled_from(
        ["1", "5", "10", "25", "49", "0.02", "0.05"]))
    having = draw(st.booleans())
    sql = (f"SELECT {grp} AS g, round({agg}({num}), 4) AS a, "
           f"count(*) AS n FROM lineitem "
           f"WHERE {fcol} {op} {lit} GROUP BY {grp}")
    if having:
        sql += " HAVING count(*) > 3"
    sql += " ORDER BY g"
    return sql


@settings(max_examples=60, deadline=None)
@given(sql=_ansi_sql_specs())
def test_ansi_subset_fuzz_spark_equals_duckdb(spark, sql):
    """Engine-parity fuzz over the shared ANSI subset: the IDENTICAL
    SQL text (filter + group + agg + having + order) must produce
    identical results on Spark and DuckDB over the same parquet.
    Aggregates round to 4 (avg of ~1e4-magnitude sums leaves ~1e-11
    float headroom; round-6 would sit inside summation-order noise)."""
    _, con = _fuzz_setup(spark)
    if "lineitem" not in _FUZZ_STATE:
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                    f"'{_SF_DIR}/lineitem.parquet'")
        _FUZZ_STATE["lineitem"] = True
    srows = [_canon_row(tuple(r)) for r in spark.sql(sql).collect()]
    orows = [_canon_row(tuple(r)) for r in con.execute(sql).fetchall()]
    assert srows == orows, sql


@st.composite
def _ansi_join_specs(draw):
    agg = draw(st.sampled_from(["sum", "min", "max", "count"]))
    num = draw(st.sampled_from(["l_quantity", "l_extendedprice"]))
    grp = draw(st.sampled_from(["o_orderstatus", "o_orderpriority",
                                "l_returnflag"]))
    op = draw(st.sampled_from(["<", ">="]))
    lit = draw(st.sampled_from(["10000", "50000", "150000"]))
    return (f"SELECT {grp} AS g, round({agg}({num}), 4) AS a "
            f"FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
            f"WHERE o_totalprice {op} {lit} "
            f"GROUP BY {grp} ORDER BY g")


@settings(max_examples=30, deadline=None)
@given(sql=_ansi_join_specs())
def test_ansi_join_fuzz_spark_equals_duckdb(spark, sql):
    """Same engine-parity fuzz through a JOIN: identical SQL text over
    orders x lineitem agrees across engines."""
    _, con = _fuzz_setup(spark)
    if "lineitem" not in _FUZZ_STATE:
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                    f"'{_SF_DIR}/lineitem.parquet'")
        _FUZZ_STATE["lineitem"] = True
    srows = [_canon_row(tuple(r)) for r in spark.sql(sql).collect()]
    orows = [_canon_row(tuple(r)) for r in con.execute(sql).fetchall()]
    assert srows == orows, sql


# -- round-6 (VERDICT task #6): window + grouping-set engine parity -------

@st.composite
def _window_sql_specs(draw):
    part = draw(st.sampled_from(
        ["l_returnflag", "l_linestatus", "l_suppkey % 5"]))
    num = draw(st.sampled_from(
        ["l_quantity", "l_extendedprice", "l_discount"]))
    kind = draw(st.sampled_from(["rank", "rows", "range", "offset"]))
    if kind == "rank":
        fn = draw(st.sampled_from(
            ["row_number()", "rank()", "dense_rank()"]))
        over = (f"OVER (PARTITION BY {part} ORDER BY {num}, "
                f"l_orderkey, l_linenumber, l_partkey, l_suppkey)")
        expr = f"{fn} {over}"
    elif kind == "rows":
        # no avg: frame-averages of 2-decimal prices land EXACTLY on
        # round-half boundaries (sum/4 = .xx5), where the engines' 1-ulp
        # summation differences legitimately pick different sides
        agg = draw(st.sampled_from(["sum", "min", "max", "count"]))
        lo = draw(st.sampled_from(["2 PRECEDING", "5 PRECEDING",
                                   "UNBOUNDED PRECEDING"]))
        hi = draw(st.sampled_from(["CURRENT ROW", "1 FOLLOWING",
                                   "3 FOLLOWING"]))
        expr = (f"round({agg}({num}) OVER (PARTITION BY {part} "
                f"ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey "
                f"ROWS BETWEEN {lo} AND {hi}), 2)")
    elif kind == "range":
        agg = draw(st.sampled_from(["sum", "min", "max", "count"]))
        v = draw(st.sampled_from(["5", "10", "1000"]))
        # RANGE frames include all peers of the boundary values, so the
        # result is deterministic even with ties in the order key
        expr = (f"round({agg}({num}) OVER (PARTITION BY {part} "
                f"ORDER BY {num} "
                f"RANGE BETWEEN {v} PRECEDING AND CURRENT ROW), 2)")
    else:
        fn = draw(st.sampled_from(["lag", "lead"]))
        k = draw(st.sampled_from(["1", "2", "7"]))
        expr = (f"round({fn}({num}, {k}) OVER (PARTITION BY {part} "
                f"ORDER BY l_orderkey, l_linenumber, l_partkey, "
                f"l_suppkey), 4)")
    return (f"SELECT l_orderkey, l_linenumber, {expr} AS wv "
            f"FROM lineitem WHERE l_partkey % 7 = 0 "
            f"ORDER BY l_orderkey, l_linenumber")


@settings(max_examples=110, deadline=None)
@given(sql=_window_sql_specs())
def test_window_fuzz_spark_equals_duckdb(spark, sql):
    """Engine-parity fuzz over window functions: ranking, ROWS and
    RANGE frames, lag/lead — identical SQL text, identical results.
    Order keys carry a full tiebreak so ROWS frames and ranking are
    deterministic on both engines; frame AGGREGATES round to 2 because
    DuckDB's sliding-frame aggregation (incremental subtract-add) and
    Spark's differ in float summation order at ~1e-10 — round-4 sits on
    that noise for ~1e4-magnitude sums."""
    _, con = _fuzz_setup(spark)
    if "lineitem" not in _FUZZ_STATE:
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                    f"'{_SF_DIR}/lineitem.parquet'")
        _FUZZ_STATE["lineitem"] = True
    def _key(t):  # None-safe total order (lead/lag emit NULLs)
        return tuple((v is None, 0 if v is None else v) for v in t)
    srows = sorted((_canon_row(tuple(r))
                    for r in spark.sql(sql).collect()), key=_key)
    orows = sorted((_canon_row(tuple(r))
                    for r in con.execute(sql).fetchall()), key=_key)
    assert srows == orows, sql


@st.composite
def _grouping_sql_specs(draw):
    g1, g2 = draw(st.sampled_from(
        [("l_returnflag", "l_linestatus"),
         ("l_linestatus", "l_linenumber"),
         ("l_returnflag", "l_linenumber")]))
    agg = draw(st.sampled_from(["sum", "min", "max", "avg", "count"]))
    num = draw(st.sampled_from(["l_quantity", "l_extendedprice"]))
    shape = draw(st.sampled_from([
        "ROLLUP({g1}, {g2})", "CUBE({g1}, {g2})",
        "GROUPING SETS (({g1}, {g2}), ({g1}), ())",
        "GROUPING SETS (({g1}), ({g2}))"]))
    fil = draw(st.sampled_from(
        ["", " WHERE l_quantity < 25", " WHERE l_partkey % 3 = 0"]))
    grp = shape.format(g1=g1, g2=g2)
    return (f"SELECT {g1} AS a, {g2} AS b, "
            f"grouping({g1}) AS ga, grouping({g2}) AS gb, "
            f"round({agg}({num}), 4) AS v, count(*) AS n "
            f"FROM lineitem{fil} GROUP BY {grp} "
            f"ORDER BY a NULLS FIRST, b NULLS FIRST, ga, gb")


@settings(max_examples=110, deadline=None)
@given(sql=_grouping_sql_specs())
def test_grouping_sets_fuzz_spark_equals_duckdb(spark, sql):
    """Engine-parity fuzz over ROLLUP/CUBE/GROUPING SETS with
    grouping() markers — identical SQL text, identical results (NULL
    placement pinned with explicit NULLS FIRST)."""
    _, con = _fuzz_setup(spark)
    if "lineitem" not in _FUZZ_STATE:
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                    f"'{_SF_DIR}/lineitem.parquet'")
        _FUZZ_STATE["lineitem"] = True
    srows = [_canon_row(tuple(r)) for r in spark.sql(sql).collect()]
    orows = [_canon_row(tuple(r)) for r in con.execute(sql).fetchall()]
    assert srows == orows, sql


# ---------------------------------------------------------------------------
# exact cross-corpus contamination == python brute force, adversarial shapes
# ---------------------------------------------------------------------------

@st.composite
def _split_corpora(draw):
    n_train = draw(st.integers(min_value=1, max_value=5))
    n_eval = draw(st.integers(min_value=1, max_value=5))
    mk = lambda i: (i, " ".join(draw(st.lists(  # noqa: E731
        st.sampled_from(_WORDS), min_size=0, max_size=10))))
    # eval ids deliberately OVERLAP train ids (the tagged union must
    # keep them distinct)
    train = [mk(i) for i in range(n_train)]
    ev = [mk(i) for i in range(n_eval)]
    n = draw(st.integers(min_value=1, max_value=4))
    return train, ev, n


@settings(max_examples=8, deadline=None)
@given(corpus=_split_corpora())
def test_exact_contamination_fuzz_vs_python(spark, corpus):
    """Differential fuzz over duplicate-heavy tiny corpora (empty docs,
    colliding train/eval ids, n from 1 to > doc length): suffix-rank
    contamination spans equal the brute-force gram intersection."""
    from legend_community_delta_spark.operators.suffix import (
        exact_contamination_spans)
    train_rows, eval_rows, n = corpus
    tg = {}
    for _i, text in train_rows:
        ts = text.split()
        for s in range(len(ts) - n + 1):
            g = tuple(ts[s:s + n])
            tg[g] = tg.get(g, 0) + 1
    ref = sorted(
        (i, s + 1, tg[tuple(text.split()[s:s + n])])
        for i, text in eval_rows
        for s in range(len(text.split()) - n + 1)
        if tuple(text.split()[s:s + n]) in tg)
    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    ev = spark.createDataFrame(eval_rows, "doc_id long, text string")
    got = sorted((r["doc_id"], r["s"], r["n_train_occ"]) for r in
                 exact_contamination_spans(train, ev, n=n).collect())
    assert got == ref


# ---------------------------------------------------------------------------
# heavy hitters: CMS cell filter + exact recount == naive groupBy
# ---------------------------------------------------------------------------

@st.composite
def _hh_corpora(draw):
    # tiny alphabet + heavy duplication + brutal widths so cells
    # collide constantly — the exactness claim must survive ALL of it
    items = draw(st.lists(
        st.sampled_from([f"w{i}" for i in range(12)]),
        min_size=1, max_size=80))
    min_count = draw(st.integers(min_value=1, max_value=8))
    width_exp = draw(st.sampled_from([1, 2, 4, 8]))
    depth = draw(st.integers(min_value=1, max_value=3))
    return items, min_count, width_exp, depth


@settings(max_examples=12, deadline=None)
@given(corpus=_hh_corpora())
def test_heavy_hitters_fuzz_equals_bruteforce(spark, corpus):
    """Differential fuzz: at ANY width/depth (including width 2, where
    nearly every cell saturates) the cell-filtered result equals the
    naive groupBy-count threshold exactly — the filter is a pigeonhole
    superset, never a sampler."""
    from collections import Counter
    from legend_community_delta_spark.operators.sketches import (
        heavy_hitters)
    items, min_count, width_exp, depth = corpus
    df = spark.createDataFrame([(x,) for x in items], "item string")
    got = {(r["item"], r["n_occurrences"]) for r in
           heavy_hitters(df, "item", min_count, width_exp=width_exp,
                         depth=depth).collect()}
    want = {(w, n) for w, n in Counter(items).items() if n >= min_count}
    assert got == want


# ---------------------------------------------------------------------------
# property 16: Z-order key math vs pure-python reference (round 9)
# ---------------------------------------------------------------------------

@st.composite
def _zorder_cases(draw):
    k = draw(st.integers(min_value=1, max_value=4))
    bits = draw(st.integers(min_value=1, max_value=63 // k))
    rows = draw(st.lists(
        st.tuples(*[st.integers(min_value=0, max_value=(1 << bits) - 1)
                    for _ in range(k)]),
        min_size=1, max_size=25))
    cuts = sorted(set(draw(st.lists(
        st.integers(min_value=-50, max_value=50), max_size=10))))
    vals = draw(st.lists(
        st.one_of(st.none(), st.integers(min_value=-60, max_value=60)),
        min_size=1, max_size=25))
    return k, bits, rows, cuts, vals


@settings(max_examples=12, deadline=None)
@given(case=_zorder_cases())
def test_zorder_key_fuzz_vs_python(spark, case):
    """Differential fuzz: the Column-algebra Morton interleave and the
    equi-depth bucket code equal a pure-python bit/bisect reference for
    arbitrary widths, dimension counts, cut lists, and null values."""
    import bisect
    from pyspark.sql import functions as F
    from legend_community_delta_spark.operators.layout import (
        bucket_code, zorder_key)
    k, bits, rows, cuts, vals = case

    df = spark.createDataFrame(
        rows, ", ".join(f"c{j} long" for j in range(k)))
    got = [r["z"] for r in df.select(zorder_key(
        [F.col(f"c{j}") for j in range(k)], bits).alias("z")).collect()]

    def py_morton(codes):
        z = 0
        for i in range(bits):
            for j, c in enumerate(codes):
                z |= ((c >> i) & 1) << (i * k + j)
        return z

    assert got == [py_morton(r) for r in rows]

    vdf = spark.createDataFrame([(v,) for v in vals], "v long")
    got_codes = [r["c"] for r in
                 vdf.select(bucket_code("v", cuts).alias("c")).collect()]
    want_codes = [0 if v is None else bisect.bisect_right(cuts, v)
                  for v in vals]
    assert got_codes == want_codes


# ---------------------------------------------------------------------------
# property 17: C4/Gopher cleaning rules — Spark vs DuckDB on random text
# ---------------------------------------------------------------------------

_C4_WORDS = ["alpha", "beta", "gamma", "delta", "words", "the", "of",
             "javascript", "lorem", "ipsum", "#tag", "a...", "{x}",
             "1234", "-", "very", "long", "line", "item", "done"]


@st.composite
def _clean_docs(draw):
    docs = []
    for i in range(draw(st.integers(min_value=1, max_value=6))):
        lines = []
        for _ in range(draw(st.integers(min_value=0, max_value=5))):
            ws = draw(st.lists(st.sampled_from(_C4_WORDS),
                               min_size=0, max_size=9))
            end = draw(st.sampled_from(["", ".", "!", "?", '"', "..."]))
            lines.append(" ".join(ws) + end)
        docs.append((i, "\n".join(lines)))
    return docs


def _clean_canon(rows):
    out = []
    for r in rows:
        vals = []
        for v in r:
            if isinstance(v, float):
                v = round(v, 4)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


_C4_FUZZ_SQL = r"""
WITH t AS (
  SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM fuzz_docs
), k AS (
  SELECT doc_id, text, lines,
         list_filter(lines, l ->
           len(list_filter(string_split_regex(l, '\s+'), w -> w <> '')) >= 5
           AND regexp_matches(l, '[.!?"]\s*$')
           AND NOT contains(lower(l), 'javascript')) AS kept
  FROM t
), c AS (
  SELECT doc_id, text, lines, kept,
         coalesce(array_to_string(kept, chr(10)), '') AS clean_text FROM k
), m AS (
  SELECT doc_id, text, lines, kept, clean_text,
         CAST(length(clean_text)
              - length(regexp_replace(clean_text, '[.!?]', '', 'g')) AS INT)
           AS n_sentences,
         (contains(lower(text), 'lorem ipsum')
          OR contains(lower(text), 'terms of use')
          OR contains(lower(text), 'privacy policy')
          OR contains(lower(text), 'cookie policy')
          OR contains(lower(text), 'uses cookies')
          OR contains(lower(text), 'use of cookies')) AS has_blocklist,
         contains(text, '{') AS has_brace
  FROM c
)
SELECT doc_id, len(lines) AS n_lines, len(kept) AS n_kept_lines,
       n_sentences, has_blocklist, has_brace,
       (len(kept) > 0 AND n_sentences >= 3
        AND NOT has_blocklist AND NOT has_brace) AS keep_doc,
       clean_text
FROM m
"""

_GOPHER_FUZZ_SQL = r"""
WITH w AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws,
         string_split(text, chr(10)) AS lines
  FROM fuzz_docs
), m AS (
  SELECT doc_id,
         len(ws) AS n_words,
         round(coalesce(list_sum(list_transform(ws, x -> length(x))), 0) * 1.0
               / greatest(len(ws), 1), 4) AS mean_word_len,
         round((length(text) - length(replace(text, '#', ''))
                + floor((length(text)
                         - length(replace(text, '...', ''))) / 3)) * 1.0
               / greatest(len(ws), 1), 4) AS symbol_word_ratio,
         round(len(list_filter(lines,
                 l -> regexp_matches(l, '^\s*([-*•]|[0-9]+[.)])\s')))
               * 1.0 / greatest(len(lines), 1), 4) AS bullet_frac,
         round(len(list_filter(lines, l -> regexp_matches(l, '\.\.\.\s*$')))
               * 1.0 / greatest(len(lines), 1), 4) AS ellipsis_frac,
         round(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))
               * 1.0 / greatest(len(ws), 1), 4) AS alpha_word_frac,
         len(list_intersect(
             list_distinct(list_transform(ws, x -> lower(x))),
             ['the','be','to','of','and','that','have','with']))
           AS stopword_hits
  FROM w
)
SELECT doc_id, n_words, mean_word_len, symbol_word_ratio, bullet_frac,
       ellipsis_frac, alpha_word_frac, stopword_hits
FROM m
"""


@settings(max_examples=12, deadline=None)
@given(docs=_clean_docs())
# pinned falsifier (found by this fuzz on its first run): empty text —
# DuckDB list_sum([]) is NULL where the Spark fold's init is 0; the
# oracle needs coalesce(..., 0) to match the operator
@example(docs=[(0, "")])
def test_cleaning_fuzz_spark_equals_duckdb(spark, docs):
    """Engine-parity fuzz for the published cleaning rules: c4_clean
    and gopher_gates (metric columns) must equal an independent DuckDB
    formulation on arbitrary constructed multi-line text — punctuation,
    blocklist phrases, braces, symbols, bullets, empty lines and all.
    This is the same-oracle-forever guarantee behind the c4_clean_docs
    / gopher_gates_docs contract entries, stressed beyond the fixture's
    single-line punctuation-free corpus."""
    import duckdb
    import pandas as pd
    from legend_community_delta_spark.operators.cleaning import (
        c4_clean, gopher_gates)

    sdf = spark.createDataFrame(docs, "doc_id int, text string")
    con = duckdb.connect()
    con.register("fuzz_docs", pd.DataFrame(docs,
                                           columns=["doc_id", "text"]))

    got = _clean_canon(tuple(r) for r in c4_clean(sdf).collect())
    want = _clean_canon(con.execute(_C4_FUZZ_SQL).fetchall())
    assert got == want

    gcols = ["doc_id", "n_words", "mean_word_len", "symbol_word_ratio",
             "bullet_frac", "ellipsis_frac", "alpha_word_frac",
             "stopword_hits"]
    got_g = _clean_canon(
        tuple(r[c] for c in gcols) for r in gopher_gates(sdf).collect())
    want_g = _clean_canon(con.execute(_GOPHER_FUZZ_SQL).fetchall())
    assert got_g == want_g


# ---------------------------------------------------------------------------
# property 18: cluster_by_zorder end-to-end on arbitrary frames (round 9)
# ---------------------------------------------------------------------------

@st.composite
def _zcluster_frames(draw):
    n = draw(st.integers(min_value=1, max_value=40))
    rows = [(draw(st.one_of(st.none(),
                            st.integers(min_value=-100, max_value=100))),
             draw(st.sampled_from(["aa", "bb", "cc", "zz"])),
             i)
            for i in range(n)]
    bits = draw(st.sampled_from([1, 3, 6]))
    files = draw(st.integers(min_value=1, max_value=3))
    return rows, bits, files


@settings(max_examples=6, deadline=None)
@given(case=_zcluster_frames())
def test_zorder_cluster_fuzz_end_to_end(spark, case, tmp_path_factory):
    """End-to-end fuzz of the layout rewrite: for arbitrary frames
    (nulls, negatives, strings, single-row, constant columns) the
    clustered output preserves the row multiset exactly, and the
    parquet footers' per-file [min, max] really bound every row in
    that file (the invariant all pruning soundness rests on)."""
    from legend_community_delta_spark.operators.layout import (
        cluster_by_zorder, file_skipping_stats)
    rows, bits, files = case
    df = spark.createDataFrame(rows, "a long, s string, id long")
    out = cluster_by_zorder(df, ["a", "s"], target_files=files,
                            bits=bits, sample_rows=50)
    none_safe = lambda r: ((r[0] is None, r[0]), r[1], r[2])  # noqa: E731
    assert (sorted(map(tuple, out.collect()), key=none_safe)
            == sorted(map(tuple, rows), key=none_safe))
    path = str(tmp_path_factory.mktemp("zfuzz"))
    out.write.mode("overwrite").parquet(path)
    stats = {(r["file"], r["col"]): r for r in
             file_skipping_stats(spark, path, ["a", "s"]).collect()}
    from pyspark.sql import functions as F
    truth = (spark.read.parquet(path)
             .groupBy(F.input_file_name().alias("f"))
             .agg(F.min("a").alias("amn"), F.max("a").alias("amx"),
                  F.min("s").alias("smn"), F.max("s").alias("smx"))
             .collect())
    for t in truth:
        fa = [v for (f, c), v in stats.items()
              if f == t["f"].replace("file://", "").replace("file:", "")
              and c == "a"]
        fs = [v for (f, c), v in stats.items()
              if f == t["f"].replace("file://", "").replace("file:", "")
              and c == "s"]
        assert fa and fs
        if t["amn"] is not None:           # all-null files carry no bound
            assert int(fa[0]["min_value"]) <= t["amn"]
            assert int(fa[0]["max_value"]) >= t["amx"]
        assert fs[0]["min_value"] <= t["smn"]
        assert fs[0]["max_value"] >= t["smx"]

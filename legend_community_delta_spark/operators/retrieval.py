"""BM25 full-text retrieval over a document corpus — pure Column algebra.

The retrieval side of a training-data pipeline: given a small set of
keyword queries (eval prompts, decontamination probes, curation topics),
rank corpus documents by Okapi BM25 and return the top-k per query.

Scale shape (the part that matters at 100 TB):

* the query set is TINY and the corpus is huge, so the per-term postings
  are filtered by a **broadcast semi-join with the query terms before
  any aggregation** — the full-corpus term explode never shuffles; only
  rows whose token appears in some query survive the map side;
* corpus-level scalars (N docs, average doc length) are one tiny
  aggregate broadcast-crossed back in (one row — not a shuffle);
* document frequencies are computed from the already-filtered postings
  (|query vocab| keys, not |corpus vocab|);
* top-k per query is a window over the query partition — queries are the
  partition key, so parallelism is bounded by the query count and no
  SinglePartition sort appears for multi-query batches.

Everything is built-in ``pyspark.sql.functions`` (whole-stage codegen);
no UDFs.  Extension surface: the reference (legend-community-delta) has
no retrieval operator; this is the corpus-probing path an LLM-data
pipeline runs for decontamination triage and topic audits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import local_df
from ..functions import text as TX


def doc_postings(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Per-document term frequencies plus document length:
    ``(doc_id, tok, tf, dl)`` — lowercased whitespace tokens.

    ``dl`` counts ALL token occurrences (BM25's length normalization is
    over the full document, not the distinct vocabulary)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.transform(TX.tokens(text_col),
                              lambda t: F.lower(t))).alias("tok"),
        F.size(TX.tokens(text_col)).alias("dl"),
    )
    return (toks.groupBy("doc_id", "tok", "dl")
            .agg(F.count(F.lit(1)).alias("tf")))


def _query_terms(queries: DataFrame) -> DataFrame:
    """Distinct lowercased terms per query: ``(query_id, tok)``."""
    return queries.select(
        "query_id",
        F.explode(F.array_distinct(F.transform(
            TX.tokens("query"), lambda t: F.lower(t)))).alias("tok"))


def _corpus_stats(docs: DataFrame, text_col: str) -> DataFrame:
    """One row ``(n_docs, avgdl)`` over the whole corpus."""
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        # NULL text must be IGNORED by the average (size() on a NULL
        # token array yields -1 under Spark's legacy sizeOfNull, which
        # would skew avgdl; SQL AVG skips NULLs, matching the oracle)
        F.avg(F.when(F.col(text_col).isNotNull(),
                     F.size(TX.tokens(text_col)))).alias("avgdl"))


def _bm25_rank(hit: DataFrame, qterms: DataFrame, stats: DataFrame,
               k: int, k1: float, b: float) -> DataFrame:
    """Shared scoring tail: *hit* = query-term postings ``(tok, doc_id,
    tf, dl)``, *stats* = one row ``(n_docs, avgdl)``.  Both the in-flight
    and the persisted-index paths end here, so their results are
    identical by construction."""
    df_tok = hit.groupBy("tok").agg(
        F.count_distinct("doc_id").alias("df"))
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    tf_norm = (F.col("tf") * (k1 + 1)
               / (F.col("tf") + k1 * (1 - b + b * F.col("dl")
                                      / F.col("avgdl"))))
    contrib = (hit
               .join(F.broadcast(df_tok), "tok")
               .crossJoin(F.broadcast(stats))
               .select("tok", "doc_id",
                       (idf * tf_norm).alias("w")))
    scored = (contrib.join(F.broadcast(qterms), "tok")
              .groupBy("query_id", "doc_id")
              .agg(F.round(F.sum("w"), 6).alias("score")))
    rn = F.row_number().over(
        Window.partitionBy("query_id")
        .orderBy(F.desc("score"), F.col("doc_id")))
    return (scored.withColumn("rank", rn)
            .where(F.col("rank") <= k)
            .select("query_id", "doc_id", "score", "rank"))


def bm25_topk(docs: DataFrame, queries: DataFrame, k: int = 10,
              k1: float = 1.2, b: float = 0.75,
              text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Top-*k* documents per query by Okapi BM25.

    *queries* is ``(query_id, query)`` — whitespace keyword strings.
    Returns ``(query_id, doc_id, score, rank)``; ``score`` is rounded to
    6 decimals BEFORE ranking so the ordering is engine-portable, ties
    broken by ``doc_id``.

    idf uses the always-positive BM25+ style ``ln(1 + (N - df + .5) /
    (df + .5))``; a query term absent from the corpus contributes 0 by
    construction (no posting rows join it).
    """
    qterms = _query_terms(queries)
    post = doc_postings(docs, text_col, id_col)
    # broadcast the tiny query-term set; postings for non-query terms
    # drop map-side before any shuffle.  The surviving slice (query-term
    # postings only) feeds BOTH the df aggregate and the scoring join —
    # materialize it once so the corpus tokenization runs once, not
    # twice (measured 3.1 s -> 2.5 s warm at sf0.1).
    hit = (post.join(F.broadcast(qterms.select("tok").distinct()), "tok")
           .localCheckpoint(eager=True))
    stats = _corpus_stats(docs, text_col)
    return _bm25_rank(hit, qterms, stats, k, k1, b)


def write_bm25_index(docs: DataFrame, path: str, text_col: str = "text",
                     id_col: str = "doc_id", prefix_len: int = 2) -> None:
    """Persist an inverted index: the postings ``(tok, doc_id, tf, dl)``
    written as parquet **partitioned by md5-prefix term bucket**
    (``16**prefix_len`` directories) plus a one-row corpus-stats footer.

    The repeated-retrieval scale path: build once, then every query
    reads ONLY its terms' buckets via partition pruning —
    ``|query terms| / 16**prefix_len`` of the index instead of
    re-tokenizing the corpus per query batch.  The footer also records
    the postings schema: an empty corpus leaves no postings file to
    infer it from, and its index still answers (with no rows)."""
    post = doc_postings(docs, text_col, id_col) \
        .withColumn("__bkt", F.substring(F.md5("tok"), 1, prefix_len))
    post.write.mode("overwrite").partitionBy("__bkt") \
        .parquet(f"{path}/postings")
    stats = _corpus_stats(docs, text_col)
    (stats.withColumn("prefix_len", F.lit(int(prefix_len)))
     .withColumn("postings_schema", F.lit(post.schema.json()))
     .coalesce(1).write.mode("overwrite").parquet(f"{path}/meta"))


def query_bm25_index(spark, path: str, queries: DataFrame, k: int = 10,
                     k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Top-k per query against a :func:`write_bm25_index` index —
    IDENTICAL results to :func:`bm25_topk` over the indexed corpus (the
    scoring tail is shared code).

    The query table is driver-sized by definition, so its terms are
    hashed driver-side into an IN-list on the partition column — plans
    show ``PartitionFilters: [__bkt IN (...)]`` and the scan touches
    only the probed buckets.  Document frequency is recomputed from the
    pruned postings (pruning is by TERM, so each surviving term's
    posting list is complete — its df is exact)."""
    import hashlib
    import json

    from pyspark.sql.types import StructType

    meta = spark.read.parquet(f"{path}/meta").first()
    schema = StructType.fromJson(json.loads(meta.postings_schema))
    qterms = _query_terms(queries)
    terms = sorted({r.tok for r in qterms.select("tok")
                    .distinct().collect()})
    buckets = sorted({hashlib.md5(t.encode("utf-8")).hexdigest()
                      [:int(meta.prefix_len)] for t in terms})
    hit = (spark.read.schema(schema).parquet(f"{path}/postings")
           .where(F.col("__bkt").isin(buckets))
           .where(F.col("tok").isin(terms))
           .select("tok", "doc_id", "tf", "dl"))
    stats = local_df(spark, [(meta.n_docs, meta.avgdl)],
                     "n_docs long, avgdl double")
    return _bm25_rank(hit, qterms, stats, k, k1, b)

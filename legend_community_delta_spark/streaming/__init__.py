"""Structured Streaming over the same Legend model contract.

The reference's README advertises "stream or batch" but ships no streaming
code (SURVEY §1.1); this module supplies it the Spark-native way:

* :func:`read_stream` — ``readStream`` with the model-enforced schema;
* :func:`validate_stream` — the same expectation column as batch
  ``legend_validate`` (one SQL projection works identically on streams);
* :func:`windowed_dq_metrics` — watermarked tumbling-window counts of rule
  violations (late data handled by the watermark, state bounded);
* :func:`write_validated` — sink helper with ``foreachBatch`` quarantine:
  clean rows append to the target table, violating rows to a quarantine
  table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..dataframe import legend_validate
from ..legend import Legend


def read_stream(legend: Legend, entity_or_mapping: str, path: str,
                fmt: str = "json", **options) -> DataFrame:
    """Schema-enforced streaming read (schema from the model, never inferred
    — inference would require a blocking scan and can drift)."""
    schema = legend.get_schema(entity_or_mapping)
    reader = legend.spark.readStream.schema(schema).format(fmt)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def validate_stream(df: DataFrame, expectations: dict[str, str],
                    column: str = "legend") -> DataFrame:
    """Identical validation as batch — streams need no UDF either; the
    projection is stateless so it adds nothing to state size."""
    return legend_validate(df, expectations, column)


def windowed_dq_metrics(df: DataFrame, expectations: dict[str, str],
                        ts_col: str, window: str = "1 minute",
                        watermark: str = "5 minutes",
                        column: str = "legend") -> DataFrame:
    """Violation counts per (window, rule) with a watermark bound on state."""
    validated = df if column in df.columns else legend_validate(df, expectations, column)
    return (validated
            .withWatermark(ts_col, watermark)
            .select(F.col(ts_col), F.explode(F.col(column)).alias("rule"))
            .groupBy(F.window(F.col(ts_col), window).alias("window"), "rule")
            .agg(F.count(F.lit(1)).alias("violations")))


def interval_join_stream(left: DataFrame, right: DataFrame,
                         on: str | list[str], left_ts: str, right_ts: str,
                         interval: str = "1 hour",
                         watermark: str = "10 minutes") -> DataFrame:
    """Watermarked stream-stream inner join: left rows matched to right
    rows with the same key and ``right_ts <= left_ts < right_ts +
    interval`` — the continuous-deployment twin of the availableNow
    backfill in the demo's ``stream_stream_join``.

    Both sides carry the watermark and the join condition bounds event
    time from BOTH directions, so Spark can expire join state as the
    watermark advances — without that, stream-stream state grows
    forever.  Timestamps must be ``TIMESTAMP`` (watermarks reject
    TIMESTAMP_NTZ; cast first — both sides shift identically so the
    relative interval is preserved).  Inner-join results are complete
    regardless of watermark (it bounds state, not matches); use outer
    variants only with watermarks this helper already requires.
    """
    keys = [on] if isinstance(on, str) else list(on)
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    renames = {k: f"__r_{k}" for k in keys}
    for k, rk in renames.items():
        rw = rw.withColumnRenamed(k, rk)
    cond = F.lit(True)
    for k, rk in renames.items():
        cond = cond & (F.col(k) == F.col(rk))
    cond = (cond
            & (F.col(left_ts) >= F.col(right_ts))
            & (F.col(left_ts) < F.col(right_ts)
               + F.expr(f"INTERVAL {interval}")))
    return lw.join(rw, cond).drop(*renames.values())


def write_validated(df: DataFrame, target_table: str,
                    quarantine_table: str | None = None,
                    checkpoint: str | None = None,
                    column: str = "legend", **trigger):
    """Stream sink with quarantine split via foreachBatch.

    Clean rows (no violated rules) append to *target_table*; violators to
    *quarantine_table* (if given).  foreachBatch keeps both writes in one
    micro-batch transaction boundary per sink.
    """

    def sink(batch: DataFrame, _batch_id: int) -> None:
        clean = batch.where(F.size(F.col(column)) == 0).drop(column)
        clean.write.mode("append").saveAsTable(target_table)
        if quarantine_table is not None:
            dirty = batch.where(F.size(F.col(column)) > 0)
            dirty.write.mode("append").saveAsTable(quarantine_table)

    writer = df.writeStream.foreachBatch(sink)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def decontaminate_stream(stream: DataFrame, eval_df: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         n: int = 5,
                         group_cols: list[str] | None = None) -> DataFrame:
    """Continuous-ingest contamination screen: per-doc n-gram overlap of a
    document STREAM against a static eval corpus — the streaming face of
    :func:`..operators.dedup.contamination_report`.

    The eval side collapses once to a distinct-gram batch DataFrame and
    the exploded stream grams stream-static left-join against it (the
    supported join class: stream on the left, bounded static on the
    right), then one stateful aggregation keyed by doc produces
    ``(id [, group_cols...], n_grams, n_hit, contamination_frac)``.
    Zero-gram docs survive via ``explode_outer`` with fraction 0.0.

    One stateful aggregation only (chained stream aggs are not generally
    supported): write with ``outputMode("complete"/"update")``, or wrap
    the downstream keep/drop filter in ``foreachBatch``.  State is one
    row per doc — bounded by the micro-batch id space, and with
    ``trigger(availableNow=True)`` backfills behave like the batch
    operator (equality pinned against it in the contract oracle).
    """
    from ..functions.text import word_ngrams

    keep = list(group_cols or [])
    grams = stream.select(
        F.col(id_col).alias("__id"), *keep,
        F.explode_outer(F.array_distinct(word_ngrams(text_col, n)))
        .alias("gram"))
    tg = (eval_df.select(F.explode(F.array_distinct(
        word_ngrams(text_col, n))).alias("gram"))
        .distinct().withColumn("__hit", F.lit(1)))
    return (grams.join(tg, "gram", "left")
            .groupBy("__id", *keep)
            .agg(F.count("gram").alias("n_grams"),
                 F.coalesce(F.sum("__hit"), F.lit(0)).alias("n_hit"))
            .select(F.col("__id").alias(id_col), *keep,
                    "n_grams", "n_hit",
                    F.when(F.col("n_grams") > 0,
                           F.col("n_hit").cast("double") / F.col("n_grams"))
                    .otherwise(F.lit(0.0)).alias("contamination_frac")))


def surprisal_stream(stream: DataFrame, model_df: DataFrame,
                     text_col: str = "text", id_col: str = "doc_id",
                     oov_count: int = 1) -> DataFrame:
    """Streaming quality gate: per-doc mean unigram surprisal of a
    document STREAM priced against a STATIC reference corpus — the
    streaming face of :func:`..operators.scoring.unigram_surprisal`
    (continuous-ingest perplexity-proxy filtering).

    The model side collapses once to a batch ``(token, count)`` frame;
    exploded stream tokens stream-static left-join against it (stream
    left, bounded static right — the supported class), then one stateful
    aggregation keyed by doc.  Tokens ABSENT from the model are priced
    at ``oov_count`` (default 1 — the hapax floor; the batch operator
    never sees OOV because the corpus is its own model).  The model's
    total token count is a plan-build scalar (metadata-sized driver
    value, same class as the k-means centroids in similarity.py).

    Token-less docs: ``n_tokens = 0`` and NULL surprisal, matching the
    batch operator.  With ``trigger(availableNow=True)`` and a model
    equal to the streamed corpus, backfills equal the batch operator
    exactly — that equality is the contract oracle.
    """
    import math as _math

    from ..functions.text import tokens as _tokens
    from ..operators.scoring import unigram_counts

    counts = unigram_counts(model_df, text_col)
    total = counts.agg(F.sum("n")).first()[0] or 0
    ln_total = _math.log(total) if total > 0 else 0.0
    toks = stream.select(F.col(id_col).alias("__id"),
                         F.explode_outer(_tokens(text_col)).alias("token"))
    priced = toks.join(counts.withColumnRenamed("n", "__c"), "token", "left")
    return (priced.groupBy("__id")
            .agg(F.count("token").alias("n_tokens"),
                 # null-token rows (empty docs) must NOT contribute a
                 # fake ln(oov) term: leave them NULL so avg skips them
                 F.avg(F.when(F.col("token").isNotNull(),
                              F.log(F.coalesce(F.col("__c"),
                                               F.lit(int(oov_count))))))
                 .alias("__avg_ln_c"))
            .select(F.col("__id").alias(id_col),
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    F.when(F.col("n_tokens") > 0,
                           F.lit(ln_total) - F.col("__avg_ln_c"))
                    .otherwise(F.lit(None).cast("double"))
                    .alias("mean_neg_logprob")))


def span_dedup_stream(stream: DataFrame, spark: SparkSession,
                      store_path: str, text_col: str = "text",
                      id_col: str = "doc_id",
                      min_count: int = 2) -> DataFrame:
    """Streaming duplicate-span gate: documents arriving on a stream are
    cleaned against a PERSISTED span store (``spans.write_span_store``)
    — the continuous-ingest face of ``spans.duplicate_span_stats``.

    A window in a streamed doc is removed iff the store already holds it
    ``min_count``-plus times; the flagged-window set is a bounded static
    side (store counts filtered once at plan build), so the hot path is
    one stream-static join on the 8-byte window hash plus one stateful
    aggregation keyed by doc.  Within-STREAM repetition is deliberately
    not counted (that would need unbounded cross-batch window state) —
    the batch/incremental operators own exact merge semantics; this gate
    prices arrivals against history.

    With the store built from the streamed corpus itself and
    ``trigger(availableNow=True)``, the backfill equals the batch
    operator exactly — that equality is the contract oracle.  Returns
    the batch schema ``(id, n_tokens, n_removed, clean_text)``.
    """
    from ..functions.text import unit_array
    from ..operators.spans import _cleaned, _windows, read_span_store

    # the store footer owns n and the unit, so char-level stores flow
    # through the gate with no API change
    counts, n, unit = read_span_store(spark, store_path)
    flagged = (counts.where(F.col("cnt") >= min_count)
               .select("gh", F.lit(1).alias("__dup")))
    base = stream.select(F.col(id_col).alias("__id"),
                         unit_array(text_col, unit).alias("__toks"))
    windows = base.select("__id", "__toks",
                          F.explode_outer(_windows(n)).alias("g"))
    priced = (windows
              .withColumn("gh", F.col("g.gh"))
              .join(flagged, "gh", "left")
              .groupBy("__id")
              .agg(F.first("__toks").alias("__toks"),
                   F.collect_set(F.when(F.col("__dup") == 1, F.col("g.s")))
                   .alias("__starts")))
    return priced.select(*_cleaned(F.col("__id").alias(id_col),
                                   F.col("__starts"), n, unit))


def nb_score_stream(stream: DataFrame, model_wide: DataFrame,
                    stats_rows: list, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Streaming classifier gate: documents arriving on a stream are
    scored against a FROZEN Naive Bayes model (``classify.nb_train`` /
    ``nb_model_wide``) — the continuous-ingest face of
    ``classify.nb_score``: quality/domain-filter every batch with a
    model trained once on a labeled seed set.

    Shape: per-row DISTINCT-token counts (``array_distinct`` + a
    higher-order count over the row's own token array — stateless, so
    the pipeline keeps exactly ONE stateful aggregation), a
    stream-static broadcast join against the pivoted per-token log-prob
    columns, one stateful aggregation (per-class ``cnt * logp`` sums +
    in-vocab token count), then a stateless projection that applies the
    OOV floor as a SINGLE ``(n_tok - known_cnt) * log_oov`` multiply and
    the argmax fold — scores rounded to 6, ties to the ascending label.
    The per-(doc, token) multiplication set is IDENTICAL to the batch
    scorer's (``classify.nb_score`` sums ``cnt * logp`` per distinct
    token and one OOV multiply), so round-6 score parity cannot drift
    with corpus size the way per-occurrence summation could.  Returns
    ``(doc_id, pred_label, score)``; write with
    ``outputMode("complete"/"update")`` or wrap the keep/drop filter in
    ``foreachBatch``.
    """
    from ..functions.text import tokens as _tokens

    arr = stream.select(
        F.col(id_col).alias("doc_id"),
        F.transform(_tokens(text_col), lambda t: F.lower(t))
        .alias("__toks"))
    # explode_outer keeps empty docs (NULL tok, cnt 0 -> prior fallback).
    # NULL-text guard must be an explicit when(): under legacy sizeOfNull
    # size(NULL array) is -1 (not NULL), so coalesce(size(..), 0) would
    # give __ntok = -1 and add a spurious -log_oov to every class score,
    # breaking parity with classify.nb_score (which scores NULL-text
    # docs at the bare prior).
    ex = arr.select(
        "doc_id", "__toks",
        F.when(F.col("__toks").isNull(), F.lit(0))
        .otherwise(F.size("__toks")).alias("__ntok"),
        F.explode_outer(F.array_distinct("__toks")).alias("tok"))
    cnts = ex.select(
        "doc_id", "__ntok", "tok",
        F.size(F.filter("__toks",
                        lambda t: t == F.col("tok"))).alias("cnt"))
    joined = cnts.join(
        F.broadcast(model_wide.withColumn("__iv", F.lit(1))),
        "tok", "left")
    aggs = [F.max("__ntok").alias("__ntok"),
            F.sum(F.when(F.col("__iv") == 1, F.col("cnt"))
                  .otherwise(F.lit(0))).alias("__kc")]
    for i, r in enumerate(stats_rows):
        aggs.append(F.sum(F.when(F.col("__iv") == 1,
                                 F.col("cnt") * F.col(r.label))
                          .otherwise(F.lit(0.0))).alias(f"__s{i}"))
    agg = joined.groupBy("doc_id").agg(*aggs)
    pred = None
    for i, r in enumerate(stats_rows):  # ascending label order
        cand = F.struct(
            F.round(F.col(f"__s{i}")
                    + (F.col("__ntok") - F.col("__kc"))
                    * F.lit(float(r.log_oov))
                    + F.lit(float(r.log_prior)), 6)
            .alias("score"),
            F.lit(r.label).alias("label"))
        # strictly-greater keeps the earlier (smaller) label on ties
        pred = cand if pred is None else F.when(
            cand["score"] > pred["score"], cand).otherwise(pred)
    return agg.select("doc_id", pred["label"].alias("pred_label"),
                      pred["score"].alias("score"))


def psi_drift_stream(stream: DataFrame, baseline_counts: list,
                     baseline_total: int, value_col: str,
                     period_col, n_bins: int = 10, lo: float = 0.0,
                     hi: float = 500.0) -> DataFrame:
    """Streaming drift monitor: per-period PSI of arriving values
    against a FROZEN baseline — the continuous face of
    ``scoring.psi_drift`` (alert when a day's distribution walks away
    from launch week, while the data streams in).

    The baseline is metadata by construction (*n_bins* counts + a
    total — collect it once from the reference slice via
    ``scoring.psi_drift``'s binning or a plain aggregate), so it rides
    as literals.  Per-bin counts become CONDITIONAL SUM COLUMNS inside
    ONE stateful aggregation keyed by period (chained stream aggs are
    unsupported — same trick as ``nb_score_stream``), and the PSI sum
    over the n_bins columns is a stateless projection.  availableNow
    backfill == the batch operator (same smoothing, same math; pinned
    via the shared oracle).
    """
    from ..operators.scoring import psi_bin

    per = (F.col(period_col) if isinstance(period_col, str)
           else period_col)
    binned = stream.select(per.alias("period"),
                           psi_bin(value_col, n_bins, lo, hi)
                           .alias("bin"))
    aggs = [F.sum(F.when(F.col("bin") == i, 1).otherwise(0))
            .alias(f"__n{i}") for i in range(n_bins)]
    agg = (binned.groupBy("period")
           .agg(*aggs, F.count(F.lit(1)).alias("__nt")))
    mt = int(baseline_total)
    terms = []
    for i in range(n_bins):
        q = (int(baseline_counts[i]) + 1) / (mt + n_bins)
        p = (F.col(f"__n{i}") + 1) / (F.col("__nt") + n_bins)
        terms.append((p - F.lit(q)) * F.log(p / F.lit(q)))
    psi = F.round(sum(terms[1:], terms[0]), 6)
    return agg.select("period", psi.alias("psi"))

"""Corpus curation pipeline: the composed training-data path.

``curate_corpus`` chains the operators a pretraining data pipeline runs
before tokenization, in the order that minimizes work at scale:

1. **quality gate** — cheap Column-algebra scoring first (narrow, prunes
   rows before anything shuffles);
2. **exact dedup** — hash-groupBy on normalized content (one shuffle of
   (hash, id));
3. **near dedup** — MinHash/LSH candidate pairs, connected components
   over the pair graph, keep the minimum id of each component
   (transitive-correct: A~B~C collapses to one survivor even when
   A!~C directly);
4. **token budget** — exact running-total cutoff in corpus order via a
   bucketed two-level prefix sum (:func:`token_budget_cut`), stopping
   the corpus at ``max_tokens`` without a global single-partition
   window.

Returns (curated DataFrame, stats dict of per-stage counts).  Stats force
one action per stage boundary; pass ``collect_stats=False`` to keep the
whole pipeline lazy for production runs.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import NumericType, StringType

from ..functions.text import quality_score, token_count, tokens, word_ngrams
from .dedup import (
    exact_dedup,
    minhash_dedup,
    ngram_jaccard_pairs,
    verified_near_dup_pairs,
)
from .graph import drop_near_dups


def _string_quantile_bucket(df: DataFrame, id_col: str, n_buckets: int,
                            sample_per_bucket: int = 64,
                            cut_len: int = 64) -> F.Column | None:
    """Order-preserving bucket index for string ids from sampled
    quantile cut points — robust to shared prefixes (zero-padded
    ``doc_000...`` ids collapse a fixed-prefix bucketing to one fat
    bucket; quantile cuts split the corpus evenly no matter the id
    shape).

    Cut selection is DISTRIBUTED: a deterministic hash-threshold sample
    (``~sample_per_bucket * n_buckets`` ids, truncated to *cut_len*
    chars — a truncated cut is still a valid order-preserving boundary)
    is ``ntile``-d into even tiles and only each tile's max id reaches
    the driver: ``n_buckets - 1`` strings of <= *cut_len* chars, bounded
    bytes no matter how wide the corpus's ids are.  The ntile window is
    single-partition over the sample only — bounded executor-side, the
    same metadata class as the bucket-offsets window.  Per-row
    assignment is a two-level coarse/fine scan over literal arrays —
    O(2*sqrt(cuts)) string comparisons, whole-stage-codegen, no join.
    Returns ``None`` when the sample is too small to cut (tiny corpora
    fall back to prefix bucketing; so do pathological corpora whose
    sampled ids all share a *cut_len*-char prefix).
    """
    total = df.count()
    if total == 0:
        return None
    target = sample_per_bucket * n_buckets
    frac = min(1.0, target / total)
    sample = (df.select(F.substring(F.col(id_col), 1, cut_len).alias("__id"))
              .where(F.col("__id").isNotNull())
              .where(F.pmod(F.xxhash64("__id"), F.lit(1_000_000))
                     < int(frac * 1_000_000))
              .distinct())
    if sample.count() < 2 * n_buckets:
        return None
    w_tile = Window.orderBy("__id")
    cut_rows = (sample.withColumn("__t", F.ntile(n_buckets).over(w_tile))
                .where(F.col("__t") < n_buckets)
                .groupBy("__t").agg(F.max("__id").alias("__c"))
                .orderBy("__t").collect())
    cuts = sorted({r["__c"] for r in cut_rows})
    if not cuts:
        return None

    col = F.col(id_col)
    chunk_sz = max(1, math.isqrt(len(cuts)))
    chunks = [cuts[i:i + chunk_sz] for i in range(0, len(cuts), chunk_sz)]
    # coarse: which chunk the id lands past (its LAST cut <= id means the
    # whole chunk's cuts are <= id); fine: count within the landing chunk
    coarse_lasts = F.array(*[F.lit(c[-1]) for c in chunks])
    ci = F.size(F.filter(coarse_lasts, lambda b: b <= col))
    fine = F.array(*([F.array(*[F.lit(x) for x in c]) for c in chunks]
                     + [F.array().cast("array<string>")]))  # ci==n sentinel
    within = F.size(F.filter(F.element_at(fine, ci + 1), lambda b: b <= col))
    offsets = F.array(*[F.lit(sum(len(c) for c in chunks[:i]))
                        for i in range(len(chunks) + 1)])
    # bucket = #cuts <= id, decomposed as full-chunks + landing-chunk part
    return F.element_at(offsets, ci + 1) + within


def token_budget_cut(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", max_tokens: int = 0,
                     n_buckets: int = 1024,
                     prefix_len: int = 8) -> DataFrame:
    """Keep the id-ordered prefix of the corpus whose cumulative token
    count fits ``max_tokens`` — EXACT, without a corpus-wide
    single-partition window.

    Scalable two-level prefix sum:

    1. bucket every doc with an *order-preserving* function of the id
       (numeric: fixed-width ranges; string: sampled quantile cuts), so
       bucket order == id order across buckets;
    2. per-bucket token totals (one shuffled aggregate, ``n_buckets``
       output rows);
    3. exclusive running offsets across buckets — a window over only
       ``n_buckets`` rows (metadata-sized; the one intentionally
       single-partition step);
    4. broadcast the offsets back and run the per-doc running sum
       *partitioned by bucket* — parallel across the cluster;
    5. keep rows where offset + within-bucket cumsum <= budget.

    The numeric path runs one metadata-sized min/max job to size the
    bucket width.  String ids derive cut points from a deterministic
    id sample — even buckets regardless of id shape (a fixed prefix
    degenerates to one fat bucket on zero-padded sequential ids); when
    the sample is too small to cut, the ids' first *prefix_len*
    characters are the bucket.  Same selected set as a global
    ``Window.orderBy(id)`` running sum, at any scale.
    """
    cum = _id_ordered_cumsum(df, text_col, id_col, n_buckets, prefix_len)
    if cum is None:
        return df
    return (cum.where(F.col("__cum") <= F.lit(max_tokens))
            .drop("__tok", "__b", "__off", "__cum"))


def _id_ordered_cumsum(df: DataFrame, text_col: str, id_col: str,
                       n_buckets: int, prefix_len: int) -> DataFrame | None:
    """Shared engine of :func:`token_budget_cut` / :func:`pack_plan`:
    the bucketed two-level prefix sum.  Returns *df* plus ``__tok``
    (per-doc token count) and ``__cum`` (INCLUSIVE id-ordered running
    token total, exact at any scale — no corpus-wide single-partition
    window), or ``None`` for an empty numeric-id frame."""
    dt = df.schema[id_col].dataType
    if isinstance(dt, NumericType):
        lo, hi = df.agg(F.min(id_col), F.max(id_col)).first()
        if lo is None:
            return None
        width = max(1, math.ceil((int(hi) - int(lo) + 1) / n_buckets))
        bucket = F.floor((F.col(id_col) - F.lit(int(lo))) / F.lit(width))
    elif isinstance(dt, StringType):
        bucket = _string_quantile_bucket(df, id_col, n_buckets)
        if bucket is None:
            # prefix order is consistent with full lexicographic id order
            bucket = F.substring(F.col(id_col), 1, prefix_len)
    else:
        raise TypeError(f"id-ordered cumsum: unsupported id type {dt}")

    with_tok = (df.withColumn("__tok", token_count(text_col).cast("long"))
                  .withColumn("__b", bucket))
    bucket_totals = with_tok.groupBy("__b").agg(F.sum("__tok").alias("__bt"))
    w_off = (Window.orderBy("__b")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = bucket_totals.select(
        "__b", F.coalesce(F.sum("__bt").over(w_off), F.lit(0)).alias("__off"))
    w_doc = (Window.partitionBy("__b").orderBy(id_col)
             .rowsBetween(Window.unboundedPreceding, 0))
    return (with_tok.join(F.broadcast(offsets), "__b")
            .withColumn("__cum", F.col("__off") + F.sum("__tok").over(w_doc)))


def pack_plan(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id", chunk_tokens: int = 2048,
              n_buckets: int = 1024, prefix_len: int = 8) -> DataFrame:
    """Sequence-packing plan: concatenate the corpus in id order into one
    token stream and cut fixed ``chunk_tokens`` blocks — per doc, its
    exact offsets and the chunk ids it lands in.  This is the layout
    step of LLM training-data preparation (concat + chunk); emitting it
    as a PLAN (rather than materializing token arrays) keeps it engine
    work: writers consume ``(start_offset, chunk_first, chunk_last)``
    per doc and slice locally.

    Same scalable two-level prefix sum as :func:`token_budget_cut` —
    exact id-ordered offsets with no corpus-wide single-partition
    window.  Zero-token docs carry ``chunk_last = chunk_first`` and
    ``n_chunks_spanned = 0``.

    Returns ``(id, n_tokens, start_offset, chunk_first, chunk_last,
    n_chunks_spanned)``.
    """
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive [{chunk_tokens}]")
    cum = _id_ordered_cumsum(df, text_col, id_col, n_buckets, prefix_len)
    if cum is None:
        return (df.select(F.col(id_col))
                .withColumn("n_tokens", F.lit(0).cast("long"))
                .withColumn("start_offset", F.lit(0).cast("long"))
                .withColumn("chunk_first", F.lit(0).cast("long"))
                .withColumn("chunk_last", F.lit(0).cast("long"))
                .withColumn("n_chunks_spanned", F.lit(0).cast("long")))
    start = F.col("__cum") - F.col("__tok")
    first = F.floor(start / F.lit(chunk_tokens)).cast("long")
    last = F.when(F.col("__tok") > 0,
                  F.floor((F.col("__cum") - 1) / F.lit(chunk_tokens)))\
        .otherwise(first).cast("long")
    return (cum.select(F.col(id_col),
                       F.col("__tok").alias("n_tokens"),
                       start.alias("start_offset"),
                       first.alias("chunk_first"),
                       last.alias("chunk_last"))
            .withColumn(
                "n_chunks_spanned",
                F.when(F.col("n_tokens") > 0,
                       F.col("chunk_last") - F.col("chunk_first") + 1)
                .otherwise(F.lit(0)).cast("long")))


def _dup_ngram_frac(text_col: str, n: int) -> F.Column:
    """Fraction of word n-grams that repeat an earlier gram — pure Column
    algebra (array ops, no shuffle); 0.0 for empty/NULL text."""
    grams = word_ngrams(text_col, n)
    return (F.when(F.size(grams) > 0,
                   F.lit(1.0) - F.size(F.array_distinct(grams))
                   .cast("double") / F.size(grams))
            .otherwise(F.lit(0.0)))


def repetition_metrics(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", ngram_n: int = 2,
                       max_top_token_frac: float = 0.2,
                       max_dup_ngram_frac: float = 0.2) -> DataFrame:
    """Per-doc repetition metrics in the style of the Gopher/MassiveText
    quality rules [Rae et al. 2021, §A1.1]: heavily self-repeating docs
    (keyword-stuffed pages, log spew, template loops) are low-value
    training text even when per-token quality looks fine.

    Returns ``(id, n_tokens, distinct_token_frac, top_token_frac,
    dup_ngram_frac, repetitive)`` where

    * ``top_token_frac`` — occurrences of the single most frequent token
      over all tokens (mode fraction);
    * ``dup_ngram_frac`` — fraction of word *ngram_n*-grams that are
      repeats of an earlier gram (``1 − distinct/total``);
    * ``repetitive`` — either fraction above its threshold.

    Scale shape: ``dup_ngram_frac`` is pure Column algebra (array ops,
    no shuffle); the mode needs one explode + two partial-aggregated
    groupBys keyed by (id, token) then id — the same linear shuffle
    class as ``token_counts``.  Empty docs score 0.0 on every fraction
    (not NULL) so downstream boolean gates stay two-valued.
    """
    toks = tokens(text_col)
    base = df.select(
        F.col(id_col).alias("__id"),
        toks.alias("__toks"),
        _dup_ngram_frac(text_col, ngram_n).alias("dup_ngram_frac"))
    tok_counts = (base.select("__id", F.explode_outer("__toks").alias("__t"))
                  .groupBy("__id", "__t")
                  .agg(F.count(F.lit(1)).alias("__c"))
                  .groupBy("__id")
                  .agg(F.sum(F.when(F.col("__t").isNotNull(), F.col("__c"))
                             .otherwise(F.lit(0))).alias("n_tokens"),
                       F.max(F.when(F.col("__t").isNotNull(), F.col("__c"))
                             .otherwise(F.lit(0))).alias("__top"),
                       F.sum(F.when(F.col("__t").isNotNull(), 1)
                             .otherwise(0)).alias("__nd")))
    frac = lambda num: F.when(  # noqa: E731  (local shorthand)
        F.col("n_tokens") > 0,
        num.cast("double") / F.col("n_tokens")).otherwise(F.lit(0.0))
    return (base.join(tok_counts, "__id")
            .select(F.col("__id").alias(id_col),
                    F.col("n_tokens"),
                    frac(F.col("__nd")).alias("distinct_token_frac"),
                    frac(F.col("__top")).alias("top_token_frac"),
                    "dup_ngram_frac")
            .withColumn(
                "repetitive",
                (F.col("top_token_frac") > F.lit(max_top_token_frac))
                | (F.col("dup_ngram_frac") > F.lit(max_dup_ngram_frac))))


def stratified_sample_exact(df: DataFrame, strata_col: str,
                            n_per_stratum: int | dict,
                            id_col: str = "doc_id") -> DataFrame:
    """Deterministic exact-count stratified sample: the *n_per_stratum*
    rows per stratum that rank first under a pseudo-random but
    reproducible order — ``(md5(id), id)``.  Unlike ``df.sampleBy`` or
    the fraction-based :func:`..dedup.stratified_sample` (both yield
    approximate per-stratum counts), this hits the count exactly and
    yields the SAME rows on every engine and every cluster layout,
    so training-data mixtures are auditable and re-buildable.

    Pass a ``{stratum: count}`` dict to build a data MIXTURE with
    per-stratum target counts (strata absent from the dict are
    dropped) — the construction step after a mixture-weighting decision
    (e.g. ``count**alpha`` temperature weights).

    Scale shape: one shuffle on *strata_col*; the ``row_number`` rank
    filter compiles to Spark's WindowGroupLimit, so each task keeps a
    running top-n per stratum instead of sorting whole strata.  Skewed
    strata cost their own partition, not the cluster.
    """
    w = (Window.partitionBy(strata_col)
         .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col)))
    if isinstance(n_per_stratum, dict):
        for v in n_per_stratum.values():
            if v < 0:
                raise ValueError(f"negative stratum count [{v}]")
        limit = F.create_map(*[
            lit for k, v in n_per_stratum.items()
            for lit in (F.lit(k), F.lit(int(v)))])[F.col(strata_col)]
    else:
        limit = F.lit(int(n_per_stratum))
    return (df.withColumn("__rn", F.row_number().over(w))
            .where(limit.isNotNull() & (F.col("__rn") <= limit))
            .drop("__rn"))


def stratum_token_budget(df: DataFrame, strata_col: str,
                         budgets: int | dict, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Per-stratum TOKEN budgets: keep docs of each stratum, in the
    reproducible pseudo-random ``(md5(id), id)`` order, until the
    stratum's cumulative token count exceeds its budget — mixture
    construction by tokens rather than docs (training mixtures are
    specified in tokens; :func:`stratified_sample_exact` counts docs).
    Pass an int for a uniform budget or ``{stratum: max_tokens}`` (absent
    strata are dropped).  The first doc that crosses the budget is
    EXCLUDED (<= semantics, same contract as :func:`token_budget_cut`).

    Deterministic on any engine/cluster layout: md5 order is data-derived,
    so the same corpus always selects the same rows.

    Scale shape: the naive plan (one window per stratum) serializes each
    stratum onto one partition — a skewed language would bottleneck the
    cluster.  Instead the same two-level prefix sum as
    :func:`token_budget_cut`, keyed by stratum: md5-prefix buckets are
    uniform BY CONSTRUCTION (no sampling pass needed), per-(stratum,
    bucket) totals roll up in one shuffled aggregate, cross-bucket
    offsets run in a window over ~256 rows per stratum (metadata-sized),
    and the per-doc running sum is a window keyed by (stratum, bucket) —
    parallel within every stratum.
    """
    h = F.md5(F.col(id_col).cast("string"))
    with_tok = (df.withColumn("__h", h)
                .withColumn("__tok", token_count(text_col).cast("long"))
                .withColumn("__b", F.substring("__h", 1, 2)))
    totals = (with_tok.groupBy(strata_col, "__b")
              .agg(F.sum("__tok").alias("__bt")))
    w_off = (Window.partitionBy(strata_col).orderBy("__b")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = totals.select(
        strata_col, "__b",
        F.coalesce(F.sum("__bt").over(w_off), F.lit(0)).alias("__off"))
    w_doc = (Window.partitionBy(strata_col, "__b").orderBy("__h", id_col)
             .rowsBetween(Window.unboundedPreceding, 0))
    if isinstance(budgets, dict):
        for v in budgets.values():
            if v < 0:
                raise ValueError(f"negative stratum budget [{v}]")
        limit = F.create_map(*[
            lit for k, v in budgets.items()
            for lit in (F.lit(k), F.lit(int(v)))])[F.col(strata_col)]
    else:
        limit = F.lit(int(budgets))
    return (with_tok.join(F.broadcast(offsets), [strata_col, "__b"])
            .withColumn("__cum", F.col("__off") + F.sum("__tok").over(w_doc))
            .where(limit.isNotNull() & (F.col("__cum") <= limit))
            .drop("__h", "__tok", "__b", "__off", "__cum"))


def mixture_weights(df: DataFrame, strata_col: str, alpha: float = 0.5,
                    total_docs: int = 1_000_000,
                    quantum: float = 1e-6) -> DataFrame:
    """Temperature-weighted data-mixture plan: per-stratum target counts
    proportional to ``count**alpha`` (alpha < 1 upsamples small strata —
    the standard multilingual/multi-source temperature trick; alpha=1 is
    proportional, alpha=0 uniform).

    Weights are QUANTIZED to integer multiples of *quantum* before
    normalization, so the whole plan is integer arithmetic after the
    single ``pow``: the emitted ``(weight_ppm, target_docs)`` are
    bit-identical on any engine, cluster layout, or summation order —
    mixture plans are audit artifacts and must reproduce exactly.
    (A raw ``sum(double)`` normalizer varies in the last ulp with
    summation order; the fixed-point sum does not.)

    Scale shape: one groupBy on *strata_col*; the normalizing window is
    global but runs over one row per stratum — metadata-sized, the same
    class as ``token_budget_cut``'s bucket-offset window.

    Returns ``(strata_col, n_docs, weight_ppm, target_docs)``; feed
    ``dict(rows)`` of ``(stratum, target_docs)`` to
    :func:`stratified_sample_exact` to materialize the mixture.
    """
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n_docs"))
    if alpha == 0.5:
        w = F.sqrt(F.col("n_docs").cast("double"))
    else:
        w = F.pow(F.col("n_docs").cast("double"), F.lit(float(alpha)))
    q = counts.withColumn(
        "__w", F.floor(w / F.lit(float(quantum))).cast("long"))
    tot = Window.partitionBy()
    return (q.withColumn("__tw", F.sum("__w").over(tot))
            .select(strata_col, "n_docs",
                    F.floor(F.col("__w") * F.lit(1_000_000)
                            / F.col("__tw")).cast("long")
                    .alias("weight_ppm"),
                    F.floor(F.col("__w") * F.lit(int(total_docs))
                            / F.col("__tw")).cast("long")
                    .alias("target_docs")))


def _near_dup_pairs(exact: DataFrame, text_col: str, id_col: str,
                    backend: str, threshold: float, ngram_n: int,
                    ) -> DataFrame:
    """Stage-3 candidate-pair generator shared by :func:`curate_corpus`
    and :func:`curate_provenance` — one switch, identical decisions."""
    if backend == "minhash":
        return minhash_dedup(exact, text_col, id_col, threshold=threshold)
    if backend == "minhash_verified":
        return verified_near_dup_pairs(exact, text_col, id_col, n=ngram_n,
                                       threshold=threshold)
    if backend == "exact":
        return ngram_jaccard_pairs(exact, text_col, id_col, n=ngram_n,
                                   threshold=threshold)
    raise ValueError(
        f"unknown near_dup_backend [{backend}]; "
        "expected 'minhash', 'minhash_verified', or 'exact'")


def _gate_predicate(text_col: str, min_quality: float,
                    max_dup_ngram_frac: float | None) -> F.Column:
    """Stage-1 keep predicate shared by the pipeline and its provenance:
    quality floor plus the optional repetition ceiling."""
    keep = quality_score(text_col) >= min_quality
    if max_dup_ngram_frac is not None:
        keep = keep & (_dup_ngram_frac(text_col, 2) <= max_dup_ngram_frac)
    return keep


def curate_provenance(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      min_quality: float = 0.5,
                      near_dup_threshold: float = 0.8,
                      max_tokens: int | None = None,
                      near_dup_backend: str = "exact",
                      ngram_n: int = 5,
                      max_dup_ngram_frac: float | None = None) -> DataFrame:
    """Per-doc curation provenance: ``(id, drop_stage)`` with
    ``drop_stage ∈ {kept, quality, exact_dup, near_dup, budget}`` — the
    FIRST stage of :func:`curate_corpus` that drops each doc.

    Two jobs this earns at 100 TB:

    * **observability in one action** — ``.groupBy("drop_stage").count()``
      replaces :func:`curate_corpus`'s five per-stage ``count()``
      materializations (``collect_stats=True`` runs the pipeline prefix
      once per stage boundary);
    * **drop debugging** — "why did doc X disappear" is a lookup, not a
      pipeline re-run.

    Stage membership is computed from the same lazy stage frames the
    pipeline uses (left joins on ids only — payloads don't travel), so
    the labels are exactly the pipeline's decisions, not a parallel
    re-implementation.
    """
    keep = _gate_predicate(text_col, min_quality, max_dup_ngram_frac)
    gated = df.where(keep)
    exact = exact_dedup(gated, text_col, id_col)
    pairs = _near_dup_pairs(exact, text_col, id_col, near_dup_backend,
                            near_dup_threshold, ngram_n)
    near = drop_near_dups(exact, pairs, id_col)
    final = (token_budget_cut(near, text_col, id_col, max_tokens)
             if max_tokens is not None else near)

    def ids(frame: DataFrame, flag: str) -> DataFrame:
        return frame.select(id_col).withColumn(flag, F.lit(1))

    return (df.select(id_col, keep.alias("__q"))
            .join(ids(exact, "__e"), id_col, "left")
            .join(ids(near, "__n"), id_col, "left")
            .join(ids(final, "__f"), id_col, "left")
            .select(id_col,
                    # NULL quality (e.g. NULL text) is a quality drop too:
                    # bare ~NULL is NULL and would fall through to the
                    # exact_dup branch, mislabeling the doc
                    F.when(F.col("__q").isNull() | ~F.col("__q"),
                           F.lit("quality"))
                    .when(F.col("__e").isNull(), F.lit("exact_dup"))
                    .when(F.col("__n").isNull(), F.lit("near_dup"))
                    .when(F.col("__f").isNull(), F.lit("budget"))
                    .otherwise(F.lit("kept")).alias("drop_stage")))


def curate_corpus(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  min_quality: float = 0.5,
                  near_dup_threshold: float = 0.8,
                  max_tokens: int | None = None,
                  collect_stats: bool = True,
                  near_dup_backend: str = "minhash",
                  ngram_n: int = 5,
                  max_dup_ngram_frac: float | None = None,
                  ) -> tuple[DataFrame, dict[str, int]]:
    """See module docstring.  ``near_dup_backend`` picks the candidate-pair
    generator for stage 3:

    * ``"minhash"`` (default) — MinHash/LSH banding, the sub-quadratic
      100 TB path; *near_dup_threshold* is an **estimated** Jaccard.
    * ``"minhash_verified"`` — LSH candidates verified with exact
      per-pair n-gram Jaccard (:func:`verified_near_dup_pairs`): the
      production shape when thresholds must mean true Jaccard but the
      corpus forbids the all-pairs gram join.  Still sub-quadratic;
      pairs LSH never proposes are missed (recall knob inside).
    * ``"exact"`` — :func:`ngram_jaccard_pairs` over word *ngram_n*-grams;
      deterministic integer set math (SQL-expressible, so the composed
      pipeline can be oracle-checked end-to-end), quadratic in shared-gram
      bucket size — use on modest corpora or behind a pre-filter.

    ``max_dup_ngram_frac`` (optional) adds the Gopher-style repetition
    cut to the stage-1 gate: docs whose duplicate-bigram fraction
    exceeds it drop with the quality failures.  It is pure Column
    algebra (:func:`_dup_ngram_frac`), so the gate stays narrow.
    """
    stats: dict[str, int] = {}

    def n(stage: str, frame: DataFrame) -> DataFrame:
        if collect_stats:
            stats[stage] = frame.count()
        return frame

    n("input", df)

    # 1. quality gate (narrow; optional repetition cut rides along)
    gated = n("after_quality",
              df.where(_gate_predicate(text_col, min_quality,
                                       max_dup_ngram_frac)))

    # 2. exact dedup
    exact = n("after_exact_dedup", exact_dedup(gated, text_col, id_col))

    # 3. near dedup: connected components over the candidate-pair graph,
    # keep the min id of each component (transitive-correct)
    pairs = _near_dup_pairs(exact, text_col, id_col, near_dup_backend,
                            near_dup_threshold, ngram_n)
    near = n("after_near_dedup", drop_near_dups(exact, pairs, id_col))

    # 4. token budget: exact cumulative cutoff in id order via the
    # bucketed two-level prefix sum (no corpus-wide single partition)
    out = near
    if max_tokens is not None:
        out = token_budget_cut(near, text_col, id_col, max_tokens)
    n("output", out)
    return out, stats


def weighted_sample(df: DataFrame, weight_col: str,
                    id_col: str = "doc_id", k: int = 100,
                    group_cols: list[str] | tuple[str, ...] = (),
                    ) -> DataFrame:
    """Derandomized weighted sampling WITHOUT replacement (Efraimidis-
    Spirakis A-Res): the k rows with the largest ``ln(u)/w`` keys, where
    ``u`` is a uniform in (0,1] derived from ``md5(id)`` — every row's
    inclusion probability tracks its weight, yet the sample is exactly
    reproducible on any engine (the md5 "uniform" replaces the RNG, the
    same derandomization the stratified/DSIR samplers use).

    Returns the input rows plus ``__key`` (rounded to 9 — ranking
    happens on the rounded key, ties by id, so the ordering is
    engine-portable).  Rows with NULL or non-positive weight are
    EXCLUDED (a zero-weight row must never be sampled; ln(u)/w would
    flip its ordering).

    Scale: ungrouped top-k plans as TakeOrderedAndProject (per-partition
    k + driver merge); grouped, a WindowGroupLimit per group — no
    single-partition sort either way.
    """
    sid = F.col(id_col).cast("string")
    h = F.conv(F.substring(F.md5(sid), 1, 13), 16, 10).cast("long")
    # (h+1)/(2^52+1): u in (0, 1] — dyadic numerator keeps the division
    # a single correctly-rounded IEEE op on both engines
    u = (h + F.lit(1)).cast("double") / F.lit(4503599627370497.0)
    key = F.round(F.log(u) / F.col(weight_col), 9)
    base = (df.where(F.col(weight_col).isNotNull()
                     & (F.col(weight_col) > 0))
            .withColumn("__key", key))
    if not group_cols:
        return base.orderBy(F.desc("__key"), F.col(id_col)).limit(k)
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(
        F.desc("__key"), F.col(id_col))
    return (base.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k).drop("__rn"))

"""Duplicate-span removal — distributed exact-substring dedup.

The published result (Lee et al., "Deduplicating Training Data Makes
Language Models Better", ACL 2022) removes every substring of >= N
tokens that appears more than once in the corpus, using a single-node
suffix array.  A suffix array does not distribute; the standard
scale-out re-expression (used by several open pretraining pipelines) is
the *fixed-width n-gram cover*: a token position is removed iff some
n-gram window covering it occurs >= ``min_count`` times corpus-wide.
Every duplicated substring of length >= n is a union of duplicated
n-grams, so the cover removes a superset of the suffix-array spans at
width n (and nothing whose every covering window is unique).

Spark-first plan (no UDFs, no driver materialization):

1. tokenize (``regexp_extract_all``) and emit one ``(doc_id, start,
   xxhash64(gram))`` row per n-gram window — the shuffle carries an
   8-byte hash, not the n-token string;
2. global window counts = one map-side-combined ``groupBy(gh)``;
3. join flagged hashes back (long=long shuffle join) and
   ``collect_set(start)`` per doc — flagged starts are bounded by doc
   length, so the per-doc array is small;
4. rebuild the document driver-free with pure array algebra:
   ``filter(tokens, (t, i) -> !exists(starts, s -> s <= i+1 <= s+n-1))``
   then ``concat_ws`` — whole-stage codegen, linear in doc length.

At 100 TB the only wide stages are the window count and the hash join,
both keyed on 8-byte longs; AQE handles the (rare) hot window keys.
Reference repo has no such operator (its scope ends at Legend queries,
`/root/reference/README.md`); this is part of the training-data
extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import read_footer, write_store
from ..functions import text as TX

_SEP = "\x1f"


def _windows(n: int) -> F.Column:
    """``array<struct<s, gh>>``: one (1-based start, gram hash) struct
    per n-unit window of the ``__toks`` column — the one window-hash
    definition every span operator and the span stream match on."""
    starts = F.when(
        F.size("__toks") >= n,
        F.sequence(F.lit(1), F.size("__toks") - F.lit(n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        starts,
        lambda s: F.struct(
            s.alias("s"),
            F.xxhash64(F.concat_ws(_SEP, F.slice("__toks", s, n)))
            .alias("gh"),
        ),
    )


def _window_grams(base: DataFrame, id_col: str, n: int) -> DataFrame:
    """One (id, start, gram-hash) row per n-token window; 1-based starts."""
    return base.select(
        F.col(id_col), F.explode(_windows(n)).alias("g"),
    ).select(id_col, F.col("g.s").alias("s"), F.col("g.gh").alias("gh"))


def _cleaned(id_col: F.Column, starts: F.Column, n: int,
             unit: str) -> list[F.Column]:
    """``[id, n_tokens, n_removed, clean_text]`` over the ``__toks``
    column: every unit covered by an n-unit window starting at one of
    the 1-based *starts* removed — the one cover rule of every span
    operator."""
    kept = F.filter(
        "__toks",
        lambda t, i: ~F.exists(
            starts, lambda s: (i + 1 >= s) & (i + 1 <= s + F.lit(n - 1))
        ),
    )
    return [
        id_col,
        F.size("__toks").alias("n_tokens"),
        (F.size("__toks") - F.size(kept)).alias("n_removed"),
        F.concat_ws(TX.unit_joiner(unit), kept).alias("clean_text"),
    ]


def _rebuild(base: DataFrame, starts_df: DataFrame, id_col: str, n: int,
             unit: str) -> DataFrame:
    """``(id, n_tokens, n_removed, clean_text)``: each doc of *base*
    cleaned of the windows at its ``(id, s)`` rows in *starts_df*."""
    flagged = (starts_df.groupBy(id_col)
               .agg(F.collect_set("s").alias("__starts")))
    starts = F.coalesce(F.col("__starts"), F.array().cast("array<int>"))
    return (base.join(flagged, id_col, "left")
            .select(*_cleaned(F.col(id_col), starts, n, unit)))


def duplicate_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 15,
    min_count: int = 2,
    unit: str = "token",
) -> DataFrame:
    """Per-document duplicate-span removal result.

    Returns ``(id_col, n_tokens, n_removed, clean_text)`` where
    ``clean_text`` is the document with every token covered by a
    corpus-duplicated n-token window removed.  Window occurrences are
    counted globally (a window repeated inside ONE document also counts
    toward ``min_count`` — self-repetition is training-data noise too).

    Documents shorter than ``n`` units are never touched.  *unit* =
    ``'token'`` (whitespace, default) or ``'char'`` (see
    :func:`..functions.text.unit_array`).
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    if min_count < 2:
        raise ValueError("min_count must be >= 2")
    base = df.select(
        F.col(id_col), TX.unit_array(F.col(text_col), unit).alias("__toks")
    )
    grams = _window_grams(base, id_col, n)
    flagged_windows = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .where(F.col("__cnt") >= min_count)
        .select("gh")
    )
    return _rebuild(base, grams.join(flagged_windows, "gh"), id_col, n,
                    unit)


def dedup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 15,
    min_count: int = 2,
    drop_empty: bool = True,
    unit: str = "token",
) -> DataFrame:
    """Corpus with duplicated spans removed in place.

    Replaces ``text_col`` with the cleaned text (other columns pass
    through).  ``drop_empty=True`` (the production default) also drops
    documents whose every token sat inside a duplicated span.
    """
    stats = duplicate_span_stats(
        df, text_col=text_col, id_col=id_col, n=n, min_count=min_count,
        unit=unit,
    ).select(id_col, "clean_text", "n_removed")
    out = df.join(stats, id_col).withColumn(
        text_col, F.col("clean_text")
    )
    if drop_empty:
        out = out.where(F.length(text_col) > 0)
    return out.drop("clean_text", "n_removed")


def write_span_store(df: DataFrame, path: str, text_col: str = "text",
                     id_col: str = "doc_id", n: int = 15,
                     mode: str = "overwrite",
                     unit: str = "token") -> None:
    """Persist per-window gram-hash counts as parquet ``(gh, cnt)`` so
    span dedup becomes *incremental*: a daily batch counts only its own
    windows and merges against the store — the historical corpus is
    never re-tokenized (at 100 TB, re-tokenizing IS the cost; the store
    is orders of magnitude smaller than the text).

    ``mode='append'`` appends partial counts (the reader re-aggregates
    by hash, so duplicate ``gh`` rows across file sets are fine — counts
    are mergeable by construction, like the HLL sketch store).  The
    footer records the window width ``n`` and *unit* (counts of
    different widths or units must never merge) and whether every
    ``gh`` key is unique in the files.
    """
    TX.unit_joiner(unit)                        # validate early
    base = df.select(F.col(id_col),
                     TX.unit_array(F.col(text_col), unit).alias("__toks"))
    counts = (_window_grams(base, id_col, n)
              .groupBy("gh").agg(F.count(F.lit(1)).alias("cnt")))
    # ``unique``: every gh key appears exactly once in the store files —
    # true after a write that REPLACED (overwrite) or CREATED the data
    # (the groupBy guarantees one row per gh), false once any append
    # lands partial counts; readers then skip or pay the re-aggregation
    # accordingly (r12, guide §2.4: metadata that removes a shuffle)
    write_store(counts, path, [(int(n), unit, mode != "append")],
                "n int, unit string, unique boolean", mode, "span store",
                {"n": int(n), "unit": unit}, {"unit": "token"})


def read_span_store(spark, path: str):
    """``(counts, n, unit)`` of a :func:`write_span_store` store:
    *counts* holds one ``(gh, cnt)`` row per window hash — store rows
    that appends left as partial counts are re-aggregated, a store whose
    footer certifies unique keys skips that exchange (r12; footers
    without ``unique`` re-aggregate, footers without ``unit`` are
    token-built)."""
    meta = read_footer(spark, path)[0].asDict()
    counts = spark.read.parquet(path)
    if not meta.get("unique"):
        counts = counts.groupBy("gh").agg(F.sum("cnt").alias("cnt"))
    return counts, int(meta["n"]), meta.get("unit", "token")


def incremental_dup_spans(spark, path: str, new_docs: DataFrame,
                          text_col: str = "text", id_col: str = "doc_id",
                          min_count: int = 2) -> DataFrame:
    """Duplicate-span removal for an append batch against a persisted
    span store: a window in a NEW doc is removed iff its corpus-wide
    count (store + this batch) reaches ``min_count``.  Equals the batch
    operator run over (historical ∪ new) restricted to the new docs —
    without touching historical text.

    Returns the same ``(id, n_tokens, n_removed, clean_text)`` schema as
    :func:`duplicate_span_stats`.  Scale shape: one aggregation over the
    batch's windows, one outer merge keyed on the 8-byte hash against
    the store counts (which AQE broadcasts while the store is small),
    then the usual flagged-start collect + array rebuild."""
    store, n, unit = read_span_store(spark, path)
    base = new_docs.select(F.col(id_col),
                           TX.unit_array(F.col(text_col), unit)
                           .alias("__toks"))
    # the gram table fans out to TWO consumers (the batch-count
    # aggregate and the flagged-start join) and the plan would
    # re-tokenize + re-hash the whole batch once per branch (plus a
    # third time for the rebuild's base scan) — materialize the windows
    # once instead (guide §3.3: fan-out intermediates; the checkpoint
    # is window-count-sized rows of 3 longs, the same bytes the gh
    # exchange already ships)
    grams = _window_grams(base, id_col, n).localCheckpoint(eager=True)
    batch_counts = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("__bc"))
    merged = (batch_counts.join(store, "gh", "left")
              .select("gh", (F.col("__bc")
                             + F.coalesce("cnt", F.lit(0))).alias("__cnt"))
              .where(F.col("__cnt") >= min_count)
              .select("gh"))
    return _rebuild(base, grams.join(merged, "gh"), id_col, n, unit)


def intra_doc_dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 10,
    unit: str = "token",
) -> DataFrame:
    """WITHIN-document repeated-window removal — the map-only twin of
    :func:`duplicate_span_stats`.

    A window occurrence is removed iff the SAME n-token window occurred
    earlier in the same document at a non-overlapping position
    (``start_earlier <= start - n``), so the first copy always
    survives; chained repeats (``X X X``) collapse to one ``X``.  This
    is the self-repetition cleaner (navigation bars, SEO keyword
    stuffing, template echoes INSIDE one page) that corpus-wide span
    dedup only catches when ``min_count`` counts self-repeats.

    Returns ``(id_col, n_tokens, n_removed, clean_text)``.

    Scale shape: ZERO shuffles — everything is per-row Column algebra
    (token windows, nested exists, array filter), an embarrassingly
    parallel scan at any corpus size.  Per-row cost is O(windows^2) in
    the nested exists; fine for page-sized documents (10^2-10^3
    windows), and still whole-stage-codegen JVM work — no Python.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    base = df.select(
        F.col(id_col), TX.unit_array(F.col(text_col), unit).alias("__toks"))
    with_w = base.select(id_col, "__toks", _windows(n).alias("__w"))
    removable = F.filter(
        "__w",
        lambda w: F.exists(
            "__w",
            lambda v: (v["gh"] == w["gh"]) & (v["s"] <= w["s"] - n)))
    with_r = with_w.select(
        id_col, "__toks",
        F.transform(removable, lambda w: w["s"]).alias("__r"))
    return with_r.select(*_cleaned(F.col(id_col), F.col("__r"), n, unit))

"""Deduplication operators for large-scale corpora.

Five families, each picked for a different scale/precision point:

* :func:`exact_dedup` — hash-groupBy on normalized content.  One shuffle
  keyed by a 64-bit hash; survives any scale (AQE handles skew).
* :func:`minhash_dedup` — MinHash + LSH banding.  Narrow map to compute
  signatures (no explode-shuffle), then one shuffle per *candidate* band
  bucket — the standard sub-quadratic near-dup path for 100 TB corpora.
* :func:`simhash_df` / :func:`simhash_dedup` — 64-bit SimHash; near-dups
  = hamming distance <= k, candidates via 16-bit chunk banding.
* :func:`ngram_jaccard_pairs` — exact n-gram Jaccard: AllPairs/PPJoin
  prefix-filtered candidates, verified per pair; the same verify stage
  checks the MinHash candidates of :func:`verified_near_dup_pairs`.
* :func:`embedding_dedup` — semantic near-dup over embedding vectors
  (cosine >= threshold), LSH-bucketed.

All operators are pure DataFrame compositions (no Python UDFs).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import (check_footer, read_footer, read_if_exists,
                         write_store)
from ..functions.text import char_shingles, content_hash, word_ngrams
from ..functions.vectors import cosine, hyperplane_signature, hyperplanes

# Mersenne prime 2^31-1: keeps a*h+b < 2^62 so the permutation math never
# overflows a long under ANSI mode (Spark 4 default); 2^31 hash space per
# permutation is ample for minhash estimation
_MERSENNE = (1 << 31) - 1


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", keep: str = "min") -> DataFrame:
    """Keep one row per distinct normalized content.

    Dedup key is a 64-bit xxhash of whitespace-normalized lowercase text —
    the groupBy shuffles only (hash, id), not the payload, then rejoins
    winners; at scale this is the classic two-pass exact dedup.
    """
    keyed = df.withColumn("__key", content_hash(text_col))
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    winners = keyed.groupBy("__key").agg(agg.alias(id_col))
    return (keyed.join(winners, ["__key", id_col], "left_semi")
            .drop("__key"))


def dedup_stats(df: DataFrame, text_col: str = "text",
                group_col: str | None = None) -> DataFrame:
    """Duplication metrics: total rows, distinct contents, dup rows."""
    keys = [group_col] if group_col else []
    return (df.withColumn("__key", content_hash(text_col))
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("rows_total"),
                 F.countDistinct("__key").alias("rows_distinct"))
            .withColumn("rows_duplicate",
                        F.col("rows_total") - F.col("rows_distinct")))


def deterministic_sample(df: DataFrame, fraction: float,
                         key_col: str, seed: int = 42) -> DataFrame:
    """Hash-threshold sampling: stable across runs, retries, and cluster
    sizes (unlike ``df.sample``, whose output depends on partitioning).
    Same key -> same verdict, so joins between sampled tables stay
    consistent.  Stratify by sampling each stratum's key separately."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    bucket = F.pmod(F.xxhash64(F.col(key_col), F.lit(seed)), F.lit(1_000_000))
    return df.where(bucket < int(fraction * 1_000_000))


def stratified_sample(df: DataFrame, fractions: dict, strata_col: str,
                      key_col: str, seed: int = 42) -> DataFrame:
    """Deterministic per-stratum sampling: each stratum keeps its own
    fraction (strata absent from *fractions* are dropped).  One narrow
    pass — the per-stratum threshold rides in a literal map."""
    for f in fractions.values():
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"fractions must be in [0, 1], got {f}")
    mapping = F.create_map(*[
        lit for k, f in fractions.items()
        for lit in (F.lit(k), F.lit(int(f * 1_000_000)))])
    bucket = F.pmod(F.xxhash64(F.col(key_col), F.lit(seed)), F.lit(1_000_000))
    threshold = mapping[F.col(strata_col)]
    return df.where(threshold.isNotNull() & (bucket < threshold))


def _hash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE))
            for _ in range(num_hashes)]


def _minhash_mins_df(df: DataFrame, text_col: str, id_col: str,
                     num_hashes: int, shingle_k: int, seed: int) -> DataFrame:
    """(__id, __m0..__m{n-1}) per-permutation minima — the flat frame both
    the signature array and the band hashes are built from."""
    # hash shingles to longs BEFORE explode/dedup: the explode and the
    # distinct operate on 8-byte longs instead of strings (smaller rows,
    # cheaper comparisons), and the downstream aggregates read a column
    # that needs no further hashing
    hashes = F.array_distinct(F.transform(
        char_shingles(text_col, shingle_k),
        lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE))))
    hashed = df.select(F.col(id_col).alias("__id"),
                       F.explode(hashes).alias("__h"))
    mins = [F.min(F.pmod(a * F.col("__h") + b, F.lit(_MERSENNE))).alias(f"__m{i}")
            for i, (a, b) in enumerate(_hash_params(num_hashes, seed))]
    return hashed.groupBy("__id").agg(*mins)


def minhash_signatures_df(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", num_hashes: int = 64,
                          shingle_k: int = 5, seed: int = 42,
                          method: str = "kperm") -> DataFrame:
    """(id, signature array<long>) — two strategies, same output shape:

    * ``kperm`` (default): classic k independent permutations, explode +
      64 min-aggregates.  The 64 ``pmod(a*h+b)`` per exploded row fuse
      into one whole-stage-codegen loop, and the aggregation has only
      |docs| groups.
    * ``md5``: engine-PORTABLE k-min — slot 4t+j is the min over
      distinct shingles of the j-th 8-hex-char quarter of
      ``md5('mh{t}:' || shingle)`` read as a 32-bit integer, i.e. each
      md5 yields FOUR independent hash slots (md5 bits are independent;
      a double-hashing ``h1 + i*h2`` variant was rejected — the shared
      argmin correlates slots and collapses the Jaccard estimator).
      All values fit 32 bits, so the math is overflow-free and
      bit-identical on any engine with md5 and 64-bit integers
      (DuckDB: ``('0x'||substr(md5(s),..))::BIGINT``) — the contract
      entry carries a full value oracle.  Production default stays
      xxhash64 kperm (cheaper hash, same plan shape).
    """
    if method == "md5":
        hashed = df.select(
            F.col(id_col).alias("__id"),
            F.explode(F.array_distinct(
                char_shingles(text_col, shingle_k))).alias("__s"))
        cols = []
        for i in range(num_hashes):
            t, j = divmod(i, 4)
            md5c = F.md5(F.concat(F.lit(f"mh{t}:"), F.col("__s")))
            # repeated md5(t) subexpressions fuse via codegen CSE
            cols.append(F.conv(F.substring(md5c, 8 * j + 1, 8), 16, 10)
                        .cast("long").alias(f"__h{i}"))
        hh = hashed.select("__id", *cols)
        mins = [F.min(F.col(f"__h{i}")).alias(f"__m{i}")
                for i in range(num_hashes)]
        agg = hh.groupBy("__id").agg(*mins)
        return agg.select(
            "__id",
            F.array(*[F.col(f"__m{i}")
                      for i in range(num_hashes)]).alias("__sig"))
    if method == "kperm":
        agg = _minhash_mins_df(df, text_col, id_col, num_hashes,
                               shingle_k, seed)
        return agg.select(
            "__id",
            F.array(*[F.col(f"__m{i}")
                      for i in range(num_hashes)]).alias("__sig"))
    raise ValueError(f"unknown minhash method [{method}]")


def minhash_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  num_hashes: int = 64, bands: int = 16,
                  shingle_k: int = 5, threshold: float = 0.7,
                  seed: int = 42, max_bucket: int = 200,
                  method: str = "kperm") -> DataFrame:
    """Near-dup candidate pairs via MinHash LSH banding.

    Returns ``(id_a, id_b, est_jaccard)`` with ``id_a < id_b`` and
    estimated Jaccard >= *threshold*.  Banding: r = num_hashes/bands rows
    per band; a pair collides if any band hash matches.

    Scale guards (both essential on boilerplate-heavy corpora where LSH
    degenerates toward all-pairs):

    * buckets larger than *max_bucket* are dropped before pairing — a hot
      bucket of size B contributes B^2/2 pairs, so one boilerplate cluster
      can otherwise dominate the whole job;
    * the band self-join carries only (bucket, id); the 64-long signatures
      are re-attached to the *surviving* candidate pairs afterwards.
    """
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    r = num_hashes // bands

    sigs = minhash_signatures_df(df, text_col, id_col, num_hashes,
                                 shingle_k, seed, method)

    # band bucket = one multi-arg xxhash64 over the band's signature
    # slots — pure long arithmetic, no per-doc string building/joining.
    # md5 mode buckets on the slots' decimal rendering joined with '|'
    # instead, so the bucket (hence the exact candidate set, incl. the
    # max_bucket cap) is reproducible in any engine — the property the
    # duckdb oracle needs.
    banded = sigs.select("__id", _band_key("__sig", bands, r,
                                           portable=(method == "md5"))
                         .alias("__band"))

    # bucket-size cap as a window count over the SAME __band exchange
    # the old groupBy + join-back paid twice (r13; the r12 PPJoin
    # document-frequency trick, guide §2.4) — identical rows, one
    # shuffle fewer
    cool = (banded
            .withColumn("__n", F.count(F.lit(1))
                        .over(Window.partitionBy("__band")))
            .where(F.col("__n") <= max_bucket).drop("__n"))

    left = cool.select(F.col("__id").alias("id_a"), "__band")
    right = cool.select(F.col("__id").alias("id_b"), "__band")
    pairs = (left.join(right, "__band")
             .where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b")
             .dropDuplicates(["id_a", "id_b"]))

    sig_a = sigs.select(F.col("__id").alias("id_a"), F.col("__sig").alias("sig_a"))
    sig_b = sigs.select(F.col("__id").alias("id_b"), F.col("__sig").alias("sig_b"))
    est = (F.size(F.filter(F.zip_with("sig_a", "sig_b",
                                      lambda a, b: a == b),
                           lambda x: x)).cast("double")
           / F.lit(float(num_hashes)))
    return (pairs.join(sig_a, "id_a").join(sig_b, "id_b")
            .withColumn("est_jaccard", est)
            .where(F.col("est_jaccard") >= threshold)
            .select("id_a", "id_b", "est_jaccard"))


def _band_key(sig_col: str, bands: int, r: int,
              portable: bool = False) -> F.Column:
    """Exploded (band, bucket) struct column over a signature array —
    bucket is one multi-arg xxhash64 of the band's slots (long-only), or
    in *portable* mode the slots' decimal strings joined with '|'
    (engine-portable for the duckdb oracle)."""
    def bucket(b: int) -> F.Column:
        slots = [F.element_at(sig_col, b * r + j + 1) for j in range(r)]
        if portable:
            return F.concat_ws("|", *[s.cast("string") for s in slots])
        return F.xxhash64(*slots)
    return F.explode(F.array(*[
        F.struct(F.lit(b).alias("band"), bucket(b).alias("bucket"))
        for b in range(bands)]))


def write_signature_store(df: DataFrame, path: str, text_col: str = "text",
                          id_col: str = "doc_id", num_hashes: int = 64,
                          shingle_k: int = 5, seed: int = 42,
                          mode: str = "overwrite",
                          method: str = "kperm") -> None:
    """Persist MinHash signatures as parquet ``(id, sig array<long>)``.

    The store makes dedup *incremental*: a daily append batch computes
    signatures only for its own docs and band-joins against the store —
    the full corpus is never re-shingled (at 100 TB, re-shingling is the
    whole cost).  The signature parameters (method, num_hashes,
    shingle_k, seed) are recorded in the store footer —
    :func:`incremental_minhash_pairs` and appends must match them.
    """
    params = {"method": method, "num_hashes": int(num_hashes),
              "shingle_k": int(shingle_k), "seed": int(seed)}
    sigs = minhash_signatures_df(df, text_col, id_col, num_hashes,
                                 shingle_k, seed, method)
    write_store(sigs.withColumnRenamed("__id", id_col)
                .withColumnRenamed("__sig", "sig"), path,
                [tuple(params.values())],
                "method string, num_hashes int, shingle_k int, seed int",
                mode, "signature store", params)


def incremental_minhash_pairs(spark, path: str, new_docs: DataFrame,
                              text_col: str = "text",
                              id_col: str = "doc_id",
                              num_hashes: int = 64, bands: int = 16,
                              shingle_k: int = 5, threshold: float = 0.7,
                              seed: int = 42, max_bucket: int = 200,
                              append: bool = True) -> DataFrame:
    """Near-dup pairs where at least one side is a NEW doc: new-vs-store
    plus new-vs-new, via the banded join against the signature store.

    Returns ``(id_a, id_b, est_jaccard)`` with ``id_a < id_b``; with
    ``append=True`` the new signatures are added to the store afterwards.
    ``store pairs ∪ incremental pairs ⊇ full-batch pairs``, with exact
    equality while band-bucket hotness is stable: the ``max_bucket``
    guard is evaluated per run, so a bucket that was cool when the store
    was built may cross the threshold in the combined corpus — earlier
    runs then keep pairs a from-scratch run would have suppressed.  Only
    the new batch is shingled; the store side reads (id, sig) parquet.

    Signature parameters must match the store footer's (banding kperm
    against md5 signatures, or two different seeds, silently produces
    garbage candidates); the method is the store's.  A store without a
    footer (pre-metadata) takes the caller's parameters.
    """
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    r = num_hashes // bands

    meta = read_footer(spark, path, required=False)
    check_footer("signature store", path, meta,
                 {"num_hashes": num_hashes, "shingle_k": shingle_k,
                  "seed": seed})
    method = meta[0]["method"] if meta else "kperm"

    new_sigs = minhash_signatures_df(new_docs, text_col, id_col,
                                     num_hashes, shingle_k, seed, method)
    new_sigs = new_sigs.localCheckpoint(eager=True)  # shingle ONCE
    store = (spark.read.parquet(path)
             .select(F.col(id_col).alias("__id"), F.col("sig").alias("__sig")))
    all_sigs = store.unionByName(new_sigs)

    new_banded = new_sigs.select("__id", _band_key("__sig", bands, r)
                                 .alias("__band"))
    all_banded = all_sigs.select("__id", _band_key("__sig", bands, r)
                                 .alias("__band"))
    sizes = all_banded.groupBy("__band").agg(F.count(F.lit(1)).alias("__n"))
    cool = sizes.where(F.col("__n") <= max_bucket).select("__band")
    left = (new_banded.join(cool, "__band")
            .select(F.col("__id").alias("id_a"), "__band"))
    right = (all_banded.join(cool, "__band")
             .select(F.col("__id").alias("id_b"), "__band"))
    pairs = (left.join(right, "__band")
             .where(F.col("id_a") != F.col("id_b"))
             .select(F.least("id_a", "id_b").alias("id_a"),
                     F.greatest("id_a", "id_b").alias("id_b"))
             .dropDuplicates(["id_a", "id_b"]))

    sig_a = all_sigs.select(F.col("__id").alias("id_a"),
                            F.col("__sig").alias("sig_a"))
    sig_b = all_sigs.select(F.col("__id").alias("id_b"),
                            F.col("__sig").alias("sig_b"))
    est = (F.size(F.filter(F.zip_with("sig_a", "sig_b",
                                      lambda a, b: a == b),
                           lambda x: x)).cast("double")
           / F.lit(float(num_hashes)))
    out = (pairs.join(sig_a, "id_a").join(sig_b, "id_b")
           .withColumn("est_jaccard", est)
           .where(F.col("est_jaccard") >= threshold)
           .select("id_a", "id_b", "est_jaccard"))
    if append:
        out = out.localCheckpoint(eager=True)  # materialize before append
        (new_sigs.withColumnRenamed("__id", id_col)
                 .withColumnRenamed("__sig", "sig")
                 .write.mode("append").parquet(path))
    return out


def simhash_df(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
               ngram: int = 2, bits: int = 64,
               hash: str = "xxhash64") -> DataFrame:
    """(id, simhash long) via explode + per-bit vote aggregates — the bulk
    path (same rationale as :func:`minhash_signatures_df`).

    ``hash="md5"`` is the engine-PORTABLE variant: the per-ngram hash is
    the first 15 hex chars of md5 read as a 60-bit integer (fits a
    signed long on every engine — no 64-bit overflow-semantics drift),
    so *bits* is capped at 60 and DuckDB can reproduce the signature
    bit-for-bit (``('0x' || substr(md5(g),1,15))::BIGINT``).  Oracle
    mode; production default stays xxhash64.
    """
    if hash == "md5":
        bits = min(bits, 60)
        h = F.conv(F.substring(F.md5(F.col("__g")), 1, 15), 16, 10) \
            .cast("long")
    elif hash == "xxhash64":
        h = F.xxhash64("__g")
    else:
        raise ValueError(f"unknown simhash hash [{hash}]")
    hashed = df.select(
        F.col(id_col).alias("__id"),
        F.explode(word_ngrams(text_col, ngram)).alias("__g")
    ).withColumn("__h", h)
    votes = [
        F.sum(F.when(F.shiftright("__h", b).bitwiseAND(F.lit(1)) == 1,
                     F.lit(1)).otherwise(F.lit(-1))).alias(f"__v{b}")
        for b in range(bits)]
    agg = hashed.groupBy("__id").agg(*votes)
    sim = F.lit(0).cast("long")
    for b in range(bits):
        sim = sim.bitwiseOR(
            F.when(F.col(f"__v{b}") > 0,
                   F.shiftleft(F.lit(1).cast("long"), b))
            .otherwise(F.lit(0).cast("long")))
    return agg.select("__id", sim.alias("__sim"))


def hamming64(a: F.Column | str, b: F.Column | str) -> F.Column:
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ca.bitwiseXOR(cb))


def hamming_pairs(sigs: DataFrame, id_col: str = "__id",
                  sig_col: str = "__sim", max_hamming: int = 3,
                  max_bucket: int = 200, chunk_bits: int = 16) -> DataFrame:
    """Near-dup pairs over ANY (id, 64-bit signature) frame with hamming
    distance <= *max_hamming* — the candidate machinery shared by text
    SimHash and perceptual image hashes.

    Candidates come from banding the 64-bit signature into four 16-bit
    chunks (pigeonhole: any pair within distance 3 shares at least one
    chunk), so the join is equi-key, never a cross product.  For
    ``max_hamming > 3`` the chunk guarantee weakens (a distance-4 pair
    can differ in all four chunks) — the result is then a documented
    high-recall-not-exhaustive candidate family.  Chunk buckets larger
    than *max_bucket* are dropped (boilerplate guard — same rationale as
    :func:`minhash_dedup`).
    """
    base = sigs.select(F.col(id_col).alias("__id"),
                       F.col(sig_col).alias("__sim"))
    mask = (1 << chunk_bits) - 1
    chunks = base.select(
        "__id",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("chunk"),
                     F.shiftright("__sim", i * chunk_bits)
                     .bitwiseAND(F.lit(mask)).alias("val"))
            for i in range(4)])).alias("__c"))
    sizes = chunks.groupBy("__c").agg(F.count(F.lit(1)).alias("__n"))
    cool = chunks.join(sizes.where(F.col("__n") <= max_bucket), "__c")
    left = cool.select(F.col("__id").alias("id_a"), "__c")
    right = cool.select(F.col("__id").alias("id_b"), "__c")
    pairs = (left.join(right, "__c")
             .where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b")
             .dropDuplicates(["id_a", "id_b"]))
    sim_a = base.select(F.col("__id").alias("id_a"),
                        F.col("__sim").alias("sim_a"))
    sim_b = base.select(F.col("__id").alias("id_b"),
                        F.col("__sim").alias("sim_b"))
    return (pairs.join(sim_a, "id_a").join(sim_b, "id_b")
            .withColumn("hamming", hamming64("sim_a", "sim_b"))
            .where(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def simhash_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  max_hamming: int = 3, ngram: int = 2,
                  max_bucket: int = 200, hash: str = "xxhash64") -> DataFrame:
    """Near-dup pairs with SimHash hamming distance <= *max_hamming* —
    :func:`simhash_df` signatures through the shared
    :func:`hamming_pairs` pigeonhole chunk join.  ``hash="md5"`` runs
    the 60-bit engine-portable signature (4 chunks of 15 bits; same
    pigeonhole guarantee) so the pair set is duckdb-reproducible."""
    chunk_bits = 15 if hash == "md5" else 16
    return hamming_pairs(simhash_df(df, text_col, id_col, ngram, hash=hash),
                         max_hamming=max_hamming, max_bucket=max_bucket,
                         chunk_bits=chunk_bits)


def _grams(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """``(__id, gram)``: one row per distinct word n-gram of each doc."""
    return df.select(F.col(id_col).alias("__id"),
                     F.explode(F.array_distinct(word_ngrams(text_col, n)))
                     .alias("gram"))


def _ranked_grams(grams: DataFrame, by: list[str]) -> DataFrame:
    """*grams* with ``__rn``, each gram's rank inside its doc (keyed by
    *by*) in the global (document frequency asc, gram) order, and
    ``__ng``, the doc's distinct-gram count."""
    # document frequency as a window count over the SAME gram exchange
    # the old groupBy+join-back paid twice (r12, guide §2.4: two
    # operations keyed the same way share one exchange) — identical
    # (doc, gram, __df) rows, one shuffle fewer
    w_doc = Window.partitionBy(*by).orderBy("__df", "gram")
    return (grams
            .withColumn("__df", F.count(F.lit(1))
                        .over(Window.partitionBy("gram")))
            .select(*by, "gram", "__df",
                    F.row_number().over(w_doc).alias("__rn"),
                    F.count(F.lit(1)).over(Window.partitionBy(*by))
                    .alias("__ng"))
            .drop("__df"))


def _prefix(ranked: DataFrame, t: float) -> DataFrame:
    """The rows of each doc's first ``|G| - ceil(t*|G|) + 1`` rarest
    grams: if every common gram of a pair sat outside that prefix, the
    overlap could be at most ``ceil(t*|G|) - 1 < t*|G|``."""
    # ceil guards against double rounding (0.3*10 = 3.0000000000000004
    # would shorten the prefix by one and MISS true pairs; the epsilon
    # can only lengthen it, which stays exact).
    return ranked.where(
        F.col("__rn") <= F.col("__ng")
        - F.ceil(F.lit(t) * F.col("__ng") - F.lit(1e-9)) + 1)


def _side(pref: DataFrame, out_id: str, s: str) -> DataFrame:
    """One side of a prefix join: ``(out_id, __n<s>, __r<s>, gram)``."""
    return pref.select(F.col("__id").alias(out_id),
                       F.col("__ng").alias(f"__n{s}"),
                       F.col("__rn").alias(f"__r{s}"), "gram")


def _jaccard_bounds(t: float) -> F.Column:
    """The size and positional filters of a symmetric prefix join over
    ``(__na, __ra)`` x ``(__nb, __rb)`` — both exact."""
    # Size filter: J(A,B) <= min(|G|)/max(|G|), so pairs whose gram-set
    # sizes differ beyond the threshold ratio are pruned at candidate
    # generation, before the dedup + verify stages.
    # Positional filter (PPJoin): a match at rank i of |A| and rank j of
    # |B| can contribute at most 1 + min(|A|-i, |B|-j) overlap; J >= t
    # needs overlap >= t/(1+t)*(|A|+|B|).  A true pair always survives
    # via its FIRST common gram (every common gram ranks at or after it
    # on both sides), so dropping rows that fail the bound before dedup
    # loses no pair.
    ov_req = (F.lit(t / (1.0 + t))
              * (F.col("__na") + F.col("__nb")) - F.lit(1e-9))
    return ((F.least("__na", "__nb")
             >= F.lit(t) * F.greatest("__na", "__nb") - F.lit(1e-9))
            & (F.lit(1) + F.least(F.col("__na") - F.col("__ra"),
                                  F.col("__nb") - F.col("__rb"))
               >= ov_req))


def _verify(cands: DataFrame, left: DataFrame, right: DataFrame,
            text_col: str, id_col: str, n: int, threshold: float,
            a: str, b: str, measure: str = "jaccard") -> DataFrame:
    """``(a, b, measure)`` for the candidate pairs ``(a, b)`` whose exact
    *measure* (``"jaccard"``, or ``"containment"`` of *a* in *b*)
    reaches *threshold*: set math over each side's distinct-gram hash
    array — ``array_intersect`` on longs, JVM-side, per-pair cost
    bounded by doc length, no gram shuffle."""
    def garr(df: DataFrame, out_id: str, out_g: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.array_distinct(F.transform(word_ngrams(text_col, n),
                                         lambda g: F.xxhash64(g)))
            .alias(out_g))

    inter = F.size(F.array_intersect("__ga", "__gb"))
    denom = (F.size("__ga") if measure == "containment"
             else F.size("__ga") + F.size("__gb") - inter)
    return (cands.join(garr(left, a, "__ga"), a)
            .join(garr(right, b, "__gb"), b)
            .withColumn(measure, inter.cast("double") / denom)
            .where(F.col(measure) >= threshold)
            .select(a, b, measure))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.5) -> DataFrame:
    """Exact word-n-gram Jaccard similarity for all qualifying pairs.

    Deterministic (integer set math + one double division) — this one IS
    SQL-expressible, so it carries a duckdb oracle in the harness.

    AllPairs/PPJoin prefix filtering [Bayardo et al., WWW'07; Chaudhuri
    et al., ICDE'06]: order grams globally by (document frequency asc,
    gram), and join docs only on the first ``|G| - ceil(t*|G|) + 1``
    rarest grams of each side — any pair with Jaccard >= t provably
    shares a gram in both prefixes.  Hot template grams sort LAST, so
    they never generate candidates: the quadratic hot-bucket blowup of
    the naive gram join is gone while the result stays exact.  Size and
    positional filters (PPJoin) prune candidates further; all three
    filters are provably lossless.  Candidates are then verified with
    per-pair ``array_intersect`` over hashed-gram arrays.  The naive
    gram self-join, ``_ngram_jaccard_bucket``, is the reference plan the
    tests pin this one against.
    """
    pref = _prefix(_ranked_grams(_grams(df, text_col, id_col, n),
                                 ["__id"]), threshold)
    cands = (_side(pref, "id_a", "a").join(_side(pref, "id_b", "b"), "gram")
             .where((F.col("id_a") < F.col("id_b"))
                    & _jaccard_bounds(threshold))
             .select("id_a", "id_b")
             .dropDuplicates(["id_a", "id_b"]))
    return _verify(cands, df, df, text_col, id_col, n, threshold,
                   "id_a", "id_b")


def containment_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 5,
                      threshold: float = 0.8) -> DataFrame:
    """Exact ASYMMETRIC near-dup pairs by n-gram containment:
    ``|grams(A) ∩ grams(B)| / |grams(A)| >= threshold`` — finds docs
    CONTAINED in others (quotes, excerpts, page-in-page syndication,
    prompt-in-completion leakage) that symmetric Jaccard misses: a
    100-word excerpt inside a 10k-word page has Jaccard ~0.01 but
    containment 1.0.

    Returns ``(id_a, id_b, containment)`` with **id_a the contained
    doc** (both directions emitted when containment is mutual).

    Scale shape — the asymmetric variant of the AllPairs prefix filter:
    only the CONTAINED side is prefix-reduced (its ``|G_A| -
    ceil(t*|G_A|) + 1`` globally-rarest grams), the container side joins
    on ALL its grams.  Candidates are pruned by the exact size bound
    ``|G_B| >= t*|G_A|`` (overlap can't exceed ``|G_B|``) and the
    positional bound ``1 + |G_A| - rank_A >= t*|G_A|``, then verified
    with per-pair ``array_intersect`` over hashed-gram arrays.  Hot
    template grams rank last and never enter the A-side prefix, so the
    candidate join stays sub-quadratic on skewed corpora.
    """
    ranked = _ranked_grams(_grams(df, text_col, id_col, n), ["__id"])
    cands = (_side(_prefix(ranked, threshold), "id_a", "a")
             .join(_side(ranked, "id_b", "b"), "gram")
             .where((F.col("id_a") != F.col("id_b"))
                    & (F.col("__nb")
                       >= F.lit(threshold) * F.col("__na") - F.lit(1e-9))
                    & (F.lit(1) + F.col("__na") - F.col("__ra")
                       >= F.lit(threshold) * F.col("__na") - F.lit(1e-9)))
             .select("id_a", "id_b")
             .dropDuplicates(["id_a", "id_b"]))
    return _verify(cands, df, df, text_col, id_col, n, threshold,
                   "id_a", "id_b", "containment")


def _ngram_jaccard_bucket(df: DataFrame, text_col: str, id_col: str,
                          n: int, threshold: float) -> DataFrame:
    """The naive exact plan: gram self-join + per-pair counting;
    quadratic in shared-gram bucket size.  The tests pin
    :func:`ngram_jaccard_pairs` against it.

    NOTE (measured): hashing grams to xxhash64 longs before this
    self-join was tried and REVERTED — at sf0.1 it ran 7.2-9.1 s vs
    5.9-8.2 s for string grams: the per-gram hash costs more than the
    shorter shuffle keys save when grams are short and template-heavy.
    (The prefix plan's verify stage DOES hash — there the arrays travel
    once per candidate pair, not once per gram occurrence, so key width
    dominates.)"""
    grams = _grams(df, text_col, id_col, n)
    sizes = grams.groupBy("__id").agg(F.count(F.lit(1)).alias("n_grams"))
    # NOTE (measured): pre-filtering singleton grams with a count>=2
    # semi-join before the self-join was tried and REVERTED — on corpora
    # with heavy template reuse (like this one) most grams are shared, so
    # the filter removes little while adding a full extra shuffle
    # (8.3 s vs 6.0 s at sf0.1).  On a low-duplication corpus it would
    # win; revisit if the gram-frequency profile changes.
    a = grams.select(F.col("__id").alias("id_a"), "gram")
    b = grams.select(F.col("__id").alias("id_b"), "gram")
    inter = (a.join(b, "gram")
             .where(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("n_common")))
    sa = sizes.select(F.col("__id").alias("id_a"), F.col("n_grams").alias("n_a"))
    sb = sizes.select(F.col("__id").alias("id_b"), F.col("n_grams").alias("n_b"))
    return (inter.join(sa, "id_a").join(sb, "id_b")
            .withColumn("jaccard",
                        F.col("n_common").cast("double")
                        / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def cross_ngram_jaccard_pairs(left: DataFrame, right: DataFrame,
                              text_col: str = "text", id_col: str = "doc_id",
                              n: int = 3, threshold: float = 0.5) -> DataFrame:
    """Exact cross-corpus word-n-gram Jaccard pairs — benchmark
    decontamination: find every (left, right) doc pair with Jaccard >=
    *threshold*, e.g. training docs that overlap an eval set.

    Same AllPairs/PPJoin prefix + size filtering as
    :func:`ngram_jaccard_pairs`, with the gram-frequency order computed
    over the UNION of both corpora (the prefix guarantee only needs one
    consistent global order applied to both sides), and candidates
    generated by a left-prefix x right-prefix equi-join — never a
    self-join, so a doc can't pair with its own side.  Hot boilerplate
    grams sort last and generate no candidates; exact per-pair
    ``array_intersect`` verification bounds work by candidate count.

    Returns ``(id_left, id_right, jaccard)``.  For the common "flag and
    drop contaminated training docs" step, anti-join ``left`` on
    ``id_left``.
    """
    lg, rg = (_grams(d, text_col, id_col, n)
              .select(F.lit(tag).alias("__side"), "__id", "gram")
              for tag, d in (("l", left), ("r", right)))
    pref = _prefix(_ranked_grams(lg.unionByName(rg), ["__side", "__id"]),
                   threshold)
    cands = (_side(pref.where(F.col("__side") == "l"), "id_left", "a")
             .join(_side(pref.where(F.col("__side") == "r"),
                         "id_right", "b"), "gram")
             .where(_jaccard_bounds(threshold))
             .select("id_left", "id_right")
             .dropDuplicates(["id_left", "id_right"]))
    return _verify(cands, left, right, text_col, id_col, n, threshold,
                   "id_left", "id_right")


def contamination_report(train: DataFrame, eval_df: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         n: int = 5) -> DataFrame:
    """Per-eval-doc n-gram contamination fractions — the report-style
    complement to :func:`cross_ngram_jaccard_pairs`: instead of pairwise
    similarity it answers "what fraction of each eval doc's distinct
    n-grams occur ANYWHERE in the training corpus" (the overlap metric
    used for benchmark-contamination audits in LLM training reports).

    Scale shape: the training side collapses to a distinct-gram set
    (one linear aggregation — an inverted index key set, no doc ids
    carried), and eval grams semi-join against it; no pairwise work at
    all, so train size only affects the gram-set shuffle.  Eval docs
    with no grams report ``n_grams = 0`` and fraction 0.0.

    Returns ``(id, n_grams, n_hit, contamination_frac)``.
    """
    eg = _grams(eval_df, text_col, id_col, n)
    tg = _grams(train, text_col, id_col, n).select("gram").distinct()
    totals = eg.groupBy("__id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (eg.join(tg, "gram", "left_semi")
            .groupBy("__id").agg(F.count(F.lit(1)).alias("n_hit")))
    return (eval_df.select(F.col(id_col).alias("__id"))
            .join(totals, "__id", "left").join(hits, "__id", "left")
            .select(F.col("__id").alias(id_col),
                    F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
                    F.coalesce("n_hit", F.lit(0)).alias("n_hit"))
            .withColumn(
                "contamination_frac",
                F.when(F.col("n_grams") > 0,
                       F.col("n_hit").cast("double") / F.col("n_grams"))
                .otherwise(F.lit(0.0))))


def decontaminate(train: DataFrame, eval_df: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  n: int = 3, threshold: float = 0.5) -> DataFrame:
    """Drop training docs that near-duplicate any eval doc (exact
    cross-corpus n-gram Jaccard via :func:`cross_ngram_jaccard_pairs`).
    Returns *train* minus contaminated rows; the anti-join keys are
    ids only, so nothing wide shuffles twice."""
    hits = (cross_ngram_jaccard_pairs(train, eval_df, text_col, id_col,
                                      n=n, threshold=threshold)
            .select(F.col("id_left").alias(id_col)).distinct())
    return train.join(hits, id_col, "left_anti")


def embedding_dedup(df: DataFrame, vec_col: str = "embedding",
                    id_col: str = "vec_id", threshold: float = 0.95,
                    n_planes: int = 16, seed: int = 42,
                    dims: int | None = None) -> DataFrame:
    """Semantic near-dup pairs: cosine >= threshold, LSH-bucketed.

    Random-hyperplane signature buckets candidates (narrow map + one
    equi-join); exact cosine verifies.  High thresholds keep buckets tight.
    Pass *dims* explicitly to keep the call fully lazy (otherwise one
    metadata-sized ``.first()`` job sizes the hyperplanes).  Rows whose
    vector length differs from *dims* are excluded — a wrong explicit
    *dims* yields an empty result (loud) rather than signatures over
    silently truncated vectors.
    """
    if dims is None:
        dims = len(df.select(vec_col).first()[0])
    planes = hyperplanes(dims, n_planes, seed)
    sigs = (df.where(F.size(F.col(vec_col)) == dims)
            .select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"),
                    hyperplane_signature(vec_col, planes).alias("__bucket")))
    left = sigs.select(F.col("__id").alias("id_a"), F.col("__v").alias("v_a"),
                       "__bucket")
    right = sigs.select(F.col("__id").alias("id_b"), F.col("__v").alias("v_b"),
                        "__bucket")
    return (left.join(right, "__bucket")
            .where(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
            .withColumn("cosine", cosine("v_a", "v_b"))
            .where(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def winnow_candidate_pairs(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", k: int = 8,
                           keep: int = 4, min_shared: int = 1,
                           max_bucket: int = 200) -> DataFrame:
    """Near-dup candidate pairs from winnowing fingerprints: docs sharing
    at least *min_shared* of their *keep* smallest k-shingle hashes
    (``functions.text.winnow_fingerprint``).

    The cheapest member of the dedup family: the fingerprint is ``keep``
    longs per doc (vs 64 for MinHash), the join is equi-key on single
    hash values, and there is no seed — fully deterministic.  Precision
    is coarser than MinHash banding; use it as a fast first sieve or for
    plagiarism-style containment detection (winnowing's original use).
    Hot fingerprint buckets above *max_bucket* are dropped — same
    boilerplate guard as the other pair generators.
    """
    from ..functions.text import winnow_fingerprint

    fps = df.select(F.col(id_col).alias("__id"),
                    F.explode(winnow_fingerprint(text_col, k, keep))
                    .alias("__fp"))
    sizes = fps.groupBy("__fp").agg(F.count(F.lit(1)).alias("__n"))
    cool = fps.join(sizes.where(F.col("__n") <= max_bucket), "__fp")
    left = cool.select(F.col("__id").alias("id_a"), "__fp")
    right = cool.select(F.col("__id").alias("id_b"), "__fp")
    return (left.join(right, "__fp")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .where(F.col("n_shared") >= min_shared))


def verified_near_dup_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", n: int = 5,
                            threshold: float = 0.5,
                            candidate_threshold: float | None = None,
                            num_hashes: int = 64, bands: int = 16,
                            shingle_k: int = 5, seed: int = 42,
                            max_bucket: int = 200) -> DataFrame:
    """EXACT word-n-gram Jaccard pairs, computed only for MinHash/LSH
    candidates — the production near-dup shape at 100 TB.

    :func:`ngram_jaccard_pairs` alone is exact but its gram self-join is
    super-linear; :func:`minhash_dedup` alone is sub-quadratic but
    approximate.  This composition gets both: LSH banding proposes
    candidates (linear-ish in corpus size), then each candidate pair is
    verified with exact set math over the two docs' distinct-gram hash
    arrays — ``array_intersect`` on longs, JVM-side, per-pair cost
    bounded by doc length, no gram shuffle at all.

    *candidate_threshold* is the (estimated-Jaccard) recall knob for the
    candidate stage; it defaults to ``threshold/2`` so banding over-
    generates and exact verification decides.  Returns
    ``(id_a, id_b, jaccard)`` — a SUBSET of the exact operator's output
    (pairs LSH never proposes are missed; that is the documented trade).
    """
    if candidate_threshold is None:
        candidate_threshold = threshold / 2
    cands = minhash_dedup(df, text_col, id_col, num_hashes, bands,
                          shingle_k, candidate_threshold, seed,
                          max_bucket).select("id_a", "id_b")
    return _verify(cands, df, df, text_col, id_col, n, threshold,
                   "id_a", "id_b")


def write_pair_store(pairs: DataFrame, path: str, *,
                     method: str = "verified", n: int = 5,
                     threshold: float = 0.2,
                     mode: str = "overwrite") -> None:
    """Persist verified near-dup pairs ``(id_a, id_b, jaccard)`` with a
    parameter footer — the "compute pairs once" store.

    A production pipeline runs pair generation (the expensive LSH-
    propose + exact-verify pass) ONCE per corpus snapshot, then every
    consumer — clustering, leakage-safe splits, PageRank, dedup drops —
    reads the store instead of regenerating.  The footer records
    (method, n, threshold): pairs mined with different gram sizes or
    thresholds must never be silently mixed or reused below their
    mining threshold.  Appends are idempotent.
    """
    params = {"method": method, "n": int(n), "threshold": float(threshold)}
    to_write = pairs.select("id_a", "id_b", "jaccard")
    prior = (read_if_exists(pairs.sparkSession, path)
             if mode == "append" else None)
    if prior is not None:
        # re-running the same mining job must not double edges:
        # anti-join the batch against the store on (id_a, id_b) so
        # appends are idempotent (downstream pagerank / connected
        # components would otherwise double-count duplicated pairs).
        to_write = to_write.join(prior.select("id_a", "id_b"),
                                 ["id_a", "id_b"], "left_anti")
    write_store(to_write, path, [tuple(params.values())],
                "method string, n int, threshold double", mode,
                "pair store", params)


def read_pairs(spark, path: str, *, method: str | None = None,
               n: int | None = None,
               threshold: float | None = None) -> DataFrame:
    """Read a :func:`write_pair_store` store, validating parameters.

    *threshold*, when given, may be HIGHER than the store's mining
    threshold (the stored jaccard values re-filter exactly); asking for
    a LOWER one raises — those pairs were never mined and silence here
    would under-report duplication.
    """
    meta = read_footer(spark, path)
    check_footer("pair store", path, meta,
                 {k: v for k, v in (("method", method), ("n", n))
                  if v is not None})
    pairs = spark.read.parquet(path)
    if threshold is not None:
        mined = meta[0]["threshold"]
        if float(threshold) < mined:
            raise ValueError(
                f"pair store at [{path}] was mined at threshold "
                f">= {mined}; pairs below that were never "
                f"generated — cannot serve threshold={threshold}")
        pairs = pairs.where(F.col("jaccard") >= float(threshold))
    return pairs


def edit_distance_pairs(df: DataFrame, value_col: str = "tok",
                        max_dist: int = 1) -> DataFrame:
    """Distinct-value pairs within Levenshtein distance 1 — typo/variant
    clustering for vocabularies, entity names, and near-identical short
    strings, where gram-overlap dedup is too coarse.

    Scale shape — the SymSpell deletion-neighborhood join [Garbe 2012],
    NOT a quadratic cross: every value emits itself plus its
    single-character deletions (len+1 variants, linear in value length);
    two strings at distance <= 1 provably share a variant (equal ->
    identity; substitution -> both delete that position; indel -> the
    longer one's deletion equals the shorter), so an equi-join on the
    variant finds every candidate.  Candidates then verify with the
    built-in ``levenshtein`` — exact, engine-portable, so the whole
    operator carries a SQL oracle.

    Only ``max_dist=1`` is supported (deletion neighborhoods for k>=2
    grow combinatorially; chain the operator over a normalized column
    instead).  Returns ``(val_a, val_b, dist)`` with ``val_a < val_b``.
    """
    if max_dist != 1:
        raise ValueError("edit_distance_pairs supports max_dist=1 only "
                         "(SymSpell deletion neighborhoods; see docstring)")
    vals = (df.select(F.col(value_col).cast("string").alias("val"))
            .where(F.col("val").isNotNull()).distinct())
    variants = vals.select(
        "val",
        F.explode(F.array_union(
            F.array(F.col("val")),
            F.expr("transform(sequence(1, length(val)), "
                   "i -> concat(substr(val, 1, i - 1), "
                   "substr(val, i + 1)))"))).alias("var"))
    cand = (variants.alias("a")
            .join(variants.alias("b"), "var")
            .where(F.col("a.val") < F.col("b.val"))
            .select(F.col("a.val").alias("val_a"),
                    F.col("b.val").alias("val_b"))
            .dropDuplicates(["val_a", "val_b"]))
    dist = F.levenshtein("val_a", "val_b")
    return (cand.withColumn("dist", dist)
            .where(F.col("dist") <= max_dist)
            .select("val_a", "val_b", "dist"))

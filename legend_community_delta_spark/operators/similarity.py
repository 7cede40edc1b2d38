"""Similarity search over embedding columns (``array<float>``).

Each shared decision has one home here: the cosine ranking tail
(:func:`_score`, :func:`_topk`, :func:`_topk_per_query`), the LSH plane
draw and probes (``functions.vectors.hyperplanes``/``signature_probes``),
the k-means init and Lloyd update (:func:`_first_vectors`,
:func:`_cell_means`), the PQ code choice (:func:`_nearest_code`) and cell
ranking (:func:`_centroid_sims`, :func:`_nearest_cells`).  Centroid ties
go to the LOWEST cell on every path, so an IVF query or kNN probe always
reaches the cell its tied data was written to.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions import local_df, read_footer, write_store
from ..functions.vectors import (cosine, dot, hyperplane_signature,
                                 hyperplanes, literal_vector,
                                 signature_probes)


def _score(vec: Column, query: Column) -> Column:
    """Cosine as the ``cosine`` column, rounded to 6 places — the
    rounding is what lets rows hash-match the DuckDB oracles."""
    return F.round(cosine(vec, query), 6).alias("cosine")


def _topk(scored: DataFrame, k: int, id_col: str) -> DataFrame:
    """The *k* best ``cosine`` rows, ties broken on *id_col*."""
    return scored.orderBy(F.desc("cosine"), F.col(id_col)).limit(k)


def _topk_per_query(scored: DataFrame, k: int, id_col: str,
                    query_id_col: str = "query_id") -> DataFrame:
    """:func:`_topk` per query, with its 1-based ``rank``."""
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"),
                                                 F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def cosine_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact top-k by cosine similarity to one query vector.

    Ties break on *id_col* so results are deterministic.
    """
    return _topk(df.select(F.col(id_col),
                           _score(F.col(vec_col), literal_vector(query_vec))),
                 k, id_col)


def cosine_topk_df(df: DataFrame, query_df: DataFrame, k: int = 10,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   query_vec_col: str | None = None) -> DataFrame:
    """Exact top-k where the query vector lives in a 1-row DataFrame.

    Fully lazy: the query side is broadcast into a cross join, so there
    is no driver round-trip (`.first()`) to fetch the vector — one job
    total, still planned as TakeOrderedAndProject.
    """
    qcol = query_vec_col or vec_col
    q = query_df.select(F.col(qcol).alias("__qv"))
    return _topk(df.crossJoin(F.broadcast(q))
                 .select(F.col(id_col), _score(F.col(vec_col), F.col("__qv"))),
                 k, id_col)


def cosine_topk_many(df: DataFrame, queries: DataFrame, k: int = 10,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     query_id_col: str = "query_id",
                     query_vec_col: str = "query_vec") -> DataFrame:
    """Top-k per query for a whole DataFrame of query vectors.

    The query side is broadcast (it is small by construction); ranking is a
    window partitioned by query — one shuffle keyed on query_id.
    """
    scored = df.crossJoin(F.broadcast(queries)).select(
        F.col(query_id_col), F.col(id_col),
        _score(F.col(vec_col), F.col(query_vec_col)))
    return _topk_per_query(scored, k, id_col, query_id_col)


def _first_vectors(df: DataFrame, n: int, vec_col: str,
                   id_col: str) -> list[list[float]]:
    """The first *n* vectors by id — the deterministic k-means init."""
    rows = df.select(id_col, vec_col).orderBy(id_col).limit(n).collect()
    if not rows:
        raise ValueError(f"no vectors in [{vec_col}] to seed k-means from")
    return [[float(x) for x in r[1]] for r in rows]


def _cell_means(assigned: DataFrame,
                keys: list[str]) -> dict[tuple, list[float]]:
    """One Lloyd update: the mean of the ``__v`` vectors per *keys* cell.
    Only non-empty cells appear, so an empty cell keeps its centroid."""
    acc: dict[tuple, dict[int, float]] = {}
    for r in (assigned.select(*keys, F.posexplode("__v")
                              .alias("__pos", "__x"))
              .groupBy(*keys, "__pos")
              .agg(F.avg("__x").alias("__m"))
              .collect()):
        acc.setdefault(tuple(r[k] for k in keys), {})[r["__pos"]] = r["__m"]
    return {key: [by_pos[p] for p in sorted(by_pos)]
            for key, by_pos in acc.items()}


def kmeans_centroids(df: DataFrame, n_centroids: int = 16, iters: int = 3,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     assume_normalized: bool = False) -> list[list[float]]:
    """A few Lloyd iterations over DataFrame ops (deterministic init:
    first n rows by id).  Centroid matrix is driver-sized
    (n_centroids x dims); assignment stays distributed.

    *assume_normalized*: with unit-length input vectors the per-centroid
    cosine can be computed as one dot against the driver-normalized
    centroid (``dot(v, c/|c|) == cosine(v, c)`` — cosine is
    scale-invariant in c), cutting assignment cost ~3x per iteration
    without changing any argmax."""
    centroids = _first_vectors(df, n_centroids, vec_col, id_col)
    for _ in range(iters):
        # assignment switches to the Arrow-vectorized matmul path past
        # 16 cells (see _assign_cells) — each Lloyd pass is O(n*k*d)
        assigned = _assign_cells(
            df.select(id_col, vec_col), centroids, vec_col, id_col,
            assume_normalized).select(
            F.col(vec_col).alias("__v"), F.col("__cell"))
        for (cell,), mean in _cell_means(assigned, ["__cell"]).items():
            centroids[cell] = mean
    return centroids


def _nearest_cells(query_vec: list[float], centroids: list[list[float]],
                   n_probe: int) -> list[int]:
    """The *n_probe* cells whose centroid is most cosine-similar to the
    driver-side query.  The sort is stable, so ties keep the lowest cell
    first — the rule of :func:`_centroid_sims`."""
    def _cos(c: list[float]) -> float:
        dot_ = sum(x * y for x, y in zip(query_vec, c))
        na = sum(x * x for x in query_vec) ** 0.5
        nb = sum(x * x for x in c) ** 0.5
        return dot_ / (na * nb) if na > 0 and nb > 0 else 0.0

    return sorted(range(len(centroids)),
                  key=lambda i: -_cos(centroids[i]))[:n_probe]


def ivf_topk(df: DataFrame, query_vec: list[float], k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             n_centroids: int = 16, n_probe: int = 4,
             refine_iters: int = 0) -> DataFrame:
    """IVF-style ANN: coarse-quantize into centroid cells, probe only the
    *n_probe* cells nearest the query, exact cosine inside.

    Centroids start as a deterministic sample (first *n_centroids* rows by
    id), optionally refined with *refine_iters* Lloyd rounds
    (:func:`kmeans_centroids`).  At production scale persist the cell
    assignment (bucketed by cell id) so each query scans
    ~n_probe/n_centroids of the table.
    """
    centroids = (kmeans_centroids(df, n_centroids, refine_iters, vec_col,
                                  id_col) if refine_iters > 0 else
                 _first_vectors(df, n_centroids, vec_col, id_col))
    candidates = df.withColumn(
        "__cell", _cell_col(centroids, vec_col)["cell"]).where(
        F.col("__cell").isin(_nearest_cells(query_vec, centroids, n_probe)))
    return cosine_topk(candidates, query_vec, k, vec_col, id_col)


def lsh_topk(df: DataFrame, query_vec: list[float], k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             n_planes: int = 12, multiprobe: bool = True,
             seed: int = 42) -> DataFrame:
    """Approximate top-k: probe the query's LSH bucket (plus all 1-bit
    neighbors when *multiprobe*), exact cosine inside candidates.

    At scale: persist the signature column (or bucket-partition the table)
    once, then every query scans ~1/2^n_planes of the data.
    """
    planes = hyperplanes(len(query_vec), n_planes, seed)
    candidates = df.where(hyperplane_signature(vec_col, planes).isin(
        signature_probes(query_vec, planes, multiprobe)))
    return cosine_topk(candidates, query_vec, k, vec_col, id_col)


def build_lsh_index(df: DataFrame, path: str, dims: int,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    n_planes: int = 8, seed: int = 42) -> None:
    """Persist an LSH index: the table rewritten as parquet
    **partitioned by signature bucket** (2^n_planes directories).

    Signatures are computed once at build time; a query then reads ONLY
    its probed buckets via partition pruning — ~(1+n_planes)/2^n_planes
    of the data per multiprobe query instead of a full scan.  Rebuild to
    change n_planes/seed (both are recorded in the index footer).
    """
    planes = hyperplanes(dims, n_planes, seed)
    write_store(df.withColumn("__sig", hyperplane_signature(vec_col, planes)),
                path, [(int(n_planes), int(seed), int(dims))],
                "n_planes int, seed int, dims int", partition_by="__sig")


def query_lsh_index(spark, path: str, query_vec: list[float], k: int = 10,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    multiprobe: bool = True) -> DataFrame:
    """Top-k against a :func:`build_lsh_index` index.

    The probe signatures are computed driver-side (the query vector is
    driver-sized by definition) and land on the partition column as an
    IN-list literal, so the scan is **partition-pruned** to the probed
    buckets — ~(1+n_planes)/2^n_planes of the index, the point of
    persisting it.  Plans show ``PartitionFilters: [__sig IN (...)]``.
    """
    n_planes, seed, dims = read_footer(spark, path)[0]
    if len(query_vec) != dims:
        raise ValueError(f"query dims {len(query_vec)} != index dims {dims}")
    probes = signature_probes(query_vec, hyperplanes(dims, n_planes, seed),
                              multiprobe)
    indexed = spark.read.parquet(path).where(F.col("__sig").isin(probes))
    return cosine_topk(indexed, query_vec, k, vec_col, id_col)


def build_ivf_index(df: DataFrame, path: str, n_centroids: int = 16,
                    refine_iters: int = 2, vec_col: str = "embedding",
                    id_col: str = "vec_id") -> list[list[float]]:
    """Persist an IVF index: rows rewritten as parquet **partitioned by
    centroid cell**; returns the centroids (driver-sized — persist them
    with the index for query time).

    Complements :func:`build_lsh_index` for corpora where k-means cells
    beat random hyperplanes (clustered embedding spaces): a query scans
    only its ``n_probe`` nearest cells via partition pruning.
    """
    centroids = kmeans_centroids(df, n_centroids, refine_iters,
                                 vec_col, id_col)
    write_store(df.withColumn("__cell", _cell_col(centroids, vec_col)["cell"]),
                path, list(enumerate(centroids)),
                "cell int, centroid array<double>", partition_by="__cell")
    return centroids


def query_ivf_index(spark, path: str, query_vec: list[float], k: int = 10,
                    n_probe: int = 4, vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """Top-k against a :func:`build_ivf_index` index: rank the stored
    centroids driver-side, read only the *n_probe* nearest cells
    (partition-pruned IN-list), exact cosine inside."""
    # the footer holds cells 0..n-1 in no fixed order; sorting by cell
    # makes a list index the cell, so ties pick the lowest one
    centroids = [list(r["centroid"]) for r in
                 sorted(read_footer(spark, path), key=lambda r: r["cell"])]
    probe = _nearest_cells(query_vec, centroids, n_probe)
    indexed = spark.read.parquet(path).where(F.col("__cell").isin(probe))
    return cosine_topk(indexed, query_vec, k, vec_col, id_col)


def lsh_topk_df(df: DataFrame, query_df: DataFrame, dims: int, k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id",
                n_planes: int = 12, multiprobe: bool = True,
                seed: int = 42, n_tables: int = 1,
                query_vec_col: str | None = None) -> DataFrame:
    """:func:`lsh_topk` with the query vector in a 1-row DataFrame and an
    explicit *dims* (the hyperplanes are driver constants sized by it).

    The bucket probe becomes a broadcast join on hamming distance of the
    signatures (0 = same bucket, <=1 with *multiprobe*) — no driver
    ``.first()`` job to fetch the vector or compute its signature.

    **Recall knobs.** Expected candidate count per single-table probe is
    ``N * (1 + n_planes*multiprobe) / 2^n_planes`` — size *n_planes* so
    that comfortably exceeds *k*.  When one table's recall tops out
    (weak neighbor structure, aggressive n_planes), raise *n_tables*:
    L independent hyperplane sets are probed and their candidates
    unioned (classic OR-amplification), so per-pair miss probability
    falls geometrically, ``(1 - p1)^L``.  Candidate volume grows ~L×;
    recall floors for both knobs are pinned in
    tests/test_curation.py::test_ann_recall_floors and PERF.md.

    *dims* is trusted to size the hyperplanes, so both sides are
    filtered to vectors of exactly that length — a wrong *dims* returns
    no candidates (loudly empty) instead of silently degraded
    signatures over truncated vectors.
    """
    flat = hyperplanes(dims, n_planes * n_tables, seed)
    tables = [flat[t * n_planes:(t + 1) * n_planes] for t in range(n_tables)]
    qcol = query_vec_col or vec_col
    q = query_df.where(F.size(F.col(qcol)) == dims).select(
        F.col(qcol).alias("__qv"),
        *[hyperplane_signature(qcol, planes).alias(f"__qsig{t}")
          for t, planes in enumerate(tables)])
    max_dist = 1 if multiprobe else 0
    hit_any = None
    for t, planes in enumerate(tables):
        hit = (F.bit_count(hyperplane_signature(vec_col, planes)
                           .bitwiseXOR(F.col(f"__qsig{t}"))) <= max_dist)
        hit_any = hit if hit_any is None else (hit_any | hit)
    cand = df.where(F.size(F.col(vec_col)) == dims).join(
        F.broadcast(q), hit_any)
    return _topk(cand.select(F.col(id_col),
                             _score(F.col(vec_col), F.col("__qv"))),
                 k, id_col)


def ann_recall(df: DataFrame, queries: DataFrame, approx_fn, k: int = 10,
               vec_col: str = "embedding", id_col: str = "vec_id",
               query_id_col: str = "query_id",
               query_vec_col: str = "query_vec") -> DataFrame:
    """Measured recall@k of an approximate search against exact
    brute-force ground truth: ``(query_id, hits, recall)`` per query.

    *approx_fn(one_query_df) -> DataFrame[(id_col, ...)]* runs the
    approximate method for a single query row (e.g. a
    :func:`lsh_topk_df` or :func:`query_ivf_index` closure).  Ground
    truth comes from :func:`cosine_topk_many` over the same *queries*.
    The per-query calls run concurrently on a 4-thread pool, so
    *approx_fn* must not mutate shared state.

    ANN knobs (n_planes, multiprobe, n_probe, n_centroids) trade
    candidate-set size against recall; this is the harness that turns
    that trade-off from a guess into a number.  Queries is small by
    construction (it is the probe sample, not the corpus), so the
    per-query loop drives one bounded Spark job each — measurement
    tooling, not a hot path.
    """
    truth_sets: dict = {}
    for r in cosine_topk_many(df, queries, k, vec_col, id_col,
                              query_id_col, query_vec_col).collect():
        truth_sets.setdefault(r[query_id_col], set()).add(r[id_col])

    def _one(q):
        got = {r[id_col] for r in approx_fn(
            queries.where(F.col(query_id_col) == q[query_id_col])).collect()}
        expect = truth_sets.get(q[query_id_col], set())
        hits = len(got & expect)
        return (q[query_id_col], hits,
                hits / len(expect) if expect else 1.0)

    # the per-query probes are independent bounded jobs — submit a few
    # concurrently so each job's scheduling tail back-fills the others
    # (guide §2.6); pool.map preserves query order, so output rows are
    # identical to the old sequential loop
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=4) as pool:
        rows = list(pool.map(_one, queries.collect()))
    return local_df(df.sparkSession, rows,
                    f"{query_id_col} long, hits int, recall double")


def _nearest_code(cents: Column, v: Column) -> Column:
    """Index of the L2-nearest centroid in the array *cents* (the first
    on ties) — training and encoding must pick codes the same way.  The
    squared distance sums left to right, like ``vectors.dot``."""
    dists = F.transform(cents, lambda c: F.aggregate(
        F.zip_with(c, v, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0), lambda acc, s: acc + s))
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def pq_train(df: DataFrame, dims: int, m: int = 8, n_codes: int = 16,
             iters: int = 3, vec_col: str = "embedding",
             id_col: str = "vec_id") -> list[list[list[float]]]:
    """Train product-quantization codebooks: split *dims* into *m*
    subspaces and run per-subspace k-means (L2) with *n_codes* centroids
    each.  Returns ``codebooks[m][n_codes][dims/m]`` — driver-sized
    metadata (m*n_codes*dims/m = n_codes*dims floats).

    PQ is the memory story for 100 TB embedding search: a 64-dim float
    vector (256 B) compresses to m code bytes (8 B at m=8, n_codes<=256)
    — 32×, enough to hold a corpus's worth of codes where raw vectors
    would spill.  Jegou et al., "Product Quantization for Nearest
    Neighbor Search" (TPAMI 2011).

    All m subspaces train in ONE distributed job per Lloyd iteration:
    each vector explodes into its m subvectors tagged by subspace index,
    assignment is an argmin over the (literal) subspace codebook, and
    the new means come from one groupBy (subspace, code, position) —
    linear shuffles keyed by small ints.  Init is deterministic (first
    *n_codes* rows by id, sliced per subspace); empty cells keep their
    previous centroid.
    """
    if dims % m != 0:
        raise ValueError(f"dims [{dims}] must divide into m [{m}] subspaces")
    d = dims // m
    base = df.where(F.size(F.col(vec_col)) == dims)
    init = _first_vectors(base, n_codes, vec_col, id_col)
    if len(init) < n_codes:
        raise ValueError(
            f"need >= n_codes [{n_codes}] vectors of dims [{dims}]; "
            f"found {len(init)}")
    codebooks = [[v[j * d:(j + 1) * d] for v in init] for j in range(m)]
    for _ in range(iters):
        cb = F.array(*[F.array(*[literal_vector(code) for code in codes_j])
                       for codes_j in codebooks])
        subs = base.select(
            F.posexplode(F.array(*[F.slice(F.col(vec_col), j * d + 1, d)
                                   for j in range(m)]))
            .alias("__sub", "__v"))
        code = _nearest_code(F.element_at(cb, F.col("__sub") + 1),
                             F.col("__v"))
        for (j, c), mean in _cell_means(subs.withColumn("__code", code),
                                        ["__sub", "__code"]).items():
            codebooks[j][c] = mean
    return codebooks


def pq_encode(df: DataFrame, codebooks: list[list[list[float]]],
              vec_col: str = "embedding",
              id_col: str = "vec_id") -> DataFrame:
    """Encode vectors to PQ codes: ``(id, codes array<int>)`` with
    ``codes[j]`` = index of the nearest subspace-*j* centroid.  Pure
    Column algebra over the literal codebooks — narrow, no shuffle;
    vectors of the wrong width are dropped (loudly absent, matching the
    LSH dims contract).  The codes frame is what you persist: m small
    ints per vector instead of the raw floats."""
    m = len(codebooks)
    d = len(codebooks[0][0])
    dims = m * d
    codes = [_nearest_code(F.array(*[literal_vector(code)
                                     for code in codebooks[j]]),
                           F.slice(F.col(vec_col), j * d + 1, d))
             for j in range(m)]
    return (df.where(F.size(F.col(vec_col)) == dims)
            .select(F.col(id_col), F.array(*codes).alias("codes")))


def pq_topk(codes_df: DataFrame, query_vec: list[float],
            codebooks: list[list[list[float]]], k: int = 10,
            id_col: str = "vec_id", codes_col: str = "codes") -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    exact, each code looks its subspace distance up in a precomputed
    ``m × n_codes`` table, the approximate distance is the sum of m
    lookups.  Returns ``(id, adc_dist)`` ascending (squared L2 — on
    unit-normalized vectors equivalent to cosine ranking, since
    ``|a-b|² = 2 - 2·cos``).

    The distance tables are driver-computed from the driver-sized query
    (m*n_codes floats) and enter the plan as literals, so scoring is a
    narrow map over the codes frame — no join, no shuffle — and the
    ranking is ``TakeOrderedAndProject``.  This is the scan that runs
    over compressed codes only; re-rank the top candidates against raw
    vectors afterwards when exact order matters.
    """
    m = len(codebooks)
    d = len(codebooks[0][0])
    if len(query_vec) != m * d:
        raise ValueError(
            f"query dims {len(query_vec)} != codebook dims {m * d}")
    tables = [
        [sum((float(query_vec[j * d + p]) - c[p]) ** 2 for p in range(d))
         for c in codebooks[j]]
        for j in range(m)]
    tbl = F.array(*[F.array(*[F.lit(v) for v in row]) for row in tables])
    score = None
    for j in range(m):
        term = F.element_at(F.element_at(tbl, j + 1),
                            F.element_at(F.col(codes_col), j + 1) + 1)
        score = term if score is None else score + term
    return (codes_df.select(F.col(id_col),
                            F.round(score, 6).alias("adc_dist"))
            .orderBy("adc_dist", F.col(id_col))
            .limit(k))


def build_pq_index(df: DataFrame, path: str, dims: int, m: int = 8,
                   n_codes: int = 16, iters: int = 3,
                   vec_col: str = "embedding",
                   id_col: str = "vec_id") -> list[list[list[float]]]:
    """Train + encode + persist a PQ index: the codes frame as parquet
    (m ints per vector — the 32× memory story) plus the codebooks in a
    store footer.  Returns the codebooks."""
    codebooks = pq_train(df, dims, m, n_codes, iters, vec_col, id_col)
    flat = [(j, c, [float(x) for x in code])
            for j, codes_j in enumerate(codebooks)
            for c, code in enumerate(codes_j)]
    write_store(pq_encode(df, codebooks, vec_col, id_col), path, flat,
                "sub int, code int, centroid array<double>")
    return codebooks


def query_pq_index(spark, path: str, query_vec: list[float], k: int = 10,
                   id_col: str = "vec_id") -> DataFrame:
    """ADC top-k against a :func:`build_pq_index` index: codebooks load
    from the store footer (driver-sized), the scan touches ONLY the
    compressed codes parquet."""
    by_sub: dict[int, dict[int, list[float]]] = {}
    for r in read_footer(spark, path):
        by_sub.setdefault(r["sub"], {})[r["code"]] = list(r["centroid"])
    codebooks = [[by_sub[j][c] for c in sorted(by_sub[j])]
                 for j in sorted(by_sub)]
    return pq_topk(spark.read.parquet(path), query_vec, codebooks, k,
                   id_col)


def pq_topk_refined(df: DataFrame, codes_df: DataFrame,
                    query_vec: list[float],
                    codebooks: list[list[list[float]]], k: int = 10,
                    refine_factor: int = 10, vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """The production PQ pipeline: ADC over compressed codes shortlists
    ``k * refine_factor`` candidates (cheap — m table lookups per
    vector, scan touches codes only), then the shortlist re-ranks with
    EXACT cosine against the raw vectors (expensive per row, but only
    ``k * refine_factor`` rows fetch their floats).  Returns
    ``(id, cosine)`` — the accuracy knob is *refine_factor*; recall
    floors are pinned in tests.

    Scale shape: the shortlist is k*refine_factor ids — broadcast into
    a semi-join against the vector table (at production scale the
    vector fetch is a point-lookup table; here a broadcast-hash join),
    then TakeOrderedAndProject for the final k.
    """
    shortlist = pq_topk(codes_df, query_vec, codebooks,
                        k * refine_factor, id_col).select(id_col)
    cand = df.join(F.broadcast(shortlist), id_col, "left_semi")
    return cosine_topk(cand, query_vec, k, vec_col, id_col)


# ---------------------------------------------------------------------------
# SemDeDup — semantic deduplication inside k-means cells
# ---------------------------------------------------------------------------

def _unit(v: list[float]) -> list[float]:
    n = sum(x * x for x in v) ** 0.5
    return [x / n for x in v] if n > 0 else list(v)


def _centroid_sims(centroids: list[list[float]], vec_col: str,
                   assume_normalized: bool = False) -> Column:
    """``array<struct<sim, negcell>>``: the similarity of *vec_col* to
    each (literal) centroid.  When the input vectors are unit-normalized,
    ``dot(v, c/|c|) == cosine(v, c)`` exactly, so *assume_normalized*
    swaps each per-centroid cosine (dot + two norms) for one dot against
    the driver-normalized centroid — 3x fewer interpreted lambda
    evaluations in the scan."""
    # struct comparison is lexicographic, so storing -cell makes the
    # greatest struct break similarity TIES toward the LOWEST cell index
    # — matching numpy argmax in the vectorized path and the stable sort
    # of _nearest_cells (ties are real for all-zero vectors or duplicate
    # centroids)
    def sim(c: list[float]) -> Column:
        if assume_normalized:
            return dot(F.col(vec_col), literal_vector(_unit(c)))
        return cosine(F.col(vec_col), literal_vector(c))
    return F.array(*[F.struct(sim(c).alias("sim"), F.lit(-i).alias("negcell"))
                     for i, c in enumerate(centroids)])


def _cell_col(centroids: list[list[float]], vec_col: str,
              assume_normalized: bool = False) -> Column:
    """argmax-cosine cell assignment plus the winning similarity —
    centroids are literals, so assignment is a narrow map."""
    best = F.array_max(_centroid_sims(centroids, vec_col, assume_normalized))
    return F.struct((-best["negcell"]).alias("cell"),
                    best["sim"].alias("csim"))


def _assign_cells(df: DataFrame, centroids: list[list[float]],
                 vec_col: str, id_col: str,
                 assume_normalized: bool = False,
                 method: str = "auto") -> DataFrame:
    """``(id, vec, __cell, __csim)`` — argmax-cosine cell assignment.

    Two physical strategies, same result — including on similarity TIES
    (all-zero vectors, duplicate centroids): both paths break toward the
    LOWEST cell index, so results cannot change when the centroid count
    crosses the 16-cell threshold or *method* is forced.

    * **literal** (<= 16 cells): one Column expression of per-centroid
      folds — zero extra exchange, fine while the expression stays
      small;
    * **vectorized** (> 16 cells): Arrow-batched ``mapInPandas`` doing
      ONE numpy matmul per batch against the (k x d) centroid matrix.
      Spark's higher-order lambdas evaluate interpreted, so the literal
      expression costs n*k*d interpreted evals — at the SemDeDup
      paper's cell counts (~100k) that is the difference between hours
      and seconds (measured: 500 cells x 50k vecs, 1833 s -> ~15 s).
      argmax(cosine) == argmax(dot v, unit(c)) for every |v| > 0, so
      normalization of v only rescales ``__csim``, never the cell.
    """
    if method == "auto":
        # measured crossover: 50 literal cells already lose to 500
        # vectorized cells on 10x the data — keep literal only for
        # expression-tiny cell counts
        method = "literal" if len(centroids) <= 16 else "vectorized"
    if method == "literal":
        return df.select(
            F.col(id_col), F.col(vec_col),
            _cell_col(centroids, vec_col, assume_normalized).alias("__a")
        ).select(id_col, vec_col,
                 F.col("__a.cell").alias("__cell"),
                 F.col("__a.csim").alias("__csim"))
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    C = np.asarray(centroids, dtype=np.float64)
    cn = np.linalg.norm(C, axis=1)
    Cu = C / np.where(cn == 0, 1, cn)[:, None]

    fields = {f.name: f for f in df.schema.fields}
    schema = T.StructType([
        fields[id_col], fields[vec_col],
        T.StructField("__cell", T.IntegerType(), False),
        T.StructField("__csim", T.DoubleType(), False)])

    def batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            sims = M @ Cu.T                      # (n, k)
            cells = sims.argmax(1)
            best = sims[np.arange(len(cells)), cells]
            if not assume_normalized:
                nrm = np.linalg.norm(M, axis=1)
                best = np.where(nrm > 0, best / np.where(nrm == 0, 1, nrm),
                                0.0)
            yield pd.DataFrame({
                id_col: pdf[id_col], vec_col: pdf[vec_col],
                "__cell": cells.astype("int32"), "__csim": best})

    return df.select(id_col, vec_col).mapInPandas(batches, schema)


def semdedup_pairs(df: DataFrame, vec_col: str = "embedding",
                   id_col: str = "vec_id", threshold: float = 0.95,
                   n_cells: int = 16, iters: int = 2,
                   max_cell: int | None = None,
                   centroids: list[list[float]] | None = None,
                   assume_normalized: bool = False) -> DataFrame:
    """Semantic near-duplicate pairs, SemDeDup-style (Abbas et al. 2023,
    arXiv:2303.09540): k-means coarsely partitions the embedding space,
    and exact pairwise cosine runs ONLY inside each cell — the
    within-cell join replaces the corpus-quadratic all-pairs comparison
    with per-cell work that shrinks as ``n_cells`` grows (the paper runs
    ~100k cells at web scale; candidate recall is the pairs whose
    endpoints land in the same cell, the documented approximation).

    Returns ``(id_a, id_b, cos_sim, cell)`` with ``id_a < id_b`` and
    ``cos_sim >= threshold``.  ``max_cell`` caps runaway cells (rows
    beyond the cap — in deterministic id order — propose no pairs),
    the same hot-bucket guard the LSH families use.

    Scale shape: centroid matrix is driver-sized metadata (same
    precedent as :func:`kmeans_centroids`); assignment is a narrow map;
    the only shuffle keys on the cell id, and the self-join carries
    (id, vector) for in-cell rows only.  In-cell parallelism equals
    ``n_cells`` — size cells to a target occupancy (the paper runs
    ~100k cells at web scale; beyond ~1k cells switch assignment from
    the literal-array argmax to a broadcast-join argmin).  Pass
    ``assume_normalized=True`` when vectors are pre-unit-normalized:
    pair scoring then evaluates ONE dot product instead of
    dot + two norms (3x less per-pair work in the quadratic stage).
    """
    if centroids is None:
        centroids = kmeans_centroids(df, n_cells, iters, vec_col, id_col,
                                     assume_normalized=assume_normalized)
    assigned = _assign_cells(df, centroids, vec_col, id_col,
                             assume_normalized)
    if max_cell is not None:
        w = Window.partitionBy("__cell").orderBy(id_col)
        assigned = (assigned.withColumn("__rn", F.row_number().over(w))
                    .where(F.col("__rn") <= max_cell).drop("__rn"))
    a = assigned.select(F.col("__cell"),
                        F.col(id_col).alias("id_a"),
                        F.col(vec_col).alias("__va"))
    b = assigned.select(F.col("__cell"),
                        F.col(id_col).alias("id_b"),
                        F.col(vec_col).alias("__vb"))
    score = (dot(F.col("__va"), F.col("__vb")) if assume_normalized
             else cosine(F.col("__va"), F.col("__vb")))
    return (a.join(b, "__cell")
            .where(F.col("id_a") < F.col("id_b"))
            .withColumn("cos_sim", score)
            .where(F.col("cos_sim") >= threshold)
            .select("id_a", "id_b", "cos_sim",
                    F.col("__cell").alias("cell")))


def semdedup(df: DataFrame, vec_col: str = "embedding",
             id_col: str = "vec_id", threshold: float = 0.95,
             n_cells: int = 16, iters: int = 2,
             max_cell: int | None = None,
             keep: str = "farthest") -> DataFrame:
    """Drop semantic near-duplicates, keeping one doc per duplicate
    component.  ``keep='farthest'`` is the paper's rule — the survivor
    is the member FARTHEST from its cell centroid (lowest centroid
    cosine), which keeps the least-generic member of a duplicate
    cluster; ``keep='min_id'`` is the deterministic baseline.

    Transitive: survivors are chosen per connected component of the
    pair graph, so chains of pairwise-similar docs collapse to one."""
    from .graph import connected_components

    centroids = kmeans_centroids(df, n_cells, iters, vec_col, id_col)
    pairs = semdedup_pairs(df, vec_col, id_col, threshold, n_cells,
                           iters, max_cell, centroids=centroids)
    if keep == "min_id":
        from .graph import drop_near_dups
        return drop_near_dups(df, pairs, id_col)
    if keep != "farthest":
        raise ValueError(f"keep must be 'farthest' or 'min_id', got {keep!r}")
    scored = df.withColumn(
        "__far", -_cell_col(centroids, vec_col)["csim"])
    comp = connected_components(pairs)
    labeled = scored.join(
        comp.withColumnRenamed("id", id_col), id_col, "inner")
    w = Window.partitionBy("component").orderBy(
        F.desc("__far"), F.col(id_col))
    losers = (labeled.withColumn("__rn", F.row_number().over(w))
              .where(F.col("__rn") > 1).select(id_col))
    return df.join(losers, id_col, "left_anti")


def semantic_contamination(train: DataFrame, eval_df: DataFrame,
                           vec_col: str = "embedding",
                           id_col: str = "vec_id",
                           threshold: float = 0.9,
                           n_cells: int = 16, iters: int = 2,
                           assume_normalized: bool = False) -> DataFrame:
    """Cross-corpus SEMANTIC contamination screen: eval items whose
    embedding is near-identical to a training item — the paraphrase-
    level leak that exact n-gram decontamination
    (``dedup.cross_ngram_jaccard_pairs``) cannot see.

    Same sub-quadratic shape as SemDeDup, applied across two corpora:
    k-means cells are trained on the TRAIN side (the big one — eval
    items quantize into train's space), both sides assign cells as a
    narrow map, and exact cosine runs only on same-cell
    (eval × train) candidates.  Returns
    ``(eval_id, train_id, cos_sim, cell)``; feed the eval_ids into an
    anti-join to quarantine, or the train_ids to scrub the train set.

    Candidate recall is same-cell co-location (the documented SemDeDup
    approximation — raise ``n_cells``/``iters`` to tighten cells); a
    contaminated pair missed by cells at threshold t is one whose
    members quantized differently despite cosine >= t.
    """
    centroids = kmeans_centroids(train, n_cells, iters, vec_col, id_col,
                                 assume_normalized=assume_normalized)
    def _assign(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id), F.col(vec_col).alias(out_vec),
            _cell_col(centroids, vec_col, assume_normalized)["cell"]
            .alias("__cell"))
    ev = _assign(eval_df, "eval_id", "__ve")
    tr = _assign(train, "train_id", "__vt")
    score = (dot(F.col("__ve"), F.col("__vt")) if assume_normalized
             else cosine(F.col("__ve"), F.col("__vt")))
    return (ev.join(tr, "__cell")
            .withColumn("cos_sim", score)
            .where(F.col("cos_sim") >= threshold)
            .select("eval_id", "train_id", "cos_sim",
                    F.col("__cell").alias("cell")))


def hard_negatives(df: DataFrame, queries: DataFrame, k: int = 10,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   label_col: str = "label",
                   query_id_col: str = "query_id",
                   query_vec_col: str = "query_vec",
                   query_label_col: str = "query_label") -> DataFrame:
    """Hard-negative mining for contrastive / retrieval training: per
    query, the *k* MOST-similar vectors whose label differs from the
    query's — the near-miss negatives that teach a bi-encoder the
    decision boundary (random negatives are too easy to be informative).

    Same plan shape as :func:`cosine_topk_many` — broadcast query side,
    label inequality filtered BEFORE ranking (so the window ranks only
    eligible rows), one shuffle keyed on query_id.  Returns
    ``(query_id, vec_id, label, cosine, rank)``.
    """
    joined = (df.crossJoin(F.broadcast(queries))
              .where(F.col(label_col) != F.col(query_label_col)))
    scored = joined.select(
        F.col(query_id_col), F.col(id_col), F.col(label_col),
        _score(F.col(vec_col), F.col(query_vec_col)))
    return _topk_per_query(scored, k, id_col, query_id_col)


def knn_graph(df: DataFrame, k: int = 10, vec_col: str = "embedding",
              id_col: str = "vec_id",
              queries: DataFrame | None = None) -> DataFrame:
    """Brute-force kNN graph: for every query vector (default: every
    vector — the full self-graph), its *k* nearest neighbors by cosine,
    self-matches excluded — ``(query_id, vec_id, cosine, rank)``.

    This is the VERIFICATION-scale path: the query side broadcasts and
    every (query, vector) pair is scored — quadratic when queries=df.
    At corpus scale build the graph with :func:`knn_graph_cells`
    (within-cell candidates only) and pin its recall against a sampled
    slice of this exact graph."""
    q = (df if queries is None else queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    joined = (df.crossJoin(F.broadcast(q))
              .where(F.col(id_col) != F.col("query_id")))
    return _topk_per_query(
        joined.select("query_id", F.col(id_col),
                      _score(F.col(vec_col), F.col("__qv"))), k, id_col)


def knn_graph_cells(df: DataFrame, k: int = 10,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    n_cells: int = 16, n_probe: int = 2, iters: int = 2,
                    centroids: list[list[float]] | None = None,
                    assume_normalized: bool = False) -> DataFrame:
    """Corpus-scale kNN graph: candidates restricted to k-means cells
    (data side lives in its PRIMARY cell; each query probes its
    *n_probe* nearest cells), exact cosine + top-k inside — the
    SemDeDup-shaped join generalized from threshold pairs to per-vector
    neighbor lists.  Same schema as :func:`knn_graph`; a neighbor is
    missed only when it lands outside every probed cell (recall floor
    pinned in tests against the brute graph).

    Scale: centroid matrix is driver-sized metadata; the only shuffle
    keys on the cell id; per-cell work tracks occupancy, so size
    ``n_cells`` to a target cell size exactly as SemDeDup does."""
    if centroids is None:
        centroids = kmeans_centroids(df, n_cells, iters, vec_col, id_col,
                                     assume_normalized=assume_normalized)
    data = df.select(
        F.col(id_col), F.col(vec_col),
        _cell_col(centroids, vec_col, assume_normalized)["cell"]
        .alias("__cell"))
    probes = F.slice(F.reverse(F.array_sort(
        _centroid_sims(centroids, vec_col, assume_normalized))), 1, n_probe)
    q = df.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"),
        F.explode(F.transform(probes, lambda p: -p["negcell"]))
        .alias("__cell"))
    joined = (data.join(q, "__cell")
              .where(F.col(id_col) != F.col("query_id")))
    # a (query, vector) pair can meet in several probed cells; dedup
    # before ranking so rank positions stay unique
    scored = joined.select(
        "query_id", F.col(id_col), _score(F.col(vec_col), F.col("__qv"))
    ).dropDuplicates(["query_id", id_col])
    return _topk_per_query(scored, k, id_col)

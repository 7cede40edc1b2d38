"""Distributed BPE (byte-pair-encoding) tokenizer training — the vocab-
construction stage of a pretraining pipeline, re-expressed Spark-first.

BPE training [Sennrich et al., ACL'16] iterates: count adjacent symbol
pairs across the corpus, merge the most frequent pair everywhere,
repeat.  The Spark shape exploits that everything happens on the
**distinct-word table weighted by corpus frequency** (the classic
trick): a 100 TB corpus has a vocabulary of maybe 10^7 distinct words,
so per-round work is vocabulary-sized, not corpus-sized — one explode +
one weighted count per round, with ONE single-row driver fetch (the
argmax pair — metadata, same budget as the connected-components
convergence probe).  Greedy left-to-right pair merging inside a word is
a fold, expressed as ``F.aggregate`` over the symbol array (an
interpreted higher-order lambda — acceptable because it runs once per
DISTINCT WORD per round, never per corpus token).

Encoding a corpus with the trained model is then a JOIN, not a fold:
explode doc tokens, equi-join the word → segmentation table (broadcast
when the vocab fits), count symbols.  OOV words fall back to character
segmentation — exactly what training would have produced for a word
with no merged pair.

The merge rule is deterministic: argmax pair count, ties broken by
(left, right) ascending — so the merge table is exactly reproducible,
pinned against an independent pure-python reference implementation in
tests.  The fold itself is not SQL-expressible in one query, so the
contract entries are rows-only by nature (rationale recorded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import text as TX


def word_freqs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct lowercased words with corpus frequencies:
    ``(word, freq)`` — the weighted vocabulary BPE trains on."""
    return (df.select(F.explode(F.transform(
        TX.tokens(text_col), lambda t: F.lower(t))).alias("word"))
        .groupBy("word").agg(F.count(F.lit(1)).alias("freq")))


def merge_pair(symbols, a: str, b: str):
    """Column: greedy left-to-right merge of adjacent ``(a, b)`` into
    ``a+b`` over a symbol array — the BPE merge fold.  Non-overlapping
    by construction: a merged token can't be the left half of the same
    merge in the same pass (``a+b != a`` whenever b is non-empty)."""
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        # F.get is 0-based and NULL-safe on the empty accumulator
        # (ANSI-mode element_at(-1) raises there)
        lambda acc, x: F.when(
            (F.get(acc, F.size(acc) - 1) == F.lit(a)) & (x == F.lit(b)),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1),
                     F.array(F.lit(a + b)))
        ).otherwise(F.concat(acc, F.array(x))))


def _local_merge(seq: list, a: str, b: str) -> list:
    """Greedy left-to-right merge of adjacent (a, b) — the driver-side
    twin of :func:`merge_pair` (same fold, same non-overlap rule)."""
    out: list = []
    for c in seq:
        if out and out[-1] == a and c == b:
            out[-1] = a + b
        else:
            out.append(c)
    return out


def _local_bpe(freqs: dict, n_merges: int,
               min_count: int) -> tuple[list, dict]:
    """Exact sequential BPE over a collected ``word -> freq`` table with
    INCREMENTAL pair-count maintenance (the subword-nmt trick): each
    merge touches only the words that contain the merged pair, so the
    driver-side cost is proportional to affected words, not
    ``vocab x n_merges`` full rescans."""
    seg = {w: list(w) for w in freqs}
    counts: dict = {}
    pair_words: dict = {}
    for w, f in freqs.items():
        s = seg[w]
        for i in range(len(s) - 1):
            p = (s[i], s[i + 1])
            counts[p] = counts.get(p, 0) + f
            pair_words.setdefault(p, set()).add(w)
    merges: list = []
    for _ in range(n_merges):
        if not counts:
            break
        (a, b), n = min(counts.items(),
                        key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if n < min_count:
            break
        merges.append((a, b, int(n)))
        # pair_words entries go stale when a word stops containing a
        # pair; re-processing such a word is a harmless no-op because
        # its old contributions are removed and re-added unchanged
        for w in sorted(pair_words.get((a, b), ())):
            s, f = seg[w], freqs[w]
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                counts[p] -= f
                if counts[p] <= 0:
                    del counts[p]
            s2 = _local_merge(s, a, b)
            seg[w] = s2
            for i in range(len(s2) - 1):
                p = (s2[i], s2[i + 1])
                counts[p] = counts.get(p, 0) + f
                pair_words.setdefault(p, set()).add(w)
    return merges, seg


def _safe_batch(rows, batch_max: int, min_pair_count: int,
                merged_strs: set) -> list:
    """Select a prefix of the (n desc, l, r)-sorted pair rows that is
    provably equivalent to merging them ONE AT A TIME with recounting
    in between.  Three facts make a prefix safe:

    * a pair sharing no symbol with an earlier selected pair (and not
      equal to its concatenation) keeps its exact count under that
      earlier merge — its adjacencies are untouched;
    * a merge ``(a, b) -> ab`` whose concatenation is a FRESH string
      (never produced by any earlier merge, and multi-char so never an
      initial symbol) only creates new pairs ``(x, ab)`` / ``(ab, y)``
      whose counts are bounded by the old ``(x, a)`` / ``(b, y)``
      counts — and those CONFLICT with the merge, so they are bounded
      by the count at the first conflicting row;
    * therefore every selected pair whose count is STRICTLY above the
      largest CONFLICTING pair's count is still the running argmax when
      its turn comes: untouched old pairs that tie with it sort after
      it lexicographically (they trail it in the (n desc, l, r) order,
      which is exactly the sequential tie-break), while new pairs —
      whose lexicographic rank is arbitrary — are bounded by the
      conflicting counts the strict rule clears.

    A pair whose concatenation collides with an existing symbol string
    (``a+b in merged_strs``) can boost collision-keyed pair counts
    unboundedly, so it may only ever lead a round — the batch stops
    right after it.
    """
    selected: list = []
    used: set = set()  # symbols AND concatenations of selected pairs
    stop_i = None
    for i, row in enumerate(rows):
        if i >= batch_max or row.n < min_pair_count:
            stop_i = i
            break
        a, b = row.l, row.r
        if i > 0 and (a in used or b in used
                      or (a + b) in used or (a + b) in merged_strs):
            stop_i = i
            break
        selected.append((a, b, int(row.n)))
        used.update((a, b, a + b))
        if i == 0 and (a + b) in merged_strs:
            # collision-concat argmax (its product string already exists
            # as a symbol): safe only as the round's sole merge
            stop_i = 1
            break
    if stop_i is None:
        stop_i = len(rows)
    # bound the largest count any pair CONFLICTING with the selected set
    # can hold (it also bounds every pair a selected merge creates):
    # first conflicting fetched row, else the fetch boundary for unseen
    c_conf = 0
    for row in rows[stop_i:]:
        a, b = row.l, row.r
        if (a in used or b in used
                or (a + b) in used or (a + b) in merged_strs):
            c_conf = int(row.n)
            break
    else:
        if len(rows) > batch_max:  # unseen pairs exist beyond the fetch
            c_conf = int(rows[-1].n)
    while len(selected) > 1 and selected[-1][2] <= c_conf:
        selected.pop()
    return selected


def bpe_train(df: DataFrame, text_col: str = "text",
              n_merges: int = 16, min_pair_count: int = 2,
              local_vocab_max: int = 2_000_000, batch_max: int = 16,
              round_sizes: list | None = None,
              ) -> tuple[list, DataFrame]:
    """Train *n_merges* BPE merges on the corpus.

    Returns ``(merges, segmentation)``: *merges* is a list of
    ``(left, right, pair_count)`` in merge order; *segmentation* is the
    final ``(word, freq, symbols)`` table (the trained model — persist
    it like any model store).  Stops early when no pair reaches
    *min_pair_count*.  *round_sizes*, if given, collects the number of
    merges applied per Spark round (telemetry for tests/tuning).

    Two paths, both EXACTLY sequential-BPE-equivalent (same merge
    table, same tie-breaks — pinned against a pure-python reference):

    * **local** (vocabulary fits the driver, ``<= local_vocab_max``
      distinct words): the corpus-sized tokenize/count runs in Spark
      once, the vocabulary-sized merge loop runs driver-side with
      incremental pair counts.  This is the right shape even at 100 TB
      — BPE's working set after ``word_freqs`` is the DISTINCT-WORD
      table (~10^7 rows), and a 32k-merge loop as Spark jobs would be
      ~64k sequential scheduler round-trips regardless of data size;
    * **distributed** (vocabulary larger than the driver allowance):
      per round, ONE weighted pair count + one driver fetch of the top
      ``batch_max + 1`` pairs, then every provably-independent merge
      from that list is applied in the same round
      (:func:`_safe_batch`), cutting rounds by up to ``batch_max``x
      while preserving exact sequential semantics.
    """
    wf = word_freqs(df, text_col).localCheckpoint(eager=True)
    if wf.count() <= local_vocab_max:
        freqs = {r.word: int(r.freq) for r in wf.collect()}
        merges, seg_map = _local_bpe(freqs, n_merges, min_pair_count)
        if round_sizes is not None and merges:
            round_sizes.append(len(merges))
        spark = df.sparkSession
        seg = spark.createDataFrame(
            [(w, freqs[w], seg_map[w]) for w in sorted(seg_map)],
            "word string, freq long, symbols array<string>")
        return merges, seg
    seg = (wf.select("word", "freq",
                     F.split(F.col("word"), "").alias("symbols"))
           .localCheckpoint(eager=True))
    merges = []
    merged_strs: set = set()
    while len(merges) < n_merges:
        s = F.col("symbols")
        adj = F.arrays_zip(
            F.slice(s, F.lit(1), F.greatest(F.size(s) - 1, F.lit(0)))
            .alias("l"),
            F.slice(s, F.lit(2), F.greatest(F.size(s) - 1, F.lit(0)))
            .alias("r"))
        pairs = (seg.select("freq", F.explode(adj).alias("p"))
                 .select("freq", F.col("p.l").alias("l"),
                         F.col("p.r").alias("r"))
                 .groupBy("l", "r").agg(F.sum("freq").alias("n")))
        take = min(batch_max, n_merges - len(merges))
        rows = (pairs.orderBy(F.desc("n"), "l", "r")
                .limit(take + 1).collect())
        if not rows or rows[0].n < min_pair_count:
            break
        batch = _safe_batch(rows, take, min_pair_count, merged_strs)
        sym = F.col("symbols")
        for a, b, n in batch:
            merges.append((a, b, n))
            merged_strs.add(a + b)
            sym = merge_pair(sym, a, b)
        if round_sizes is not None:
            round_sizes.append(len(batch))
        seg = (seg.select("word", "freq", sym.alias("symbols"))
               .localCheckpoint(eager=True))
    return merges, seg


def bpe_encode_stats(df: DataFrame, segmentation: DataFrame,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-doc BPE token counts using a trained segmentation table:
    ``(doc_id, n_words, n_chars, n_bpe_tokens)``.

    Encoding is an equi-JOIN against the vocabulary (broadcast when it
    fits), not a per-token fold — the corpus-sized pass stays in
    codegen.  OOV words fall back to their character count (what BPE
    training produces for a word with no mergeable pair)."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.transform(TX.tokens(text_col),
                              lambda t: F.lower(t))).alias("word"))
    vocab = segmentation.select(
        "word", F.size("symbols").alias("__n_sym"))
    return (toks.join(vocab, "word", "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum(F.length("word")).alias("n_chars"),
                 F.sum(F.coalesce(F.col("__n_sym"), F.length("word")))
                 .alias("n_bpe_tokens")))


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) tokenizer training  [Kudo, ACL'18]
#
# The tokenizer family actually used by Llama/T5-lineage pipelines.
# Model: each piece x has probability p(x); a word's likelihood is the
# sum over all segmentations of the product of piece probabilities.
# Training is EM: the E-step computes each candidate piece's EXPECTED
# count over all segmentations of every distinct word (forward-backward
# over the segmentation lattice), the M-step renormalizes.  Between EM
# rounds the vocabulary is pruned toward the target size.
#
# Spark shape (same "distinct-word table" trick as BPE — per-round work
# is vocabulary-sized, never corpus-sized):
#   * candidate edges  = explode word substrings, equi-join the
#     (broadcast) piece table               -> a JOIN, corpus never rescanned
#   * forward/backward = two left-to-right F.aggregate folds per word
#     over the edge list (log-sum-exp in Column algebra)
#   * M-step           = groupBy(piece).sum(freq * posterior)  -> an AGGREGATE
# No Python UDFs anywhere; every stage is DataFrame algebra, so the
# E-step parallelizes over distinct words and the model state that moves
# between rounds is just the (piece, logp) table.
#
# Simplification vs the reference implementation, stated honestly:
# pruning drops the lowest-expected-count pieces (never single chars)
# instead of re-scoring the exact likelihood loss of removing each piece
# — the standard cheap approximation; on the pinned fixtures both rules
# keep the same survivors.
# ---------------------------------------------------------------------------


def _substr_candidates(word, max_piece_len: int):
    """Array of all substrings of *word* with length <= max_piece_len,
    as structs ``(s, l, sub)`` (1-based start, length)."""
    n = F.length(word)
    return F.flatten(F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.transform(
            F.sequence(F.lit(1), F.least(F.lit(max_piece_len), n - i + 1)),
            lambda l: F.struct(i.alias("s"), l.alias("l"),
                               F.substring(word, i, l).alias("sub")))))


def unigram_seed_vocab(df: DataFrame, text_col: str = "text",
                       max_piece_len: int = 6,
                       seed_size: int = 1000) -> DataFrame:
    """Seed candidate vocabulary: the *seed_size* most frequent word
    substrings (weighted by word frequency, ties broken by piece
    ascending) UNION all single characters (coverage guarantee — every
    word stays segmentable no matter how hard pruning bites).

    Returns ``(piece, logp)`` with probabilities initialized
    proportional to substring counts (the standard init)."""
    return _seed_from_words(word_freqs(df, text_col), max_piece_len,
                            seed_size)


def _word_edges(words: DataFrame, pieces: DataFrame,
                max_piece_len: int) -> DataFrame:
    """(word, freq, n, edges) where edges = collected structs
    ``(s, l, lp)`` of every in-vocabulary substring — the segmentation
    lattice, built by a substring explode + broadcast equi-join."""
    cand = (words.select(
        "word", "freq",
        F.explode(_substr_candidates(F.col("word"), max_piece_len))
        .alias("c"))
        .select("word", "freq", F.col("c.s").alias("s"),
                F.col("c.l").alias("l"), F.col("c.sub").alias("sub")))
    hit = cand.join(F.broadcast(pieces),
                    cand["sub"] == pieces["piece"], "inner")
    return (hit.groupBy("word", "freq")
            .agg(F.sort_array(F.collect_list(
                F.struct("s", "l", F.col("logp").alias("lp"))))
                .alias("edges"))
            .withColumn("n", F.length("word")))


def _logsumexp(arr):
    """Column: log(sum(exp(x))) over a non-empty double array, computed
    against the array max for stability; -inf stand-in (-1e30) when
    empty (unreachable position)."""
    mx = F.array_max(arr)
    return F.when(
        F.size(arr) > 0,
        mx + F.log(F.aggregate(
            arr, F.lit(0.0), lambda a, x: a + F.exp(x - mx)))
    ).otherwise(F.lit(-1e30))


def _alpha(edges, n):
    """Forward scores: alpha[i] (0..n) = logsumexp over segmentations of
    word[1..i]; alpha[0] = 0.  One left-to-right fold."""
    return F.aggregate(
        F.sequence(F.lit(1), n),
        F.array(F.lit(0.0)),
        lambda acc, pos: F.concat(acc, F.array(_logsumexp(
            F.transform(
                F.filter(edges, lambda e: e["s"] + e["l"] - 1 == pos),
                lambda e: F.get(acc, e["s"] - 1) + e["lp"])))))


def _beta_rev(edges, n):
    """Backward scores, REVERSED: beta_rev[k] = beta[n-k], where beta[i]
    = logsumexp over segmentations of word[i+1..n]; beta[n] = 0.  The
    fold walks positions n-1 .. 0 appending to the reversed array, so
    lookups are ``beta[j] = beta_rev[n - j]`` (0-based F.get)."""
    return F.aggregate(
        F.sequence(n - 1, F.lit(0), F.lit(-1)),
        F.array(F.lit(0.0)),
        lambda acc, pos: F.concat(acc, F.array(_logsumexp(
            F.transform(
                F.filter(edges, lambda e: e["s"] == pos + 1),
                lambda e: e["lp"] + F.get(acc, n - (pos + e["l"])))))))


def unigram_em_round(words: DataFrame, pieces: DataFrame,
                     max_piece_len: int = 6) -> DataFrame:
    """One EM iteration: returns the re-estimated ``(piece, logp,
    expected)`` table.  E-step = forward-backward posteriors per edge
    (two folds per distinct word); M-step = one aggregate."""
    lat = _word_edges(words, pieces, max_piece_len)
    lat = lat.select(
        "word", "freq", "n", "edges",
        _alpha(F.col("edges"), F.col("n")).alias("fa"),
        _beta_rev(F.col("edges"), F.col("n")).alias("fb"))
    # posterior expected count of edge (s,l): exp(a[s-1] + lp + b[s-1+l] - Z)
    z = F.get("fa", F.col("n"))
    post = lat.select(
        "freq",
        F.explode(F.transform(
            "edges",
            lambda e: F.struct(
                e["s"].alias("s"), e["l"].alias("l"),
                F.exp(F.get("fa", e["s"] - 1) + e["lp"]
                      + F.get("fb", F.col("n") - (e["s"] - 1 + e["l"]))
                      - z).alias("w"))))
        .alias("e"),
        F.substring("word", F.col("e.s"), F.col("e.l")).alias("piece"))
    counts = (post.select("piece",
                          (F.col("freq") * F.col("e.w")).alias("c"))
              .groupBy("piece").agg(F.sum("c").alias("expected")))
    # a piece whose posterior mass underflows to exactly 0.0 would make
    # log(0) -> NULL and poison every lattice containing it next round;
    # floor the mass instead of dropping the piece so single-char
    # coverage survives (logp bottoms out near -690, finite and inert)
    total = counts.agg(F.sum("expected").alias("__t"))
    return (counts.crossJoin(F.broadcast(total))
            .select("piece",
                    (F.log(F.greatest("expected", F.lit(1e-300)))
                     - F.log("__t")).alias("logp"),
                    "expected"))


def unigram_train(df: DataFrame, text_col: str = "text",
                  vocab_size: int = 120, n_em: int = 2,
                  prune_frac: float = 0.25, max_piece_len: int = 6,
                  seed_size: int = 1000, max_word_len: int = 32,
                  ) -> DataFrame:
    """Train a Unigram-LM tokenizer; returns the final ``(piece, logp)``
    model table (persist like any model store).

    Loop: *n_em* EM rounds, then prune the lowest-expected-count
    multi-char pieces (never single characters) down to
    ``max(vocab_size, (1-prune_frac) * current)``, repeat until the
    vocabulary reaches *vocab_size*, then run a final EM round.

    Words longer than *max_word_len* are excluded from TRAINING (their
    lattices would dominate the fold cost; SentencePiece applies the
    same guard) — encoding still handles them via the char fallback.

    Scale: per-round state is the (piece, logp) table (broadcast), work
    is (distinct words) x (edges per word); the corpus is touched once,
    by ``word_freqs``.  Reference behavior: Kudo'18 §3; see
    tests/test_tokenize.py for the pure-python EM it is pinned against.
    """
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1 [{vocab_size}]")
    words = (word_freqs(df, text_col)
             .where(F.length("word") <= max_word_len)
             .localCheckpoint(eager=True))
    pieces = _seed_from_words(words, max_piece_len, seed_size)
    n_chars = pieces.where(F.length("piece") == 1).count()
    while True:
        for _ in range(n_em):
            pieces = (unigram_em_round(words, pieces, max_piece_len)
                      .localCheckpoint(eager=True))
        current = pieces.count()
        if current <= vocab_size or current <= n_chars:
            # can't prune below single-char coverage: a vocab_size
            # smaller than the alphabet ends here (chars-only model)
            break
        keep_multi = max(vocab_size - n_chars,
                         int((1.0 - prune_frac) * current) - n_chars)
        if keep_multi < 0:
            keep_multi = 0
        chars = pieces.where(F.length("piece") == 1)
        multi = (pieces.where(F.length("piece") > 1)
                 .orderBy(F.desc("expected"), "piece")
                 .limit(keep_multi))
        # no checkpoint: the pruned table is consumed exactly once (the
        # next EM round's lattice join) and its lineage is one filter +
        # top-k over the ALREADY-checkpointed EM output — an eager
        # materialization here was one extra Spark job per prune cycle
        # for nothing (r12, guide §1.2)
        pieces = (chars.unionByName(multi)
                  .select("piece", "logp", "expected"))
        if n_chars + keep_multi <= vocab_size:
            pieces = (unigram_em_round(words, pieces, max_piece_len)
                      .localCheckpoint(eager=True))
            break
    return pieces.select("piece", "logp")


def _seed_from_words(words: DataFrame, max_piece_len: int,
                     seed_size: int) -> DataFrame:
    """Seed vocabulary straight from a ``(word, freq)`` table."""
    subs = (words.select(
        "freq",
        F.explode(_substr_candidates(F.col("word"), max_piece_len))
        .alias("c"))
        .select(F.col("c.sub").alias("piece"), "freq")
        .groupBy("piece").agg(F.sum("freq").alias("n")))
    chars = subs.where(F.length("piece") == 1)
    top = (subs.where(F.length("piece") > 1)
           .orderBy(F.desc("n"), "piece").limit(seed_size))
    seeded = chars.unionByName(top)
    total = seeded.agg(F.sum("n").alias("__t"))
    return (seeded.crossJoin(F.broadcast(total))
            .select("piece",
                    (F.log(F.col("n").cast("double"))
                     - F.log(F.col("__t").cast("double"))).alias("logp")))


def unigram_viterbi_segments(words: DataFrame, pieces: DataFrame,
                             max_piece_len: int = 6) -> DataFrame:
    """Best (Viterbi) segmentation piece COUNT per word under a trained
    model: ``(word, freq, n_pieces)``.  Ties (equal log-probability)
    break toward FEWER pieces, deterministically.  Words containing a
    character absent from the model fall back to character count."""
    lat = _word_edges(words, pieces, max_piece_len)
    # dp over positions: struct(score, negp) — array_max/greatest on
    # structs compares fields left-to-right, so max picks the best
    # score, then the fewest pieces (negp = -n_pieces)
    def step(acc, pos):
        cands = F.transform(
            F.filter(F.col("edges"),
                     lambda e: e["s"] + e["l"] - 1 == pos),
            lambda e: F.struct(
                (F.get(acc, e["s"] - 1)["score"] + e["lp"])
                .alias("score"),
                (F.get(acc, e["s"] - 1)["negp"] - 1).alias("negp")))
        best = F.when(
            F.size(cands) > 0, F.array_max(cands)
        ).otherwise(F.struct(F.lit(-1e30).alias("score"),
                             F.lit(0).alias("negp")))
        return F.concat(acc, F.array(best))

    dp = F.aggregate(
        F.sequence(F.lit(1), F.col("n")),
        F.array(F.struct(F.lit(0.0).alias("score"),
                         F.lit(0).alias("negp"))),
        step)
    seg = lat.select(
        "word", "freq",
        F.get(dp, F.col("n")).alias("__best"))
    out = seg.select(
        "word", "freq",
        F.when(F.col("__best")["score"] > F.lit(-1e29),
               -F.col("__best")["negp"])
        .otherwise(F.length("word")).alias("n_pieces"))
    # words with NO in-vocab substring at all never reach _word_edges'
    # groupBy; re-attach them with the char fallback
    missing = (words.join(out.select("word"), "word", "left_anti")
               .select("word", "freq",
                       F.length("word").cast("int").alias("n_pieces")))
    return out.unionByName(missing)


def unigram_encode_stats(df: DataFrame, pieces: DataFrame,
                         text_col: str = "text",
                         id_col: str = "doc_id",
                         max_piece_len: int = 6) -> DataFrame:
    """Per-doc Unigram-LM token counts using a trained piece table:
    ``(doc_id, n_words, n_chars, n_unigram_tokens)`` — the same
    join-not-fold encode path as :func:`bpe_encode_stats`: Viterbi runs
    once per DISTINCT word, docs then equi-join the result."""
    # two consumers (distinct-word aggregate + the per-doc join) would
    # each re-tokenize the corpus — materialize the exploded tokens
    # once (guide §3.3; r12).  SCALE NOTE (ADVICE r12): localCheckpoint
    # pins this corpus-sized token table in executor block storage and
    # is not fault-tolerant; at 100 TB prefer persist(DISK_ONLY) +
    # unpersist, or checkpoint only the vocabulary-sized distinct-word
    # aggregate and accept one re-tokenize for the per-doc join.  At
    # bench/fixture scale the pinned bytes are MBs and the eager
    # checkpoint is the cheaper shape; the trade is documented rather
    # than auto-switched (the crossover is deployment-specific).
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.transform(TX.tokens(text_col),
                              lambda t: F.lower(t))).alias("word")) \
             .localCheckpoint(eager=True)
    words = toks.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    segs = unigram_viterbi_segments(words, pieces, max_piece_len)
    vocab = segs.select("word", F.col("n_pieces").alias("__np"))
    return (toks.join(F.broadcast(vocab), "word", "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum(F.length("word")).alias("n_chars"),
                 F.sum(F.coalesce(F.col("__np"), F.length("word")))
                 .alias("n_unigram_tokens")))


# ---------------------------------------------------------------------------
# WordPiece greedy encode  [Wu et al. 2016; the BERT-family tokenizer]
#
# Given a trained vocabulary (word-initial pieces plus "##"-prefixed
# continuation pieces), WordPiece segments each word greedily: at every
# position take the LONGEST vocabulary piece that matches; if no piece
# matches, the whole word becomes [UNK].  Spark shape: the same
# substring-explode + broadcast-join lattice as the Unigram trainer
# builds the per-word match edges, then the greedy walk is one bounded
# F.aggregate fold per DISTINCT word (n steps cover any word of length
# n, since every effective step consumes >= 1 char).  Docs equi-join
# the distinct-word results — corpus never rescanned.
# ---------------------------------------------------------------------------


def wordpiece_segments(words: DataFrame, vocab: DataFrame,
                       max_piece_len: int = 10,
                       piece_col: str = "piece") -> DataFrame:
    """Greedy WordPiece segmentation per distinct word:
    ``(word, freq, n_pieces, is_unk)``.  *vocab* holds word-initial
    pieces verbatim and continuation pieces with a ``##`` prefix."""
    cand = (words.select(
        "word", "freq",
        F.explode(_substr_candidates(F.col("word"), max_piece_len))
        .alias("c"))
        .select("word", "freq", F.col("c.s").alias("s"),
                F.col("c.l").alias("l"),
                F.when(F.col("c.s") == 1, F.col("c.sub"))
                .otherwise(F.concat(F.lit("##"), F.col("c.sub")))
                .alias("key")))
    hit = cand.join(F.broadcast(vocab.select(F.col(piece_col).alias("key"))),
                    "key", "inner")
    lat = (hit.groupBy("word", "freq")
           .agg(F.sort_array(F.collect_list(F.struct("s", "l")))
                .alias("edges"))
           .withColumn("n", F.length("word")))

    def step(acc, _i):
        nxt = F.filter(F.col("edges"),
                       lambda e: e["s"] == acc["pos"] + 1)
        best = F.array_max(F.transform(nxt, lambda e: e["l"]))
        active = acc["ok"] & (acc["pos"] < F.col("n"))
        return (F.when(active & (F.size(nxt) > 0),
                       F.struct((acc["pos"] + best).alias("pos"),
                                (acc["cnt"] + 1).alias("cnt"),
                                F.lit(True).alias("ok")))
                .when(active,                       # dead end -> [UNK]
                      F.struct(F.col("n").alias("pos"),
                               F.lit(1).alias("cnt"),
                               F.lit(False).alias("ok")))
                .otherwise(acc))

    walk = F.aggregate(
        F.sequence(F.lit(1), F.col("n")),
        F.struct(F.lit(0).alias("pos"), F.lit(0).alias("cnt"),
                 F.lit(True).alias("ok")),
        step)
    seg = lat.select("word", "freq",
                     walk["cnt"].alias("n_pieces"),
                     (~walk["ok"]).alias("is_unk"))
    # words with NO vocabulary match at all never reach the groupBy
    missing = (words.join(seg.select("word"), "word", "left_anti")
               .select("word", "freq", F.lit(1).alias("n_pieces"),
                       F.lit(True).alias("is_unk")))
    return seg.unionByName(missing)


def wordpiece_char_vocab(df: DataFrame, text_col: str = "text",
                         top_words: int = 200) -> DataFrame:
    """A small deterministic demo vocabulary: every single character as
    both word-initial and ``##`` continuation piece (full coverage
    modulo unseen chars) plus the *top_words* most frequent whole words
    (ties by word ascending) — enough to exercise longest-match-first
    behavior; real pipelines load their model's vocab file instead."""
    wf = word_freqs(df, text_col)
    chars = (wf.select(F.explode(F.split("word", "")).alias("c"), "freq")
             .where(F.length("c") == 1)
             .groupBy("c").agg(F.sum("freq").alias("n")))
    initial = chars.select(F.col("c").alias("piece"))
    cont = chars.select(F.concat(F.lit("##"), F.col("c")).alias("piece"))
    whole = (wf.where(F.length("word") > 1)
             .orderBy(F.desc("freq"), "word").limit(top_words)
             .select(F.col("word").alias("piece")))
    return initial.unionByName(cont).unionByName(whole).distinct()


def wordpiece_encode_stats(df: DataFrame, vocab: DataFrame,
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           max_piece_len: int = 10) -> DataFrame:
    """Per-doc WordPiece token counts under a given vocabulary:
    ``(doc_id, n_words, n_wordpiece_tokens, n_unk_words)`` — greedy
    segmentation once per DISTINCT word, docs equi-join the result."""
    # two consumers (distinct-word aggregate + the per-doc join) would
    # each re-tokenize the corpus — materialize the exploded tokens
    # once (guide §3.3; r12).  SCALE NOTE (ADVICE r12): localCheckpoint
    # pins this corpus-sized token table in executor block storage and
    # is not fault-tolerant; at 100 TB prefer persist(DISK_ONLY) +
    # unpersist, or checkpoint only the vocabulary-sized distinct-word
    # aggregate and accept one re-tokenize for the per-doc join.  At
    # bench/fixture scale the pinned bytes are MBs and the eager
    # checkpoint is the cheaper shape; the trade is documented rather
    # than auto-switched (the crossover is deployment-specific).
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.transform(TX.tokens(text_col),
                              lambda t: F.lower(t))).alias("word")) \
             .localCheckpoint(eager=True)
    words = toks.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    segs = wordpiece_segments(words, vocab, max_piece_len)
    joined = toks.join(
        F.broadcast(segs.select("word", "n_pieces", "is_unk")),
        "word", "left")
    return (joined.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum(F.coalesce(F.col("n_pieces"), F.lit(1)))
                 .alias("n_wordpiece_tokens"),
                 F.sum(F.when(F.coalesce(F.col("is_unk"), F.lit(True)),
                              1).otherwise(0)).alias("n_unk_words")))

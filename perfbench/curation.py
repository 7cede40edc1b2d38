"""curation_batch: a pipeline of public operator calls over ``documents``.

One pass, with the demo entries' parameters:

* ``dedup.verified_near_dup_pairs`` -> ``write_pair_store`` ->
  ``read_pairs`` -> ``graph.connected_components`` ->
  ``splits.leakage_safe_split``;
* ``tokenize.unigram_train``;
* ``suffix.max_dup_spans``;
* ``scoring.cdc_chunks_arrow``.

Each call is timed twice: *build* is the call itself (the eager jobs an
operator runs while constructing its result) and *run* is the action the
pipeline takes on the result (the pair-store write for the pair miner, a
``collect`` for the others).  The pass is bound by driver actions, not
by data volume.

Checked after the timed window: exact steps against the demo's DuckDB
oracles (pairs, components and splits over the pairs actually stored,
duplicated spans, CDC chunks); MinHash pairs and the unigram model
against invariants.  The pairs must be exact pairs with exact values and
reach :data:`RECALL_FLOOR` of the exact pairs, so a miner that drops
pairs to run faster fails.
"""

from __future__ import annotations

import math
import os
import time

from . import datagen as G
from .trace import median, percentile

N_DOCS = 500
WARM_DOCS = 100     # the warm-up corpus, the same on every seed and commit
OPS = ["dedup.verified_near_dup_pairs", "dedup.read_pairs",
       "graph.connected_components", "splits.leakage_safe_split",
       "tokenize.unigram_train", "suffix.max_dup_spans",
       "scoring.cdc_chunks_arrow"]
VOCAB_SIZE = 150
# Share of the exact Jaccard pairs the MinHash miner must return.  Its
# hash seed is fixed, so recall is a function of the corpus: over seeds
# 1-240 it ranged from 0.875 to 1.0 (mean 0.974, sd 0.022).
RECALL_FLOOR = 0.85


class CurationBatch:
    name = "curation_batch"

    def __init__(self, seed: int, work: str, tracer):
        self.work, self.tr = work, tracer
        self.inputs = self.generate(seed)
        self.docs = self.inputs["docs"]
        self.docs_path = os.path.join(work, "documents")
        G.write_parquet_dir(self.docs, self.docs_path)
        self.warm_path = os.path.join(work, "documents_warm")
        G.write_parquet_dir(G.documents(0, WARM_DOCS), self.warm_path)
        self.outputs: list[dict] = []
        self.recall: list[float] = []
        self.n_stores = 0

    @staticmethod
    def generate(seed: int) -> dict:
        return {"docs": G.documents(seed, N_DOCS)}

    def input_rows(self) -> dict:
        return {"documents": self.docs.num_rows}

    def setup(self, spark) -> None:
        self.spark = spark

    def warmup(self) -> None:
        """One untimed pass over a small fixed corpus: the first pass in a
        JVM runs about twice as long as the next (compilation and class
        loading), whatever the corpus size."""
        self._pass(self.warm_path)

    def run(self, seconds: float) -> dict:
        t0 = time.perf_counter()
        pass_s = []
        while True:
            t = time.perf_counter()
            self.outputs.append(self._pass(self.docs_path))
            pass_s.append(time.perf_counter() - t)
            if time.perf_counter() - t0 >= seconds:
                break
        wall = time.perf_counter() - t0
        return {"attempted": len(pass_s) * len(OPS), "wall_s": wall,
                "items_per_s": len(pass_s) * N_DOCS / wall,
                "request_p50_ms": median(pass_s) * 1000,
                "request_p75_ms": percentile(pass_s, 75) * 1000}

    def _op(self, name: str, build, run):
        """The built result and what *run* made of it."""
        with self.tr.span(f"operators.{name}.build"):
            out = build()
        with self.tr.span(f"operators.{name}.run"):
            return out, run(out)

    def _pass(self, docs_path: str) -> dict:
        from legend_community_delta_spark.operators import dedup as DD
        from legend_community_delta_spark.operators.graph import connected_components
        from legend_community_delta_spark.operators.scoring import cdc_chunks_arrow
        from legend_community_delta_spark.operators.splits import leakage_safe_split
        from legend_community_delta_spark.operators.suffix import max_dup_spans
        from legend_community_delta_spark.operators.tokenize import unigram_train
        spark = self.spark
        store = os.path.join(self.work, "stores", f"pairs-{self.n_stores}")
        self.n_stores += 1
        rows = lambda df: [tuple(r) for r in df.collect()]  # noqa: E731
        out = {}
        with self.tr.span("request.pass"):
            docs = spark.read.parquet(docs_path)
            self._op("dedup.verified_near_dup_pairs",
                     lambda: DD.verified_near_dup_pairs(docs, n=5, threshold=0.2),
                     lambda p: DD.write_pair_store(p, store, method="verified",
                                                   n=5, threshold=0.2))
            pairs, out["pairs"] = self._op(
                "dedup.read_pairs",
                lambda: DD.read_pairs(spark, store, method="verified", n=5,
                                      threshold=0.2), rows)
            _, out["components"] = self._op(
                "graph.connected_components",
                lambda: connected_components(pairs, "id_a", "id_b"), rows)
            _, out["splits"] = self._op(
                "splits.leakage_safe_split",
                lambda: leakage_safe_split(docs, pairs).select("doc_id", "split"),
                rows)
            _, out["pieces"] = self._op(
                "tokenize.unigram_train",
                lambda: unigram_train(docs, vocab_size=VOCAB_SIZE, n_em=1,
                                      max_piece_len=5, seed_size=500), rows)
            _, out["spans"] = self._op(
                "suffix.max_dup_spans",
                lambda: max_dup_spans(docs, min_len=10, rounds=7), rows)
            _, out["chunks"] = self._op(
                "scoring.cdc_chunks_arrow",
                lambda: cdc_chunks_arrow(docs, window=4, boundary_hex=1,
                                         min_tokens=1).select(
                    "doc_id", "chunk_id", "start_token", "n_tokens",
                    "chunk_text"), rows)
        return out

    # -- outputs -----------------------------------------------------------------

    def check(self) -> list[str]:
        import duckdb
        from legend_community_delta_spark import demo
        con = duckdb.connect()
        con.register("documents", self.docs)
        exact = {(a, b): j for a, b, j in
                 con.execute(demo.ORACLES["verified_near_dup_pairs"]).fetchall()}
        spans = sorted(con.execute(demo.ORACLES["max_dup_spans"]).fetchall())
        chunks = sorted(_canon(con.execute(demo.ORACLES["cdc_chunk_docs"]).fetchall()))
        chars = {c for t in self.docs.column("text").to_pylist() for c in t
                 if not c.isspace()}
        bad = []
        for out in self.outputs:
            # MinHash proposes, exact Jaccard verifies: a subset of the
            # exact pairs with identical values, and most of them
            for a, b, j in out["pairs"]:
                if (a, b) not in exact or not math.isclose(j, exact[a, b],
                                                           rel_tol=1e-9):
                    bad.append(f"pair ({a}, {b}, {j}) is not an exact pair")
            found = len({(a, b) for a, b, _j in out["pairs"]} & exact.keys())
            self.recall.append(found / len(exact) if exact else 1.0)
            if self.recall[-1] < RECALL_FLOOR:
                bad.append(f"pair recall {self.recall[-1]:.3f} is below "
                           f"{RECALL_FLOOR}")
            con.register("store_pairs", _pairs_table(out["pairs"]))
            comps = sorted(con.execute(_over_store(
                demo.ORACLES["near_dup_clusters"])).fetchall())
            if sorted(out["components"]) != comps:
                bad.append("connected components differ from the oracle")
            splits = sorted(con.execute(_over_store(
                demo.ORACLES["leakage_splits"])).fetchall())
            if sorted(out["splits"]) != splits:
                bad.append("leakage-safe splits differ from the oracle")
            bad += _unigram_invariants(out["pieces"], chars)
            if sorted(out["spans"]) != spans:
                bad.append("duplicated spans differ from the oracle")
            if sorted(_canon(out["chunks"])) != chunks:
                bad.append("CDC chunks differ from the oracle")
        con.close()
        return bad

    def layers(self) -> dict:
        out = {}
        for op in OPS:
            for phase in ("build", "run"):
                spans = self.tr.named(f"operators.{op}.{phase}")
                out[f"operators.{op}.{phase}_s"] = median(
                    [s["end"] - s["start"] for s in spans])
                out[f"operators.{op}.{phase}_jobs"] = median(
                    [self.tr.total_jobs(s) for s in spans])
        return out


def _canon(rows):
    return [tuple(int(v) if isinstance(v, int) else v for v in r) for r in rows]


def _pairs_table(pairs):
    import pyarrow as pa
    return pa.table({"id_a": pa.array([p[0] for p in pairs], pa.int64()),
                     "id_b": pa.array([p[1] for p in pairs], pa.int64())})


def _over_store(sql: str) -> str:
    """A demo oracle with its ``pairs`` CTE replaced by the stored pairs,
    so components and splits are checked over the edges the pipeline
    actually used (MinHash may miss a pair the exact join finds)."""
    head, sep, rest = sql.partition("pairs AS (")
    _body, sep2, tail = rest.partition("),\nedges AS (")
    if not sep or not sep2:
        raise ValueError("oracle has no pairs CTE to replace")
    return f"{head}pairs AS (SELECT id_a, id_b FROM store_pairs),\nedges AS ({tail}"


def _unigram_invariants(pieces, chars: set) -> list[str]:
    """Unigram-LM output: at most the target vocabulary plus the single
    characters it must keep, every corpus character covered, and a
    normalised distribution of finite log-probabilities."""
    bad = []
    names = {p for p, _lp in pieces}
    if len(pieces) > max(VOCAB_SIZE, len(chars)):
        bad.append(f"unigram vocabulary has {len(pieces)} pieces")
    if not chars <= names:
        bad.append(f"unigram model misses characters {sorted(chars - names)}")
    if not all(math.isfinite(lp) and lp <= 0 for _p, lp in pieces):
        bad.append("unigram log-probabilities are not finite and <= 0")
    total = sum(math.exp(lp) for _p, lp in pieces)
    if not math.isclose(total, 1.0, rel_tol=1e-6):
        bad.append(f"unigram probabilities sum to {total}")
    return bad

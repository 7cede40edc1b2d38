"""legend_ingest_serve: the paper's own path, from bronze feed to served query.

One pass ingests ``lineitem`` (~300k rows) through the model (ingest.py), points
the ``lineitem`` view at the table it wrote, and serves
:data:`MIX_PASSES_PER_PASS` passes of the seeded metadata and query mix
over it and over ``orders`` and ``part`` (serve.py).  ``items_per_s`` is the
median over batch commits of input rows per second of commit; the
request latencies are those of the query requests.
"""

from __future__ import annotations

import os
import shutil
import time

from . import datagen as G
from .ingest import Ingest
from .serve import Serve
from .trace import median, percentile

MIX_PASSES_PER_PASS = 3


class LegendIngestServe:
    name = "legend_ingest_serve"

    def __init__(self, seed: int, work: str, tracer):
        from legend_community_delta_spark import demo
        self.tr = tracer
        self.inputs = self.generate(seed)
        tables = self.inputs["tables"]
        self.entities = demo.TPCH_ENTITIES + self.inputs["entities"]
        self.paths = {}
        for t in ("orders", "part"):
            self.paths[t] = os.path.join(work, t)
            G.write_parquet_dir(tables[t], self.paths[t])
        self.ingest = Ingest(self.inputs, work, tracer)
        self.serve = Serve(tables, self.entities, self.inputs["mix"], tracer)

    @staticmethod
    def generate(seed: int) -> dict:
        tables = G.tpch_tables(seed)
        entities = G.synthetic_entities(seed)
        mix = G.serve_mix(seed, 40, G.synthetic_targets(entities))
        return {"tables": tables, "entities": entities, "mix": mix,
                **Ingest.generate(seed, tables["lineitem"])}

    def input_rows(self) -> dict:
        return {**{t: v.num_rows for t, v in self.inputs["tables"].items()},
                "batches": len(self.inputs["batches"]),
                "merge_rows": self.inputs["updates"].num_rows}

    def setup(self, spark) -> None:
        from legend_community_delta_spark.legend import Legend
        self.spark = spark
        for t, path in self.paths.items():
            spark.read.parquet(path).createOrReplaceTempView(t)
        with self.tr.span("model.load"):
            legend = Legend.from_entities(self.entities, spark)
        self.ingest.setup(spark, legend)
        self.serve.setup(spark, legend)

    def warmup(self) -> None:
        scratch = self.ingest.warmup()
        self._serve_from(scratch)
        self.serve.warmup()
        shutil.rmtree(scratch)

    def _serve_from(self, table_path: str) -> None:
        from legend_community_delta_spark.sources.versioned import VersionedTable
        VersionedTable(self.spark, table_path).read() \
            .createOrReplaceTempView("lineitem")

    def run(self, seconds: float) -> dict:
        t0 = time.perf_counter()
        query_ms, n = [], 0
        while True:
            self._serve_from(self.ingest.run())
            ms, k = self.serve.run(MIX_PASSES_PER_PASS)
            query_ms += ms
            n += k + G.N_BATCHES + 4
            if time.perf_counter() - t0 >= seconds:
                break
        return {"attempted": n, "wall_s": time.perf_counter() - t0,
                "items_per_s": median(self.ingest.commit_rates),
                "request_p50_ms": median(query_ms),
                "request_p75_ms": percentile(query_ms, 75)}

    def check(self) -> list[str]:
        import duckdb
        con = duckdb.connect()
        for t in ("orders", "part"):
            con.register(t, self.inputs["tables"][t])
        self.ingest.register_merged(con)
        bad = self.ingest.check(con) + self.serve.check(con)
        con.close()
        return bad

    def layers(self) -> dict:
        return {"model.load_ms": median(self.tr.durations("model.load")) * 1000,
                **self.ingest.layers(), **self.serve.layers()}

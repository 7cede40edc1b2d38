"""Ingest half of legend_ingest_serve: the reference's ingest flow.

``lineitem`` arrives as seeded bronze batches named by model
property.  Each batch is one commit request:
``get_transformations``/``get_expectations`` -> ``legend_transform`` ->
``legend_validate`` -> ``VersionedTable.append_batch``.  After the
batches come a seeded ``merge`` on ``(l_orderkey, l_linenumber)``, a
time-travel ``read(v)``, ``dq_metrics`` over the latest version and a
``compact``.  One pass does all of it on a fresh table.

Checked after the timed window: violation counts against the demo's
DuckDB oracle over the same merged rows, time-travel and final row
counts against the batch sizes.
"""

from __future__ import annotations

import os
import time

from . import datagen as G
from .trace import median

MAPPING = G.LINEITEM_MAPPING
KEYS = ["l_orderkey", "l_linenumber"]


class Ingest:
    """Bronze batches of *lineitem* into a :class:`VersionedTable`."""

    def __init__(self, inputs: dict, work: str, tracer):
        self.work, self.tr = work, tracer
        self.lineitem = inputs["tables"]["lineitem"]
        self.batches = inputs["batches"]
        self.updates = inputs["updates"]
        self.tt_version = inputs["tt_version"]
        self.batch_paths = []
        for i, b in enumerate(self.batches):
            path = os.path.join(work, "bronze", f"batch-{i:02d}")
            G.write_parquet_dir(b, path)
            self.batch_paths.append(path)
        self.updates_path = os.path.join(work, "updates")
        G.write_parquet_dir(self.updates, self.updates_path)
        self.input_bytes = sum(os.path.getsize(os.path.join(r, f))
                               for p in self.batch_paths
                               for r, _d, fs in os.walk(p) for f in fs)
        self.commit_rates: list[float] = []
        self.outputs: list[dict] = []
        self.n_tables = 0

    @staticmethod
    def generate(seed: int, lineitem) -> dict:
        import numpy as np
        return {"batches": G.bronze_batches(seed, lineitem),
                "updates": G.merge_updates(seed, lineitem),
                # the time-travel target of each pass
                "tt_version": int(np.random.default_rng(seed)
                                  .integers(2, G.N_BATCHES - 1))}

    def setup(self, spark, legend) -> None:
        self.spark, self.legend = spark, legend

    def warmup(self) -> str:
        """The first two batches, then every post-batch step, on a
        scratch table; returns its path."""
        return self.run(self.batch_paths[:2], record=False)

    def run(self, batch_paths: list[str] | None = None, record: bool = True) -> str:
        """One pass on a fresh table; returns the table's path."""
        from legend_community_delta_spark.dataframe import (
            dq_metrics, legend_transform, legend_validate)
        from legend_community_delta_spark.sources.versioned import VersionedTable
        tr, spark = self.tr, self.spark
        batch_paths = batch_paths or self.batch_paths
        path = os.path.join(self.work, "tables", f"lineitem-{self.n_tables}")
        self.n_tables += 1
        vt = VersionedTable(spark, path)
        for i, bp in enumerate(batch_paths):
            t = time.perf_counter()
            with tr.span("request.commit"):
                with tr.span("legend.get_transformations"):
                    tf = self.legend.get_transformations(MAPPING)
                with tr.span("legend.get_expectations"):
                    ex = self.legend.get_expectations(MAPPING)
                with tr.span("spark.read"):
                    bronze = spark.read.parquet(bp)
                with tr.span("dataframe.legend_transform"):
                    silver = legend_transform(bronze, tf)
                with tr.span("dataframe.legend_validate"):
                    gold = legend_validate(silver, ex)
                with tr.span("sources.versioned.append_batch"):
                    vt.append_batch(gold, i)
            if record:
                self.commit_rates.append(self.batches[i].num_rows
                                         / (time.perf_counter() - t))
        with tr.span("sources.versioned.merge"):
            updates = legend_validate(spark.read.parquet(self.updates_path), ex)
            vt.merge(updates, KEYS)
        tt_version = min(self.tt_version, len(batch_paths) - 1)
        with tr.span("sources.versioned.read"):
            tt_rows = vt.read(tt_version).count()
        with tr.span("dataframe.dq_metrics"):
            dq = {r["rule"]: r["violations"]
                  for r in dq_metrics(vt.read(), ex).collect()}
        with tr.span("sources.versioned.compact"):
            vt.compact()
        if record:
            files = [os.path.join(r, f) for r, _d, fs in os.walk(path)
                     for f in fs if f.endswith(".parquet")]
            self.outputs.append({
                "tt_rows": tt_rows, "dq": dq, "path": path,
                "files": len(files),
                "bytes": sum(os.path.getsize(f) for f in files)})
        return path

    def register_merged(self, con) -> None:
        """The rows every pass's table ends with, as DuckDB view
        ``lineitem``: the batches, with merged keys replaced."""
        con.register("batches", self.lineitem)
        con.register("updates", self.updates)
        con.execute(
            "CREATE VIEW lineitem AS SELECT b.* FROM batches b ANTI JOIN updates u "
            "USING (l_orderkey, l_linenumber) UNION ALL SELECT * FROM updates")

    def check(self, con) -> list[str]:
        """Violation counts against the demo's oracle over the merged
        rows, time-travel and final row counts against the batches."""
        from legend_community_delta_spark import demo
        from legend_community_delta_spark.sources.versioned import VersionedTable
        want_dq = dict(con.execute(demo.ORACLES["legend_dq_lineitem"]).fetchall())
        want_rows = con.execute("SELECT count(*) FROM lineitem").fetchone()[0]
        want_tt = sum(b.num_rows for b in self.batches[:self.tt_version + 1])
        bad = []
        for out in self.outputs:
            if out["dq"] != want_dq:
                bad.append(f"violations {out['dq']} != {want_dq}")
            if out["tt_rows"] != want_tt:
                bad.append(f"read({self.tt_version}) rows {out['tt_rows']} != {want_tt}")
        got_rows = VersionedTable(self.spark, self.outputs[-1]["path"]).read().count()
        if got_rows != want_rows:
            bad.append(f"compacted rows {got_rows} != {want_rows}")
        return bad

    def layers(self) -> dict:
        tr = self.tr
        commits = tr.named("request.commit")
        last = self.outputs[-1]
        return {
            "dataframe.legend_validate_ms":
                median(tr.durations("dataframe.legend_validate")) * 1000,
            "sources.versioned.append_batch_s":
                median(tr.durations("sources.versioned.append_batch")),
            "sources.versioned.merge_s": median(tr.durations("sources.versioned.merge")),
            "sources.versioned.read_s": median(tr.durations("sources.versioned.read")),
            "sources.versioned.compact_s":
                median(tr.durations("sources.versioned.compact")),
            "sources.versioned.bytes_written": last["bytes"],
            "sources.versioned.files_written": last["files"],
            "sources.versioned.bytes_per_input_byte": last["bytes"] / self.input_bytes,
            "dataframe.dq_metrics_s": median(tr.durations("dataframe.dq_metrics")),
            "spark.jobs_per_commit":
                sum(tr.total_jobs(c) for c in commits) / max(len(commits), 1),
            "ingest.commit_p50_s": median(tr.durations("request.commit")),
        }

"""Serving half of legend_ingest_serve: compiled metadata and queries.

A closed loop with one client sends a seeded mix of requests:

* metadata requests (``get_schema``, ``get_expectations``,
  ``get_derivations``, ``generate_sql``) against the demo TPC-H model plus
  seeded synthetic classes and mappings -- pure compilation, no Spark;
* query requests through the four demo services and three ad-hoc
  ``generate_sql_pure`` lambda templates, then ``spark.sql`` and
  ``collect`` over sf0.1 ``orders``, ``lineitem`` and ``part``.

Operator changes should not move it.  Outputs are checked after the
timed window: every query result against
a DuckDB twin with the same constants, every metadata result against
invariants read off the entity definitions.
"""

from __future__ import annotations

import time

from . import datagen as G
from .trace import median

_WARM_PARAMS = {"price": 250_000, "status": "O", "k": 10, "qty": 25, "size": 20}


class Serve:
    """The request loop over registered ``orders``, ``part`` and
    ``lineitem`` views, through a :class:`Legend` built from
    *entities*."""

    def __init__(self, tables: dict, entities: list[dict], mix: list[list[dict]],
                 tracer):
        self.tables, self.entities, self.mix, self.tr = tables, entities, mix, tracer
        self.results: list[tuple[dict, object]] = []
        self.next_pass = 0

    def setup(self, spark, legend) -> None:
        self.spark, self.legend = spark, legend

    def warmup(self) -> None:
        """Every query template and metadata call twice, fixed constants."""
        reqs = ([{"kind": "service", "path": p} for p in G.SERVICES]
                + [{"kind": "lambda", "template": n, "mapping": m,
                    "params": _WARM_PARAMS} for n, m, _p, _d in G.LAMBDAS]
                + [{"kind": "meta", "call": c, "path": G.ORDERS_MAPPING}
                   for c in G.META_CALLS])
        for r in reqs + reqs:
            self._request(r)

    def run(self, n_passes: int) -> tuple[list[float], int]:
        """The next *n_passes* passes of the seeded mix; returns the
        query latencies in ms and the number of requests."""
        query_ms, n = [], 0
        for reqs in self.mix[self.next_pass:self.next_pass + n_passes]:
            for r in reqs:
                out, ms = self._request(r)
                if r["kind"] != "meta":
                    query_ms.append(ms)
                self.results.append((r, out))
                n += 1
        self.next_pass += n_passes
        return query_ms, n

    def _request(self, r: dict):
        t = time.perf_counter()
        kind = r["kind"]
        with self.tr.span(f"request.{'meta' if kind == 'meta' else 'query'}"):
            if kind == "meta":
                with self.tr.span(f"legend.{r['call']}"):
                    out = getattr(self.legend, r["call"])(r["path"])
            else:
                if kind == "service":
                    with self.tr.span("legend.generate_sql"):
                        sql = self.legend.generate_sql(r["path"])
                else:
                    pure = next(p for n, _m, p, _d in G.LAMBDAS
                                if n == r["template"])
                    with self.tr.span("legend.generate_sql_pure"):
                        sql = self.legend.generate_sql_pure(
                            pure.format(**r["params"]), r["mapping"])
                with self.tr.span("spark.sql"):
                    df = self.spark.sql(sql)
                with self.tr.span("spark.collect"):
                    out = [tuple(row) for row in df.collect()]
        return out, (time.perf_counter() - t) * 1000

    def check(self, con) -> list[str]:
        """Query results against DuckDB twins on *con* (which holds the
        same ``orders``, ``part`` and ``lineitem`` rows); metadata
        results against invariants of the entity definitions."""
        from legend_community_delta_spark import demo
        expect_meta = _meta_expectations(self.entities)
        twins: dict[str, list] = {}
        bad = []
        for r, out in self.results:
            if r["kind"] == "meta":
                err = expect_meta(r["call"], r["path"], out)
            else:
                if r["kind"] == "service":
                    name = r["path"].rsplit("::", 1)[1]
                    sql = demo.ORACLES[f"legend_service_{name}"]
                else:
                    duck = next(d for n, _m, _p, d in G.LAMBDAS
                                if n == r["template"])
                    sql = duck.format(**r["params"])
                if sql not in twins:
                    twins[sql] = _canon(con.execute(sql).fetchall())
                err = None if _canon(out) == twins[sql] else f"rows differ: {sql}"
            if err:
                bad.append(err)
        return bad

    def layers(self) -> dict:
        tr = self.tr
        queries = tr.named("request.query")
        return {
            "legend.generate_sql_ms": median(tr.durations("legend.generate_sql")) * 1000,
            "legend.get_expectations_ms":
                median(tr.durations("legend.get_expectations")) * 1000,
            "spark.sql_analyze_ms": median(tr.durations("spark.sql")) * 1000,
            "spark.collect_ms": median(tr.durations("spark.collect")) * 1000,
            "spark.jobs_per_query":
                sum(tr.total_jobs(q) for q in queries) / max(len(queries), 1),
            "legend.meta_p50_ms": median(tr.durations("request.meta")) * 1000,
        }


def _canon(rows) -> list[tuple]:
    return [tuple(round(v, 6) if isinstance(v, float) else v for v in r)
            for r in rows]


def _meta_expectations(entities: list[dict]):
    """A checker for metadata results, built from the entity dicts alone:
    schema columns are the mapped columns, expectations name every
    constraint and every mandatory property, derivations name every
    qualified property, and generated SQL reads the mapped table."""
    classes, mappings, services = {}, {}, {}
    for e in entities:
        c = e["content"]
        path = f"{c['package']}::{c['name']}"
        if c["_type"] == "class":
            classes[path] = c
        elif c["_type"] == "mapping":
            cm = c["classMappings"][0]
            mappings[path] = (cm["class"], cm["mainTable"]["table"],
                              {p["property"]["property"]:
                               p["relationalOperation"]["column"]
                               for p in cm["propertyMappings"]})
        elif c["_type"] == "service":
            services[path] = c["execution"]["mapping"]

    def check(call: str, path: str, out) -> str | None:
        if call == "generate_sql":
            table = mappings[services.get(path, path)][1]
            ok = out.startswith("select ") and f"from {table} as" in out
            return None if ok else f"{path}: SQL does not read {table}"
        cls_path, _table, cols = mappings[path]
        cls = classes[cls_path]
        if call == "get_schema":
            ok = [f.name for f in out.fields] == list(cols.values())
        elif call == "get_derivations":
            ok = set(out) == {q["name"] for q in cls["qualifiedProperties"]}
        else:
            want = {c["name"] for c in cls["constraints"]}
            want |= {f"[{p['name']}] is mandatory" for p in cls["properties"]
                     if p["multiplicity"]["lowerBound"] >= 1}
            ok = want <= set(out)
        return None if ok else f"{call}({path}) breaks its invariant"

    return check

"""Seeded inputs for the benchmark workloads.

Everything the program under test receives is made here from ``--seed``:
TPC-H-shaped tables (``part``, ``orders``, ``lineitem``), a ``documents``
corpus with planted near-duplicates, the request mix the serving loop
sends, the synthetic PURE entities its metadata requests compile, and
the bronze batch split the ingest commits.  The same seed gives byte-identical
inputs; :func:`fingerprint` hashes them so the self-check can prove it.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# TPC-H-shaped fixture tables: sf0.1 row counts, except lineitem
N_PART = 20_000
N_ORDERS = 150_000          # ~300k lineitem rows (1..3 lines per order)
N_SYNTHETIC_CLASSES = 24
N_BATCHES = 12
FILES_PER_TABLE = 8
MERGE_UPDATE_SHARE = 0.02   # existing keys rewritten by the merge
MERGE_INSERT_ROWS = 2_000   # new keys inserted by the merge

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["large", "hot", "blue", "old", "red", "small", "green", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
_PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
_WORDS = ("batch part spark line column order small sort fast value scan a "
          "hash slow group agg filter query big key window row table stream "
          "merge data join vector customer the").split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_EPOCH = dt.datetime(1995, 1, 1)
_DAYS = 7 * 365


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input kind, so resizing one input
    never shifts another's values."""
    key = int.from_bytes(hashlib.sha256(f"{seed}:{stream}".encode()).digest()[:8],
                         "little")
    return np.random.default_rng(key)


def _dates(rng: np.random.Generator, n: int) -> np.ndarray:
    days = rng.integers(0, _DAYS, n)
    return (np.datetime64(_EPOCH, "us")
            + days.astype("timedelta64[D]").astype("timedelta64[us]"))


def tpch_tables(seed: int) -> dict[str, pa.Table]:
    """``part`` and ``orders`` at sf0.1 sizes, ``lineitem`` at half of it.

    ``(l_orderkey, l_linenumber)`` is unique, so it can key a merge.
    About 9% of lineitem rows have a zero discount, ~40% a tax at or above
    the 0.05 cap and 0.5% a return flag outside the model's enumeration,
    so every lineitem expectation has violations to count."""
    rng = _rng(seed, "tpch")
    pk = np.arange(N_PART, dtype=np.int64)
    names = [f"{_PART_ADJ[i % 8]} {_PART_NOUN[(i // 8) % 8]}"
             for i in rng.integers(0, 64, N_PART)]
    part = pa.table({
        "p_partkey": pk,
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": [_PART_TYPES[t] for t in rng.integers(0, 6, N_PART)],
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 2),
    })

    ok = np.arange(N_ORDERS, dtype=np.int64)
    orders = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, 15_000, N_ORDERS),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, N_ORDERS), 2),
        "o_orderdate": _dates(rng, N_ORDERS),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)],
    })

    lines = rng.integers(1, 4, N_ORDERS)
    n = int(lines.sum())
    l_orderkey = np.repeat(ok, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    l_partkey = rng.integers(0, N_PART, n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    flags = np.array(["A", "N", "R"])[rng.integers(0, 3, n)]
    flags[rng.random(n) < 0.005] = "X"
    lineitem = pa.table({
        "l_orderkey": l_orderkey,
        "l_partkey": l_partkey,
        "l_suppkey": rng.integers(0, 1000, n),
        "l_linenumber": l_linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900 + (l_partkey % 1000) / 10), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": flags,
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": _dates(rng, n),
    })
    return {"part": part, "orders": orders, "lineitem": lineitem}


def documents(seed: int, n_docs: int) -> pa.Table:
    """A corpus of *n_docs* word-salad documents over a 30-word vocabulary.

    Every tenth document is a near-copy of an earlier original (a few
    tokens replaced, some appended), so near-duplicate pairs, their
    connected components and long duplicated spans exist at the same
    rate and shape on every seed."""
    rng = _rng(seed, "documents")
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n_docs):
        if i % 10 == 9:
            original = int(rng.integers(0, i // 10 + 1)) * 10
            toks = texts[original].split()
            for j in rng.integers(0, len(toks), max(1, len(toks) // 12)):
                toks[j] = words[rng.integers(0, len(words))]
            toks += list(words[rng.integers(0, len(words), rng.integers(0, 6))])
        else:
            toks = list(words[rng.integers(0, len(words), rng.integers(8, 90))])
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_docs, p=[.4, .15, .15, .15, .15])],
        "source": [f"src{s}" for s in np.arange(n_docs) % 20],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


# -- request mix -----------------------------------------------------------------

ORDERS_MAPPING = "tpch::mapping::orders_delta"
LINEITEM_MAPPING = "tpch::mapping::lineitem_delta"
PART_MAPPING = "tpch::mapping::part_delta"
SERVICES = ["tpch::service::urgent_orders", "tpch::service::orders_by_year",
            "tpch::service::orders_97_low", "tpch::service::part_stats"]
# ad-hoc lambda templates: (name, mapping, PURE text, DuckDB twin)
LAMBDAS = [
    ("orders_topk", ORDERS_MAPPING,
     "tpch::entity::order.all()->filter(x|$x.totalPrice > {price} && "
     "$x.orderStatus == '{status}')->project([x|$x.orderKey, x|$x.totalPrice, "
     "x|$x.orderYear],['OrderKey','Total','Year'])->sort([desc('Total'), "
     "'OrderKey'])->take({k})",
     "SELECT o_orderkey AS OrderKey, o_totalprice AS Total, "
     "CAST(year(o_orderdate) AS INT) AS Year FROM orders WHERE o_totalprice > "
     "{price} AND o_orderstatus = '{status}' ORDER BY Total DESC, OrderKey "
     "LIMIT {k}"),
    ("lineitem_flags", LINEITEM_MAPPING,
     "tpch::entity::lineitem.all()->filter(x|$x.quantity < {qty})->groupBy("
     "[x|$x.returnFlag, x|$x.lineStatus],[agg(x|$x.quantity, x|$x->sum()), "
     "agg(x|$x.orderKey, x|$x->count())],['Flag','Status','Qty','Lines'])"
     "->sort(['Flag','Status'])",
     "SELECT l_returnflag AS Flag, l_linestatus AS Status, sum(l_quantity) AS "
     "Qty, count(l_orderkey) AS Lines FROM lineitem WHERE l_quantity < {qty} "
     "GROUP BY 1, 2 ORDER BY Flag, Status"),
    ("part_sizes", PART_MAPPING,
     "tpch::entity::part.all()->filter(x|$x.size > {size})->groupBy("
     "[x|$x.type],[agg(x|$x.retailPrice, x|$x->max()), agg(x|$x.partKey, "
     "x|$x->count())],['Type','MaxPrice','Parts'])->sort([desc('Parts'), "
     "'Type'])->take({k})",
     "SELECT p_type AS Type, max(p_retailprice) AS MaxPrice, count(p_partkey) "
     "AS Parts FROM part WHERE p_size > {size} GROUP BY 1 ORDER BY Parts DESC, "
     "Type LIMIT {k}"),
]
META_CALLS = ["get_schema", "get_expectations", "get_derivations",
              "generate_sql"]
QUERIES_PER_PASS = 2 * (len(SERVICES) + len(LAMBDAS))
META_PER_PASS = 4 * QUERIES_PER_PASS


def serve_mix(seed: int, n_passes: int, synthetic: list[str]) -> list[list[dict]]:
    """*n_passes* request lists.  Each pass holds every query template
    twice and four metadata requests per query, shuffled; the template
    multiset is fixed so latency percentiles compare across seeds, while
    constants, order and metadata targets come from the seed.  Metadata
    requests target the demo and *synthetic* mappings; ``generate_sql``
    also targets services."""
    rng = _rng(seed, "serve_mix")
    mappings = ([ORDERS_MAPPING, LINEITEM_MAPPING, PART_MAPPING]
                + [p for p in synthetic if "::m" in p])
    services = SERVICES + [p for p in synthetic if "::s" in p]
    passes = []
    for _ in range(n_passes):
        reqs: list[dict] = []
        for _rep in range(2):
            reqs += [{"kind": "service", "template": p.rsplit("::", 1)[1],
                      "path": p} for p in SERVICES]
            for name, mapping, _pure, _duck in LAMBDAS:
                params = {"price": int(rng.integers(100_000, 480_000)),
                          "status": str(rng.choice(["O", "F", "P"])),
                          "k": int(rng.integers(5, 30)),
                          "qty": int(rng.integers(10, 51)),
                          "size": int(rng.integers(1, 45))}
                reqs.append({"kind": "lambda", "template": name,
                             "mapping": mapping, "params": params})
        for _m in range(META_PER_PASS):
            call = META_CALLS[int(rng.integers(0, len(META_CALLS)))]
            targets = (mappings + services if call == "generate_sql"
                       else mappings)
            reqs.append({"kind": "meta", "call": call,
                         "path": targets[int(rng.integers(0, len(targets)))]})
        order = rng.permutation(len(reqs))
        passes.append([reqs[i] for i in order])
    return passes


# -- synthetic PURE entities ---------------------------------------------------

def _prop(name, ptype, lower=1):
    return {"name": name, "type": ptype,
            "multiplicity": {"lowerBound": lower, "upperBound": 1}}


def _this(name):
    return {"_type": "property", "property": name,
            "parameters": [{"_type": "var", "name": "this"}]}


def _fn(name, *params):
    return {"_type": "func", "function": name, "parameters": list(params)}


def _int(v):
    return {"_type": "integer", "values": [v],
            "multiplicity": {"lowerBound": 1, "upperBound": 1}}


def _var(v, name):
    return {"_type": "property", "property": name,
            "parameters": [{"_type": "var", "name": v}]}


def _lam(body):
    return {"_type": "lambda", "body": [body],
            "parameters": [{"_type": "var", "name": "x"}]}


def synthetic_entities(seed: int) -> list[dict]:
    """Classes, enumerations, mappings and services shaped like the TPC-H
    demo model (mapped scalar properties, an enumeration-typed property,
    ``year``/``substring`` derivations, positivity constraints and a
    filter/project/sort/take service), with seeded names and sizes."""
    rng = _rng(seed, "synthetic_model")
    out: list[dict] = []
    for i in range(N_SYNTHETIC_CLASSES):
        pkg = "bench::syn"
        n_num = int(rng.integers(2, 7))
        n_str = int(rng.integers(1, 5))
        enum_path = f"{pkg}::e{i}"
        out.append({"content": {
            "_type": "Enumeration", "package": pkg, "name": f"e{i}",
            "values": [{"value": f"V{j}"} for j in range(int(rng.integers(2, 7)))]}})
        props = ([_prop(f"num{j}", "Decimal", int(rng.integers(0, 2)))
                  for j in range(n_num)]
                 + [_prop(f"str{j}", "String", int(rng.integers(0, 2)))
                    for j in range(n_str)]
                 + [_prop("kind", enum_path), _prop("ts", "DateTime")])
        qualified = [
            {"name": "tsYear", "returnType": "Integer",
             "returnMultiplicity": {"lowerBound": 1, "upperBound": 1},
             "parameters": [], "body": [_fn("year", _this("ts"))]},
            {"name": "strHead", "returnType": "String",
             "returnMultiplicity": {"lowerBound": 1, "upperBound": 1},
             "parameters": [],
             "body": [_fn("substring", _this("str0"), _int(0),
                          _int(int(rng.integers(1, 4))))]},
        ]
        constraints = [
            {"name": f"[num{j}] must be positive",
             "functionDefinition": {"_type": "lambda", "parameters": [],
                                    "body": [_fn("greaterThan", _this(f"num{j}"),
                                                 _int(0))]}}
            for j in range(int(rng.integers(1, n_num + 1)))]
        cls_path = f"{pkg}::c{i}"
        out.append({"content": {
            "_type": "class", "package": pkg, "name": f"c{i}", "superTypes": [],
            "properties": props, "qualifiedProperties": qualified,
            "constraints": constraints}})
        columns = {p["name"]: f"c{i}_{p['name'].lower()}" for p in props}
        out.append({"content": {
            "_type": "mapping", "package": pkg, "name": f"m{i}",
            "classMappings": [{
                "_type": "relational", "class": cls_path, "root": True,
                "mainTable": {"_type": "Table", "database": f"{pkg}::db",
                              "schema": "default", "table": f"syn_t{i}"},
                "propertyMappings": [
                    {"_type": "relationalPropertyMapping",
                     "property": {"class": cls_path, "property": p},
                     "relationalOperation": {"_type": "column", "column": c}}
                    for p, c in columns.items()]}]}})
        take = int(rng.integers(5, 50))
        out.append({"content": {
            "_type": "service", "package": pkg, "name": f"s{i}",
            "pattern": f"/s{i}",
            "execution": {
                "_type": "pureSingleExecution", "mapping": f"{pkg}::m{i}",
                "func": {"_type": "lambda", "parameters": [], "body": [
                    _fn("take",
                        _fn("sort",
                            _fn("project",
                                _fn("filter",
                                    _fn("getAll", {"_type": "packageableElementPtr",
                                                   "fullPath": cls_path}),
                                    _lam(_fn("greaterThan", _var("x", "num0"),
                                             _int(int(rng.integers(0, 100)))))),
                                {"_type": "collection", "values": [
                                    _lam(_var("x", "num0")), _lam(_var("x", "tsYear"))]},
                                {"_type": "collection", "values": [
                                    {"_type": "string", "values": ["N"]},
                                    {"_type": "string", "values": ["Y"]}]}),
                            {"_type": "collection", "values": [
                                _fn("desc", {"_type": "string", "values": ["N"]})]}),
                        _int(take))]}}}})
    return out


def synthetic_targets(entities: list[dict]) -> list[str]:
    """Mapping and service paths of the synthetic model."""
    return [f"{e['content']['package']}::{e['content']['name']}"
            for e in entities if e["content"]["_type"] in ("mapping", "service")]


# -- bronze batches ----------------------------------------------------------------

LINEITEM_PROPERTIES = {
    "l_orderkey": "orderKey", "l_partkey": "partKey", "l_suppkey": "suppKey",
    "l_linenumber": "lineNumber", "l_quantity": "quantity",
    "l_extendedprice": "extendedPrice", "l_discount": "discount",
    "l_tax": "tax", "l_returnflag": "returnFlag", "l_linestatus": "lineStatus",
    "l_shipdate": "shipDate"}


def bronze_batches(seed: int, lineitem: pa.Table) -> list[pa.Table]:
    """Split lineitem into :data:`N_BATCHES` equal bronze batches of
    seeded row membership, with columns renamed to the model's property
    names (the shape an upstream feed delivers before
    ``legend_transform``).  Equal sizes keep the per-commit rate
    comparable across seeds."""
    rng = _rng(seed, "bronze")
    n = lineitem.num_rows
    order = rng.permutation(n)
    cuts = [n * k // N_BATCHES for k in range(1, N_BATCHES)]
    renamed = lineitem.rename_columns(
        [LINEITEM_PROPERTIES[c] for c in lineitem.column_names])
    return [renamed.take(pa.array(np.sort(idx)))
            for idx in np.split(order, cuts)]


def merge_updates(seed: int, lineitem: pa.Table) -> pa.Table:
    """Upserts for the merge step, in target (column) names: a seeded
    share of existing ``(l_orderkey, l_linenumber)`` keys with a new
    quantity and discount, plus new keys past the last order."""
    rng = _rng(seed, "merge")
    n = lineitem.num_rows
    idx = np.sort(rng.choice(n, int(n * MERGE_UPDATE_SHARE), replace=False))
    upd = lineitem.take(pa.array(idx))
    upd = upd.set_column(upd.schema.get_field_index("l_quantity"), "l_quantity",
                         pa.array(rng.integers(1, 51, len(idx)).astype(np.float64)))
    upd = upd.set_column(upd.schema.get_field_index("l_discount"), "l_discount",
                         pa.array(rng.integers(0, 11, len(idx)) / 100.0))
    new = lineitem.slice(0, MERGE_INSERT_ROWS)
    new = new.set_column(0, "l_orderkey",
                         pa.array(np.arange(MERGE_INSERT_ROWS, dtype=np.int64)
                                  + N_ORDERS))
    return pa.concat_tables([upd, new])


# -- self-check --------------------------------------------------------------------

def fingerprint(obj) -> str:
    """Content hash of generated inputs (Arrow tables, lists of them, or
    JSON-able request and entity structures)."""
    h = hashlib.sha256()

    def feed(o):
        if isinstance(o, dict):
            for k in sorted(o):
                h.update(k.encode())
                feed(o[k])
        elif isinstance(o, pa.Table):
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, o.schema) as w:
                w.write_table(o)
            h.update(sink.getvalue().to_pybytes())
        elif isinstance(o, (list, tuple)) and o and isinstance(o[0], pa.Table):
            for t in o:
                feed(t)
        else:
            h.update(json.dumps(o, sort_keys=True, default=str).encode())

    feed(obj)
    return h.hexdigest()


def write_parquet_dir(table: pa.Table, path: str) -> None:
    """Write *table* as :data:`FILES_PER_TABLE` parquet files, so a scan
    splits the way a multi-file table does."""
    import os
    os.makedirs(path)
    step = -(-table.num_rows // FILES_PER_TABLE)
    for i in range(FILES_PER_TABLE):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:03d}.parquet"))

"""The contract registry (``demo.REGISTRY``) is the one place an entry is
declared; the lists that other surfaces key by name must resolve in it.
No Spark session: these are checks on the declarations alone."""

from __future__ import annotations

import importlib.util
import os

from legend_community_delta_spark import demo


def _load_bench():
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(here, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_registry_names_are_unique():
    names = [e.name for e in demo.REGISTRY]
    assert len(names) == len(set(names))


def test_every_bench_query_is_registered():
    bench = _load_bench()
    assert bench.BENCH_QUERIES
    assert not set(bench.BENCH_QUERIES) - set(demo.QUERIES)


def test_perfbench_oracles_are_registered():
    from perfbench.datagen import SERVICES

    wanted = {"legend_service_" + s.rsplit("::", 1)[1] for s in SERVICES}
    wanted |= {"legend_dq_lineitem", "verified_near_dup_pairs",
               "max_dup_spans", "cdc_chunk_docs", "near_dup_clusters",
               "leakage_splits"}
    assert not wanted - set(demo.ORACLES)

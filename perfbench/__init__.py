"""Benchmark for legend_community_delta_spark; run ``perfbench/run.py``."""

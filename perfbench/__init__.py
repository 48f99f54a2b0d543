"""Benchmark of the graftlouvain engine; run with ``python3 perfbench/run.py``."""

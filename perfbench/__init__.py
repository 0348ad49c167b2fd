"""Benchmark of the weather -> hotels topology; run with ``python3 perfbench/run.py``."""

"""Benchmark of the engine's serve, index and curate paths; run
``python3 perfbench/run.py --help``."""

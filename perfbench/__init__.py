"""Benchmark of bloomjoin_spark: see ``perfbench/run.py`` and ``perfbench/NOTES.md``."""

"""Benchmark of psweep_spark: see perfbench/run.py."""

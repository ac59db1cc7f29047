"""Benchmark of record for deduplicator_spark: workloads, tracing and
measurement helpers.  The entry point is ``perfbench/run.py``."""

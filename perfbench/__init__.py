"""Benchmark of the extraction engine: workloads, tracing and the layer
report.  The entry point is perfbench/run.py."""

"""Benchmark of the fastdata-spark engine: dashboard, ingest and build
workloads, measured end to end and, in a separate traced pass, by layer.
Run ``python3 perfbench/run.py --help`` from the repository root."""

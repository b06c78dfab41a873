"""Benchmark for the full-text engine: workloads, oracles and a layer trace.

Run ``python3 perfbench/run.py --help`` from the repository root.
"""

"""Connector benchmark: seeded workloads over the package's public entry
points, with end-to-end metrics and a separate traced run for per-layer
numbers.  Run ``python3 perfbench/run.py --help`` from the repository root.
"""

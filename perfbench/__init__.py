"""The engine benchmark: seeded workloads, output checks and tracing.

Entry point: ``python3 perfbench/run.py --help``.
"""

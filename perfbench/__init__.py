"""Repository benchmark: seeded CDC workloads measured end to end.

Run ``python3 perfbench/run.py --help`` from the repository root.
"""

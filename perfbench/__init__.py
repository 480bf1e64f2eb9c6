"""Engine benchmark: closed-loop workloads over the unmodified package.

Run from the repository root: ``python3 perfbench/run.py --workload
token-roundtrip --seed 1 --seconds 12 --trace 0``.  See ``README.md``.
"""

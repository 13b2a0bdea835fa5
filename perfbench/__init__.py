"""Seeded benchmark for the slower_whisper_spark validation engine.

Run one workload with ``python3 perfbench/run.py --workload suite_dense
--seed 1 --seconds 12 --trace 0`` from the repository root. The last line of
standard output is the result JSON; ``BENCHMARK.json`` lists the metrics.
"""

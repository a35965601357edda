"""Benchmark for de_spark: bulk KG build and reads beside graph sync.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; see ``perfbench/NOTES.md``.
"""

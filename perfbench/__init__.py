"""Tick-level benchmark of the hatchery_spark pipeline and codec catalog.

Run one workload with ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root; see README.md.
"""

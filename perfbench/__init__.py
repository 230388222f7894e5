"""Repository benchmark: seeded workloads over committed input tables.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``. See ``perfbench/NOTES.md``.
"""

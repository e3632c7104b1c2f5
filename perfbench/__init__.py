"""Seeded, oracle-checked benchmark of the lakehouse_workshop_spark engine.

Run one workload with ``python3 perfbench/run.py --workload <name> --seed <n>``;
see ``perfbench/README.md`` for the workloads and metrics.
"""

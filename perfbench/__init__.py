"""End-to-end benchmark of elastichash_spark's public front doors.

Run ``python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0``
from the repository root; ``perfbench/README.md`` describes the workloads,
the metrics and the layer map.
"""

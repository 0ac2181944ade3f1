"""Lakehouse benchmark: seeded workloads over the engine's public API.

Run from the repository root::

    python3 lhbench/run.py --workload olap_mix --seed 1 --seconds 15 --trace 0

See ``lhbench/run.py`` for the workloads and the printed metrics.
"""

"""CDC replay benchmark: workloads, oracle gate and per-layer tracing.

Run it from the repository root with ``python3 perfbench/run.py``; see
``perfbench/design.json`` for the workloads, metrics and layer map.
"""

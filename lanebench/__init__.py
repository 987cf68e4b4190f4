"""End-to-end and per-layer benchmark of the spark-lanes query engine.

Run ``python3 lanebench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; NOTES.md describes the
workloads, the metrics and the steadiness runs behind their bounds.
"""

"""Repository benchmark for sparkocr: workloads, metrics and tracing.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root.
"""

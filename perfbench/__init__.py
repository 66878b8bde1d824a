"""End-to-end and per-layer benchmark of transporter_spark's three
operating modes: copy, per-document UDF transform and CDC tail sync.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``. See NOTES.md for every metric.
"""

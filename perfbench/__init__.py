"""End-to-end and per-layer benchmark of the HTTP engine.

``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` runs one workload against an endpoint double that the
benchmark starts in its own process, checks the output against a
reference computation and prints one JSON result line. See ``run.py``.
"""

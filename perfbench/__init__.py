"""Repository benchmark: replayed exchange feeds through ``run_pipeline``,
an OLAP query mix and a dedup pass, with output checks and a traced
per-layer run. Entry point: ``python3 perfbench/run.py --help``."""

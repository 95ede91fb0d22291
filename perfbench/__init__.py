"""Benchmark of the OME-Zarr read and write paths; run with
``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>``."""

"""Layered benchmark for rove_spark: ``python3 perfbench/run.py --help``."""

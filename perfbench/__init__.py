"""Benchmark of the ad analytics lakehouse; see perfbench/run.py."""

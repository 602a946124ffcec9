"""Benchmark for the entity engine: YCSB mixes A and T on the local,
superstep and continuous runtimes. Entry point: ``python3 perfbench/run.py``."""

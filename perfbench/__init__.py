"""The repository's benchmark: workloads, input generator, output
checkers and traced mode. Entry point: ``perfbench/run.py``."""

"""The crawler's benchmark: one command, ``perfbench/run.py``."""

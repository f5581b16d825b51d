"""Seeded benchmark of the program's layers; ``perfbench/run.py`` is the entry point."""

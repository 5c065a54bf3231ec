"""Seeded extract -> curate benchmark; ``perfbench/run.py`` is the entry point."""

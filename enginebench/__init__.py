"""Seeded, traced benchmark of the engine; see run.py."""

"""Layered benchmark of the ophois_spark street-graph engine (see run.py)."""

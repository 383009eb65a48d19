"""Seeded end-to-end benchmark for the spatial engine (see run.py)."""

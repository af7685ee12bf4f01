"""Seeded end-to-end and per-layer benchmark; see run.py."""

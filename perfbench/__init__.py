"""Seeded end-to-end and per-layer benchmark of rust_s2_spark; see run.py."""

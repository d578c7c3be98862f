"""Seeded end-to-end and per-layer benchmark of mopper_spark (see README.md)."""

"""End-to-end and per-layer benchmark for sparkspatial (see run.py)."""

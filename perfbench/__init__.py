"""End-to-end and per-layer benchmark of driftmind_spark (see README.md)."""

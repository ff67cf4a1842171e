"""Standalone benchmark for gmall_flink_yb_spark: seeded query mixes and an
ODS stream replay, with an optional per-layer trace. Entry point: run.py."""

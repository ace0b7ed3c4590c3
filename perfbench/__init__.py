"""Seeded, oracle-checked benchmark for ir_base_spark (see README.md)."""

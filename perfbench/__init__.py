"""Served-path and batch benchmark for helix_db_spark (see README.md)."""

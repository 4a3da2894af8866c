"""Benchmark of the covid19i2b2_spark package: see NOTES.md and run.py."""

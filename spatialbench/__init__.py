"""Spatial-query benchmark for rayjoin_spark (entry point: spatialbench/run.py)."""

"""Seeded benchmark for the engine: search serving, index building and log
ingest, each checked against an independent oracle. Run ``perfbench/run.py``."""

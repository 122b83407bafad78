"""Benchmark of the p3_osm_transformer_spark package; see run.py."""

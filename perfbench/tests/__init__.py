"""Tests of the benchmark itself; no Spark session needed."""

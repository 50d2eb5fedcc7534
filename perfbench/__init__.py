"""Seeded benchmark for the citydata_etl_spark engine (see README.md)."""

"""Seeded end-to-end and per-layer benchmark of the GeoSPARQL ETL engine
(entry point: ``python3 perfbench/run.py``)."""

"""Seeded end-to-end and per-layer benchmark of navgraph_osm_spark (see README.md)."""

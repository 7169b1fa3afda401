"""Benchmark of the osm_spark boundary and page-enrichment pipelines."""

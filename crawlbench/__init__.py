"""Benchmark of the spider_spark crawl engine; see README.md."""

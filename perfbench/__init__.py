"""Benchmark of the crawl -> text -> curate pipeline at local[4]; see README.md."""

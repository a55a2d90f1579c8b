"""Benchmark of the ibmmq ingest path, the fake broker and a consumer query panel."""

"""Same-box benchmark for the CLP pipeline: ingest throughput, stored bytes
and search latency, with a traced per-layer run.  Entry point: ``run.py``."""

"""The repo benchmark: crawl and query-mix workloads with a per-layer trace
(see README.md)."""

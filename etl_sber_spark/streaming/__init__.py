"""Structured Streaming landing zones: idempotent foreachBatch streams
(idempotent) for the JSONL corpus (corpus), crawled pages (crawl) and
the ANN serving table (vectors)."""

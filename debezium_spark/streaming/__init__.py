"""Structured Streaming CDC ingest and stateful stream processing."""

"""Structured Streaming: the near-dup ingest sink (``dedup``) and the
stream-stream attribution join (``joins``)."""

"""Relational operators: dedup, resample, merge — the reference's save-path
semantics (crypto_collector.py:523-558) re-expressed as DataFrame algebra."""

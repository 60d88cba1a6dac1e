"""Distributed operators: candles, FIFO lot matching, as-of joins, dedup."""

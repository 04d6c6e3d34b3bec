"""Sinks: JDBC bulk load, ingestion ledger."""

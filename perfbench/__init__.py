"""CDC ingest benchmark of record (see perfbench/README.md)."""

"""Sources: ``::``-delimited ratings text reader, quarantining CSV/JSONL
loaders, binary-file ingest, incremental ledger, testdata parquet
tables."""

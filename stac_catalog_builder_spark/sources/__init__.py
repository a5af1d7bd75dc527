"""Sources & sinks: partitioned parquet, snapshot/commit-table checkpointing."""

"""The pyspark-cdc benchmark: workloads, tracing and correctness gate."""

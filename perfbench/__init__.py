"""Benchmark for blockchain_etl_spark: workloads, tracing and the run entry point."""

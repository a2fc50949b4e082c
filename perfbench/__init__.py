"""Benchmark of sat_bucket_spark: seeded inputs, four workloads, numpy oracle, span tracing."""

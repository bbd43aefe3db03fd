"""Benchmark for the divolte_collector_spark package (see BENCHMARK.json)."""

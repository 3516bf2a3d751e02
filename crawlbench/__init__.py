"""Crawl-engine benchmark (see BENCHMARK.json and crawlbench/LAYERS.md)."""

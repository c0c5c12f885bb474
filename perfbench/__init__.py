"""The repository benchmark; see perfbench/README.md and BENCHMARK.json."""

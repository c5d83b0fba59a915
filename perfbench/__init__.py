"""KG-construction benchmark: seeded crawl workloads driven through the
engine's public functions, with an event-log traced run for per-layer
numbers. Entry point: ``python3 perfbench/run.py --workload <name> ...``."""

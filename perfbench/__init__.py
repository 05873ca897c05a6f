"""Repository benchmark: live ingest freshness, query-mix latency and
snapshot-log commits. Run `python3 perfbench/run.py --help`."""

"""Feature-store benchmark: stream freshness, online lookup latency and
offline batch time, measured against the package's public functions.

Run with ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root."""

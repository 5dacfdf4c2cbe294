"""Benchmark harness for the market-data ETL and backtesting engine.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root. See ``perfbench/README.md``.
"""

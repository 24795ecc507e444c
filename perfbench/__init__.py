"""Seeded end-to-end benchmark for the extraction job and the headline
queries; see perfbench/BASELINE.md and `python3 perfbench/run.py -h`."""

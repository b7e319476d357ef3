"""Tier-engine benchmark (see perfbench/run.py)."""

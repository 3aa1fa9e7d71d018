"""Relay benchmark: see perfbench/run.py."""

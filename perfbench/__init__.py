"""Benchmark of the team_126_spark engine; usage in run.py."""

"""Closed-loop benchmark of the lakehouse engine (see perfbench/README.md)."""

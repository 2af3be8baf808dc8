"""Warehouse benchmark: seeded workloads, a closed-loop runner, checks."""

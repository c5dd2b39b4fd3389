"""Distributed spatial / text operators (SURVEY.md §2).

Each operator is a function DataFrame → DataFrame built from
declarative Spark primitives plus the NumPy kernels, with explicit
partitioning / broadcast / shuffle decisions documented inline —
the scale-out strategies the single-node reference leaves implicit.
"""

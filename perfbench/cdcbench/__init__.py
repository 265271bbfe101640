"""Harness internals of the CDC pipeline benchmark: input generators,
oracle, tracing and the workloads. ``perfbench/run.py`` is the entry point."""

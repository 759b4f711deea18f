"""Workload benchmark for the KG-construction engine (see METHOD.md)."""

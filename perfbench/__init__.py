"""Seeded benchmark of the routed enrich job; see ``run.py``."""

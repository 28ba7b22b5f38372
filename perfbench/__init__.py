"""Seeded benchmark of the dedup engine: see README.md."""

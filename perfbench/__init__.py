"""Seeded benchmark for the connector and curation paths; see README.md."""

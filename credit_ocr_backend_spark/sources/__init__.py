"""Synthetic page corpus, stage checkpoint tables, lineage."""

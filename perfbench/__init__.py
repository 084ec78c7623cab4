"""Extraction benchmark (see README.md)."""

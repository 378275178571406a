"""Lakehouse benchmark for the engine; see ``README.md`` beside this file."""

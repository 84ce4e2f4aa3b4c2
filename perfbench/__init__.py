"""Layered benchmark for lachesis-spark (see README.md)."""

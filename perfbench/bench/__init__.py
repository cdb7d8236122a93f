"""Seeded, layered benchmark for the graft engine (see perfbench/NOTES.md)."""

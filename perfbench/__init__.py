"""Benchmark for the ds2s build, store and serving paths (see NOTES.md)."""

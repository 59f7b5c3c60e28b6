"""Structured Streaming: every query reads ``windows.events`` and
finishes through ``windows.run_drain``."""

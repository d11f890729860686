"""Seeded, layer-traced benchmark for the CDC job and the near-dup screen."""

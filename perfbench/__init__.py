"""Benchmark of the CTB landing-zone drain and the analytics read path."""

"""Crawl-engine benchmark (see run.py)."""

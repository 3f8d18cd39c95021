"""siren_spark crawl benchmark (see run.py)."""

"""Seeded user-path benchmark of feature_store_api_spark (see README.md)."""

"""KG-build benchmark (see README.md)."""

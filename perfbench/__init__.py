"""KG-extraction benchmark (see README.md)."""

"""KG pipeline benchmark (see README.md in this directory)."""

"""Pages-in -> tables-out benchmark of the KG pipeline (see README.md)."""

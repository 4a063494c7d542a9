"""spark-dam benchmark (see README.md)."""

"""Closed-loop benchmark of the sri2db_spark sync engine and dedup pipeline."""

"""Source/sink connectors beyond plain parquet (SURVEY.md §2.1).

- :mod:`.jdbc` — JDBC scan/sink wrappers (S1–S4, S13); the reference's
  MySQL surface.  Import-gated: tests run on parquet, the API is the same
  DataFrame either way.
"""

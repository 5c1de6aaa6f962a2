"""Scrape-ETL pipeline: the reference's extract/parse/normalize/load
surface (SURVEY.md §2.1-§2.5, §2.8, §2.11) re-expressed Spark-first.

Layout:
  htmldom     — stdlib DOM-lite (the container has no bs4/lxml)
  parse       — pure-Python per-page extraction (runs inside pandas UDFs)
  cache       — HTML cache source/sink + fetch fallback chain (S1-S6, S10)
  pipeline    — DataFrame pipeline: parse UDFs, scalar transforms,
                appearance windows, star-schema build (P*, F*, W*, J*)
  sqlite_sink — SQLite DDL + batched driver-side writes (S7-S9)
"""

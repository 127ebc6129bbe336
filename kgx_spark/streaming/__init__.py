"""Streaming KG update.

The reference's "streaming" is bounded generator iteration
(kgx/transformer.py:116) — batch DataFrames already satisfy those semantics
(SURVEY.md §2.8). This package holds the one continuous path:
``kg_stream.stream_kg_update`` merges landing drops of crawled pages into a
live edge snapshot.
"""

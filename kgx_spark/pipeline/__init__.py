"""The KG-construction pipeline (north rule):

pages(url, warc_ts, html, text, lang)
  → extract_text          (boilerplate-stripped, byte-identical per url)
  → extract_triples       (OpenIE-style pattern matching)
  → detect + link mentions (broadcast alias dictionary, TF-IDF prior)
  → canonicalize          (hash-min CC over same_as evidence, clique merge)
  → merge + materialize   (KGX-shaped nodes/edges, merge hash layout)

with per-stage checkpoints + metrics (stages.py) for kill-resume.
"""

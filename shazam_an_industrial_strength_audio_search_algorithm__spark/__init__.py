"""PySpark-native inverted-index + BM25 top-k engine.

A brand-new engine (NOT a port) with the query and data-processing
capabilities of the reference repo
``leonardltk/Shazam-An-Industrial-Strength-Audio-Search-Algorithm-``
(read-only at /root/reference): the reference's landmark-hash lookup
table, posting-list candidate generation, score-and-threshold
"doc or Nil" decision, split/parallel matching with checkpoint/resume,
combine, and ranked stats (see /root/repo/SURVEY.md) are re-expressed
as an idiomatic Spark DataFrame / pandas-UDF fulltext engine over a
table of source-code files ``(repo, path, commit, lang, content)``.

Layout
------
- ``sources``    — corpus/query synthesis, catalog scan, snapshot store
- ``functions``  — tokenizer, BM25 math
- ``operators``  — index build, query top-k, WAND, maintenance, dedup,
                   similarity search, text analysis, multimodal plumbing
- ``plans``      — plan-introspection helpers (pushdown / broadcast audits)
- ``streaming``  — Structured Streaming ingestion into the index
"""

from shazam_an_industrial_strength_audio_search_algorithm__spark.session import get_spark

__all__ = ["get_spark"]

"""pignlproc_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the query/data-processing capabilities of
``tgalery/pignlproc`` (reference surveyed in SURVEY.md; the reference
mount was empty, so all citations are reconstructed public knowledge).

Layout (SURVEY.md §7.1):

- ``session``    — SparkSession factory (Arrow, AQE, shuffle sizing)
- ``synth``      — deterministic synthetic web-page corpus + goldens
- ``sources``    — page/NTriples/wikidump readers (J1–J4)
- ``functions``  — scalar/batch functions: extract (J5), sentences
  (J6/J7), uri encode (J11), tokenize (J14), ngrams (J12), text QC
- ``operators``  — relational building blocks: mentions, linking
  (candidate top-k, J13/P15), canonicalize (P12), stats
  (pair/uri/sf/token counts), triples, and the curation core
  (textstats quality filter and packing, dedup)
- ``plans``      — end-to-end pipeline orchestration + checkpoint/lineage
- ``streaming``  — structured-streaming ingest variant
"""

__version__ = "0.1.0"

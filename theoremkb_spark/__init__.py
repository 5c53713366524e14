"""theoremkb_spark — a PySpark-native knowledge-graph construction engine.

From-scratch reimplementation of the capabilities of
PierreSenellart/theoremkb (reference snapshot at /root/reference, studied
for behaviour only) as an idiomatic Spark pipeline:

    pages(url, warc_ts, html, text, lang)
      -> [1] EXTRACT   mapInPandas: html -> tokens + doc text (byte-identical)
      -> [2] LABEL     naive-rule span labeling (ref: Styling/src/lib/
                        extractors/results/naive_extractor.py:20-55) or
                        sequence-model inference, per document in one
                        fused Arrow pass (extract.extract_spans)
      -> [3] MENTIONS  span text assembly + regex mention mining, same pass
                        (ref: Styling/tools/theoremdb/extract_graph.py:26-130)
      -> [4] LINK      (url, tag) dictionary join, MinHash-LSH blocking
      -> [5] CANON     connected components canonicalization
      -> [6] TRIPLES   (subj, pred, obj) graph tables + lineage

All stages are DataFrame-first; Python appears only inside Arrow-batched
pandas UDFs (no per-row Python anywhere).
"""

__version__ = "0.1.0"

"""Driver-side canonicalization (``canonicalize_rows``) must return
exactly what the distributed ``canonicalize_dict`` returns, NULLs
included: ``build_kg`` takes the driver path for every broadcast-sized
dictionary."""

from collections import Counter

import pytest

from theoremkb_spark.corpus.generator import entity_dict_rows
from theoremkb_spark.pipeline.canon import canonicalize_dict, canonicalize_rows

SCHEMA = "url string, tag string, pdf_to string, title string, norm_title string"
COLS = ("url", "tag", "pdf_to", "title", "norm_title")

EDGE_CASES = {
    # rows whose norm_title is NULL never equi-join a seed: no merging
    "null_titles": [
        ("u1", "a", "x", "T", "t"),
        ("u2", "b", "y", None, None),
        ("u3", "c", "z", None, None),
    ],
    # a NULL pdf_to is no seed and maps to NULL
    "null_pdf_to": [
        ("u1", "a", "x", "T", "t"),
        ("u2", "b", None, "T", "t"),
        ("u3", "c", None, None, None),
        ("u4", "d", "w", "T", "t"),
    ],
    "duplicate_rows": [
        ("u1", "a", "x", "T", "t"),
        ("u1", "a", "x", "T", "t"),
        ("u2", "b", "w", "T", "t"),
        ("u2", "b", "w", "T", "t"),
    ],
    "three_member_cluster": [
        ("u1", "a", "p3", "S", "s"),
        ("u2", "b", "p1", "S", "s"),
        ("u3", "c", "p2", "S", "s"),
        ("u4", "d", "q", "R", "r"),
    ],
    "entity_dict_rows_24": [tuple(r[c] for c in COLS) for r in entity_dict_rows(24)],
}


@pytest.mark.parametrize("case", sorted(EDGE_CASES))
def test_canonicalize_rows_matches_canonicalize_dict(spark, case):
    rows = EDGE_CASES[case]
    dico = canonicalize_dict(spark.createDataFrame(rows, SCHEMA))
    spark_out = Counter(tuple(r) for r in dico.collect())
    driver_out = canonicalize_rows([dict(zip(COLS, r)) for r in rows])
    assert Counter(driver_out) == spark_out


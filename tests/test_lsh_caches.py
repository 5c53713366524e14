"""Cache lifecycle of the LSH operators: each caller owns its registry.

The operators append what they cache to a caller-owned
``cache_registry`` and never release anything themselves; the query
layer (queries_docs) keeps one registry and releases it when the next
LSH query starts. Cached blocks are counted with the SparkContext's
persistent-RDD table, relative to what earlier tests left behind.
"""

LSH_QUERIES = ("dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash", "link_fuzzy_lsh")


def _persistent(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def test_lsh_queries_hold_only_the_last_querys_caches(spark, tmp_path):
    from theoremkb_spark.queries_docs import QUERIES_DOCS

    words = "lattice kernel meadow vortex plume quartz theorem proof lemma".split()
    spark.createDataFrame(
        [(i, " ".join(words[(i + k) % len(words)] for k in range(12))) for i in range(40)],
        "doc_id long, text string",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)
    before = _persistent(spark)

    def run(name):
        prev = _persistent(spark)
        _force(QUERIES_DOCS[name][0](spark, sf))
        now = _persistent(spark)
        return now - before, now - prev

    run("link_fuzzy_lsh")
    # the second call releases the first call's caches BEFORE caching its
    # key table again, so both the key table and the stats table stay
    # cached (releasing after would uncache the new, identical key table)
    held, _ = run("link_fuzzy_lsh")
    assert len(held) == 2, held

    for name in LSH_QUERIES:
        held, created = run(name)
    assert held == created and len(held) == 2, (held, created)


def test_separate_registries_do_not_release_each_other(spark):
    from theoremkb_spark.operators.dedup import ngram_jaccard_pairs
    from theoremkb_spark.pipeline.runner import release_caches

    def docs(words):
        return spark.createDataFrame(
            [(i, f"{words} doc{i} tail{i % 2}") for i in range(8)],
            "doc_id long, text string",
        )

    reg_a, reg_b = [], []
    first = ngram_jaccard_pairs(
        docs("alpha beta gamma delta"), "doc_id", "text", cache_registry=reg_a
    )
    ngram_jaccard_pairs(docs("one two three four"), "doc_id", "text", cache_registry=reg_b)
    before = _persistent(spark)
    _force(first)
    assert len(reg_a) == 2 and len(reg_b) == 2
    assert len(_persistent(spark) - before) == 2  # the first frame ran on its caches
    assert all(c.storageLevel.useMemory for c in reg_a), [c.storageLevel for c in reg_a]
    release_caches(reg_a)
    release_caches(reg_b)

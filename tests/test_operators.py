"""Unit tests for the generic distributed operators."""

from pyspark.sql import functions as F

from theoremkb_spark.operators.graph import connected_components
from theoremkb_spark.operators.joins import salted_join


def test_connected_components_two_clusters(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    comp = {r.id: r.component for r in connected_components(edges).collect()}
    assert comp == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_connected_components_chain_transitive(spark):
    # chain of 6 — needs multiple propagation rounds
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(5)], "src string, dst string"
    )
    comp = {r.id: r.component for r in connected_components(edges).collect()}
    assert set(comp.values()) == {"n0"}


def test_connected_components_distributed_path_matches_driver_path(spark):
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(5)]
        + [("a", "b"), ("c", "b"), ("z", "z9")],
        "src string, dst string",
    )
    fast = {
        (r.id, r.component) for r in connected_components(edges).collect()
    }
    dist = {
        (r.id, r.component)
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert fast == dist


def test_salted_join_matches_plain_join(spark):
    fact = spark.range(0, 1000).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v")
    )
    dim = spark.createDataFrame(
        [(i, f"name{i}") for i in range(7)], "k long, name string"
    )
    plain = fact.join(dim, "k", "left").select("k", "v", "name")
    salted = salted_join(fact, dim, on=["k"], how="left", salt=4).select(
        "k", "v", "name"
    )
    assert plain.exceptAll(salted).isEmpty() and salted.exceptAll(plain).isEmpty()


def test_salted_join_no_row_explosion(spark):
    fact = spark.range(0, 500).select((F.col("id") % 3).alias("k"), "id")
    dim = spark.createDataFrame([(0, "x"), (1, "y")], "k long, s string")
    assert salted_join(fact, dim, on=["k"], how="left", salt=8).count() == 500


def test_span_pr_report(spark):
    from theoremkb_spark.operators.evaluate import span_pr_report

    gold = spark.createDataFrame(
        [("u1", 1, "theorem", "theorem 1.1"), ("u1", 2, "proof", "theorem 1.1"),
         ("u2", 1, "lemma", "lemma 2.1")],
        "url string, group int, label string, own_name string",
    )
    # pred: misses the proof, adds a spurious lemma
    pred = spark.createDataFrame(
        [("u1", 1, "theorem", "theorem 1.1"), ("u2", 1, "lemma", "lemma 2.1"),
         ("u2", 9, "lemma", "lemma 9.9")],
        "url string, group int, label string, own_name string",
    )
    rows = {r.label: r for r in span_pr_report(pred, gold).collect()}
    assert rows["theorem"].precision == 1.0 and rows["theorem"].recall == 1.0
    assert rows["proof"].tp == 0 and rows["proof"].fn == 1
    assert rows["lemma"].tp == 1 and rows["lemma"].fp == 1
    m = rows["__micro__"]
    assert (m.tp, m.fp, m.fn) == (2, 1, 1)
    assert m.precision == round(2 / 3, 6) and m.recall == round(2 / 3, 6)


def test_span_pr_report_perfect_on_pipeline_paths(spark):
    """fused vs window span tables grade each other at P/R = 1.0."""
    from pyspark.sql import functions as F
    from window_path import (
        apply_parent_constraint,
        assemble_spans,
        label_tokens,
        resolve_span_names,
    )

    from theoremkb_spark.operators.evaluate import span_pr_report
    from theoremkb_spark.pipeline.extract import extract_spans, extract_tokens, load_pages

    pages = load_pages(spark, 20)
    fused = extract_spans(pages).filter(F.col("kind") == "span").select(
        "url", "group", "label", "own_name"
    )
    # same wiring as build_kg's token path: the fused pass applies the
    # parent constraint in-stream, so the window side gets the semi-join
    tokens = extract_tokens(pages)
    window = resolve_span_names(
        assemble_spans(apply_parent_constraint(label_tokens(tokens), tokens))
    ).select("url", "group", "label", "own_name")
    rep = {r.label: r for r in span_pr_report(fused, window).collect()}
    assert rep["__micro__"].f1 == 1.0


def test_pagerank_star_and_dangling(spark):
    """Star graph a,b,c -> hub (hub dangling): hub outranks the leaves,
    ranks sum to 1, and the Spark loop matches the sequential twin."""
    from theoremkb_spark.corpus.materialize import pagerank_expected
    from theoremkb_spark.operators.graph import pagerank

    edges = [("a", "hub"), ("b", "hub"), ("c", "hub"), ("a", "b")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.rank for r in pagerank(df).collect()}
    exp = dict(pagerank_expected(edges))
    assert set(got) == set(exp)
    for v in exp:
        assert abs(got[v] - exp[v]) < 1e-12, v
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert got["hub"] == max(got.values())


def test_asof_join_semantics(spark):
    """Planted edges: exact-tie matches inclusively, earlier rows pick
    the latest prior right row, no-prior-row keeps nulls, keys don't
    leak across partitions."""
    from theoremkb_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [("a", 10, "l1"), ("a", 20, "l2"), ("a", 5, "l0"), ("b", 50, "l3")],
        "k string, ts long, lbl string",
    )
    right = spark.createDataFrame(
        [("a", 10, "r10"), ("a", 15, "r15"), ("b", 60, "r60")],
        "k string, ts long, val string",
    )
    got = {
        r.lbl: r.val_r
        for r in asof_join(left, right, on="k", ts="ts", right_cols=["val"]).collect()
    }
    assert got == {
        "l0": None,   # no right row at/before ts=5
        "l1": "r10",  # exact tie matches inclusively
        "l2": "r15",  # latest prior, not first
        "l3": None,   # b's only right row is later
    }


def test_asof_join_matches_pandas_merge_asof(spark):
    """Randomized cross-check against pandas' independent merge_asof
    (backward direction, by-key) — 400 left rows, 300 right rows,
    20 keys, seeded."""
    import random

    import pandas as pd

    from theoremkb_spark.operators.joins import asof_join

    rng = random.Random(3)
    left = [(f"k{rng.randrange(20)}", rng.randrange(0, 10_000), i) for i in range(400)]
    right = [
        (f"k{rng.randrange(20)}", rng.randrange(0, 10_000), 1000 + i)
        for i in range(300)
    ]
    ldf = spark.createDataFrame(left, "k string, ts long, lid long")
    rdf = spark.createDataFrame(right, "k string, ts long, rid long")
    got = {
        r.lid: r.rid_r
        for r in asof_join(ldf, rdf, on="k", ts="ts", right_cols=["rid"]).collect()
    }

    lp = pd.DataFrame(left, columns=["k", "ts", "lid"]).sort_values("ts", kind="stable")
    # drop duplicate (k, ts) on the right keeping the LAST rid — merge_asof
    # with allow_exact_matches picks one row per ts; our operator's
    # last() over (ts, side) keeps the right-side row that sorts last
    rp = (
        pd.DataFrame(right, columns=["k", "ts", "rid"])
        .sort_values(["ts", "rid"], kind="stable")
        .drop_duplicates(["k", "ts"], keep="last")
        .sort_values("ts", kind="stable")
    )
    exp_df = pd.merge_asof(lp, rp, on="ts", by="k", direction="backward")
    exp = {
        int(r.lid): (None if pd.isna(r.rid) else int(r.rid))
        for r in exp_df.itertuples()
    }
    assert got == exp


def test_pagerank_random_graphs_match_twin(spark):
    """Random topologies (cycles, sinks, disconnected nodes, dense hubs)
    at three seeds: the distributed loop matches the sequential twin to
    1e-12 and mass is conserved."""
    import random

    from theoremkb_spark.corpus.materialize import pagerank_expected
    from theoremkb_spark.operators.graph import pagerank

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        n = 30
        edges = sorted(
            {
                (f"v{rng.randrange(n)}", f"v{rng.randrange(n)}")
                for _ in range(60)
            }
        )
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r.node: r.rank for r in pagerank(df).collect()}
        exp = dict(pagerank_expected(edges))
        assert set(got) == set(exp), seed
        for v in exp:
            assert abs(got[v] - exp[v]) < 1e-12, (seed, v)
        assert abs(sum(got.values()) - 1.0) < 1e-9, seed


def test_connected_components_distributed_randomized(spark):
    """Distributed min-label-propagation (driver_threshold=0) vs an
    in-test union-find oracle on a RANDOMIZED graph: random edges over
    60 nodes (cycles, hubs, self-loops, duplicate edges) plus isolated
    pairs — seeded, so failures reproduce."""
    import random

    rng = random.Random(1234)
    nodes = [f"v{i:02d}" for i in range(60)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(80)]
    edges += [("p0", "p1"), ("q5", "q5")]  # isolated pair + pure self-loop

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    touched = set()
    for s, d in edges:
        if s != d:
            union(s, d)
            touched.update((s, d))
    # min-id canonical component per touched node (self-loop-only nodes
    # are filtered by the operator, matching its id != nbr contract)
    roots = {}
    for n in sorted(touched):
        roots.setdefault(find(n), n)
    expected = {(n, roots[find(n)]) for n in touched}

    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        (r.id, r.component)
        for r in connected_components(df, driver_threshold=0, max_iter=40).collect()
    }
    assert got == expected

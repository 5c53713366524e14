"""Plan-shape regression gates: the scale discipline as assertions.

SCALE.md's design claims are checkable on the physical plan — one wide
exchange feeding the whole extract chain, broadcast dictionary joins,
column-pruned + filter-pushed page scans, and no quadratic join
operators anywhere. These tests freeze those properties so a future
edit that silently drops a broadcast hint or widens the scan fails CI,
not a 100 TB run.
"""

import re

import pytest

from theoremkb_spark.plancheck import plan_facts, plan_string


def _exchange_ids(plan: str) -> set[str]:
    """Distinct physical hash exchanges (the tree printer repeats a
    reused exchange once per consuming branch — dedup by plan_id)."""
    return set(
        re.findall(r"Exchange hashpartitioning\([^\n]*\[plan_id=(\d+)\]", plan)
    )


def _subtree(plan: str, node: str) -> str:
    """The printed subtree rooted at the first ``node`` line: that line
    and the lines below it whose operator sits deeper in the tree."""
    lines = plan.splitlines()
    start = next(i for i, line in enumerate(lines) if node in line)
    depth = lines[start].index(node)
    out = [lines[start]]
    for line in lines[start + 1 :]:
        if len(line) - len(line.lstrip(" :+-")) <= depth:
            break
        out.append(line)
    return "\n".join(out)


def _assert_one_triple_explode(plan: str) -> None:
    """The kg assembly's conditional explode: exactly one Generate over
    the per-row triple structs, carrying all four predicates."""
    gen = re.findall(
        r"Generate explode\(array\(CASE WHEN \(kind#\d+ = span\) THEN struct\(subj,[^\n]*",
        plan,
    )
    assert len(gen) == 1, plan
    for pred in ("statement_of", "cites", "proved_in", "defined_in"):
        assert pred in gen[0], gen[0]


def test_kg_plan_shape(spark, tmp_path, monkeypatch):
    from pyspark.sql import functions as F
    from window_path import window_fused

    from theoremkb_spark.operators import joins
    from theoremkb_spark.pipeline.canon import canonicalize_dict
    from theoremkb_spark.pipeline.extract import load_pages
    from theoremkb_spark.pipeline.runner import (
        build_kg,
        build_triples,
        load_entity_dict,
    )

    pages_path = str(tmp_path / "pages.parquet")
    load_pages(spark, 24).write.parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    ents = load_entity_dict(spark, 24)
    plan = plan_string(build_kg(spark, pages, ents))

    # page scan: pruned to exactly (url, html, lang), english filter pushed
    scans = re.findall(r"FileScan parquet \[([^\]]*)\][^\n]*", plan)
    page_scans = [s for s in scans if "html" in s]
    assert page_scans, plan
    for s in page_scans:
        cols = {c.split("#")[0] for c in s.split(",")}
        assert cols == {"url", "html", "lang"}, cols
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan

    # exactly ONE hash exchange: the url-hash repartition. The triple
    # rollup reuses its partitioning, and the broadcast regime
    # canonicalizes the dictionary on the driver, so no dedup or CC
    # exchange sits on the dictionary side
    repart = {
        pid
        for pid in re.findall(
            r"Exchange hashpartitioning\([^\n]*REPARTITION_BY_NUM[^\n]*\[plan_id=(\d+)\]",
            plan,
        )
    }
    assert len(repart) == 1, plan
    assert _exchange_ids(plan) == repart, _exchange_ids(plan)

    # map-only extraction: the Arrow UDF consumes the scan directly and
    # the repartition consumes the UDF's (40x smaller) output — in the
    # printed tree the Exchange sits ABOVE the first MapInPandas. The
    # inverted order would mean the html corpus shuffles before
    # extraction (the round-1 plan, measured 1.6-2.7x slower).
    assert plan.index("REPARTITION_BY_NUM") < plan.index("MapInPandas"), (
        "pages are being shuffled before extraction"
    )

    # ONE dictionary join, broadcast, whose build side is the
    # canonicalized (url, tag, pdf_to_canon) dictionary; nothing
    # quadratic anywhere
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert plan.count("BroadcastExchange") == 1, plan
    assert "pdf_to_canon" in _subtree(plan, "BroadcastExchange"), plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    # round 6: the broadcast-regime fused path assembles triples in ONE
    # pass (conditional-explode + a single dico join) and the rollup
    # groupBy(subj, pred, obj, url) reuses the url repartition's
    # HashPartitioning — a regression that re-shuffles the triples by
    # their full key (the old union form's exchange) shows up as a
    # hashpartitioning on subj
    assert "hashpartitioning(subj" not in plan, "triple rollup re-shuffles"
    # ...and the single pass IS build_triples' conditional explode: one
    # Generate over the array of per-row triple structs, carrying all
    # four predicates (a per-predicate union form has no such node)
    _assert_one_triple_explode(plan)

    # every front end and dictionary regime shares that one assembly.
    # The shuffled regime takes a file-backed dictionary over the
    # threshold (a driver-local frame's unknowable estimate counts as
    # small); its dictionary attach is one plain sort-merge join on
    # (url, tag), and the dictionary's dedup exchange is keyed on that
    # join key, so the plan has 4 exchanges: the url repartition, the
    # fact side's (url, tag) exchange, the dictionary dedup and the
    # triple rollup
    ents_path = str(tmp_path / "ents.parquet")
    ents.write.parquet(ents_path)
    with monkeypatch.context() as m:
        m.setattr(joins, "BROADCAST_MAX_BYTES", -1)
        shuffled = plan_string(build_kg(spark, pages, spark.read.parquet(ents_path)))
    _assert_one_triple_explode(shuffled)
    assert "_salt" not in shuffled, shuffled
    smj = re.findall(r"SortMergeJoin \[([^\]]*)\], \[([^\]]*)\]", shuffled)
    assert len(smj) == 1, shuffled
    for keys in smj[0]:
        assert [k.split("#")[0] for k in keys.split(", ")] == ["url", "tag"], smj
    assert plan_facts(shuffled)["exchanges"] == 4, shuffled
    window = plan_string(
        build_triples(window_fused(pages), F.broadcast(canonicalize_dict(ents)))
    )
    _assert_one_triple_explode(window)


def test_kg_model_plan_is_the_rule_plan(spark, tmp_path):
    """A trained model labels inside the same map-only Arrow pass as the
    rule labeler: no grouped-map inference stage, no cached token table,
    and the rule plan's exchanges, joins, Arrow stages and scans."""
    from theoremkb_spark.ml.crf import ensure_crf_artifact
    from theoremkb_spark.pipeline.extract import load_pages
    from theoremkb_spark.pipeline.runner import build_kg, load_entity_dict

    pages_path = str(tmp_path / "pages.parquet")
    load_pages(spark, 24).write.parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    ents = load_entity_dict(spark, 24)
    artifact = ensure_crf_artifact(str(tmp_path), trainer="perceptron")
    rule = plan_string(build_kg(spark, pages, ents))
    model = plan_string(build_kg(spark, pages, ents, model_file=artifact))
    assert "FlatMapGroupsInPandas" not in model, model
    assert "InMemoryRelation" not in model, model
    facts = plan_facts(model)
    assert facts == plan_facts(rule), facts


def test_fuzzy_link_plan_broadcasts_dictionary(spark, caches):
    from theoremkb_spark.pipeline.link import fuzzy_link_lsh

    mentions = spark.createDataFrame(
        [(i, f"mention text number {i}") for i in range(50)], "id long, key string"
    )
    dictionary = spark.createDataFrame(
        [(i, f"dictionary text number {i}") for i in range(50)], "id long, key string"
    )
    plan = plan_string(fuzzy_link_lsh(mentions, dictionary, cache_registry=caches))
    # the bucket join broadcasts the banded dictionary rows (round 6:
    # NARROW id/band/sig rows — the sz/sset arrays attach to the deduped
    # candidate pairs afterwards, guide-§8 style). The two attach joins
    # plan as SortMergeJoin statically because the candidate-pair
    # cardinality is unknowable pre-execution; AQE rewrites both to
    # broadcast at runtime (asserted on the executed plan below in
    # test_fuzzy_link_runtime_joins_are_broadcast), so only candidate
    # generation is pinned here.
    assert plan.count("BroadcastHashJoin") >= 1
    assert plan.count("SortMergeJoin") <= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_link_runtime_joins_are_broadcast(spark, caches):
    """The executed (AQE-final) plan must contain no SortMergeJoin: the
    attach joins' candidate side is runtime-small and AQE converts both
    to broadcast once actual sizes are known."""
    from theoremkb_spark.pipeline.link import fuzzy_link_lsh

    mentions = spark.createDataFrame(
        [(i, f"mention text number {i}") for i in range(50)], "id long, key string"
    )
    dictionary = spark.createDataFrame(
        [(i, f"dictionary text number {i}") for i in range(50)], "id long, key string"
    )
    df = fuzzy_link_lsh(mentions, dictionary, cache_registry=caches)
    df.write.mode("overwrite").format("noop").save()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in executed, executed


def test_scan_pruning_on_docs_queries(spark):
    """The text-stats query projects 3 derived columns from `text` —
    the scan must not read the other document columns."""
    from theoremkb_spark.queries_docs import q_text_stats

    plan = plan_string(q_text_stats(spark, "/root/testdata/sf0.001"))
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    assert scans, plan
    for s in scans:
        cols = {c.split("#")[0] for c in s.split(",")}
        assert "html" not in cols and "embedding" not in cols, cols


# ---- frozen plan invariants for EVERY headline query (VERDICT r2 #8) ----
#
# Upper bounds, not exact counts: a Spark upgrade may legally merge
# exchanges, but a regression that ADDS a shuffle, drops a broadcast, or
# sneaks in a quadratic join must fail here, not in a 100 TB run.
# ann_cosine_topk is the one deliberate exception: its nested-loop join
# IS the documented brute-force baseline (scale paths: ann_bucketed /
# ann_ivf, both equi-join only). Every shuffle exchange counts, whatever
# its partitioning: at sf0.001 the ``joins.spread`` of a one-row-group
# scan plans as a width-1 SinglePartition exchange, and it is counted.

# query -> (max_exchanges, max_smj, max_cartesian)
_HEADLINE_BOUNDS = {
    # the width-1 spread puts the sf0.001 lineitem rows in one
    # partition, which satisfies both groupBys and the orderBy: the
    # spread is the only exchange
    "agg_pricing_summary": (1, 0, 0),
    "join_broadcast_revenue": (2, 0, 0),
    "join_range_containment": (2, 0, 0),
    "win_gaps_islands": (2, 0, 0),
    "win_deltas": (2, 0, 0),
    "sort_argmax": (2, 0, 0),
    "text_stats": (1, 0, 0),
    # round 5: hot add-back fused into the per-id rollup (no LeftOuter
    # SMJ), shingles hashed to longs, both wide exchanges width-pinned
    "dedup_ngram_jaccard": (5, 0, 0),
    "dedup_minhash_lsh": (8, 0, 0),
    # round 6: +1 exchange — the spread of the single-row-group
    # documents scan, so the Arrow SimHash stage is not capped at one
    # python worker per parquet row group
    "dedup_simhash": (3, 0, 0),
    # the round-robin spread of the embeddings scan, the per-query
    # top-k window and the output order
    "ann_cosine_topk": (3, 0, 1),
    # round 6: the band join moved to narrow rows + a candidate-pair
    # dedup, and the sz/sset arrays attach afterwards — two more (tiny)
    # exchanges in the static plan, and the attach joins show as SMJ
    # until AQE's runtime broadcast rewrite (gated by
    # test_fuzzy_link_runtime_joins_are_broadcast)
    "link_fuzzy_lsh": (5, 2, 0),
}


@pytest.mark.parametrize("name", sorted(_HEADLINE_BOUNDS))
def test_headline_plan_invariants(spark, name):
    from theoremkb_spark.queries import QUERIES_CORE
    from theoremkb_spark.queries_docs import QUERIES_DOCS

    registry = {**QUERIES_CORE, **QUERIES_DOCS}
    df = registry[name][0](spark, "/root/testdata/sf0.001")
    f = plan_facts(plan_string(df))
    max_ex, max_smj, max_cart = _HEADLINE_BOUNDS[name]
    assert f["exchanges"] <= max_ex, (name, f)
    assert f["sort_merge_joins"] <= max_smj, (name, f)
    assert f["cartesian"] <= max_cart, (name, f)
    # document scans must never drag the heavy unused columns
    for cols, _pf in f["scans"]:
        assert "html" not in cols, (name, cols)


# ---- joins.spread: the one fan-out rule for one-row-group scans ----
#
# Width = the scan's Catalyst estimate / 75 KB, floored at 1 and capped
# at the 8 cores of the test session.


def _spread_exchange(df) -> str:
    """The partitioning of the plan's one REPARTITION_BY_NUM exchange,
    with expression ids stripped."""
    found = re.findall(r"Exchange (.*), REPARTITION_BY_NUM", plan_string(df))
    assert len(found) == 1, found
    return re.sub(r"#\d+L?", "", found[0])


@pytest.mark.parametrize(
    "source, width",
    [
        ("sf0.001", 1),  # 65,515 B
        ("sf0.1", 7),  # 594,568 B
        ("local", 8),  # driver-local frame: Long.MaxValue
    ],
)
def test_spread_width_follows_input_size(spark, source, width):
    from theoremkb_spark.operators.joins import spread

    if source == "local":
        docs = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    else:
        docs = spark.read.parquet(f"/root/testdata/{source}/documents.parquet")
    keyed = f"hashpartitioning(doc_id, {width})"
    round_robin = f"RoundRobinPartitioning({width})"
    if width == 1:  # Spark plans any one-partition exchange as SinglePartition
        keyed = round_robin = "SinglePartition"
    assert _spread_exchange(spread(docs, "doc_id")) == keyed
    assert _spread_exchange(spread(docs)) == round_robin


def test_segment_tokens_plan_shape(spark):
    """Distributed U-Net inference is page-local by construction: the
    ONLY exchange is the (url, page) group hash, the input projection
    is pruned to the 11 raster columns, and no join operator of any
    kind appears (weights ride a broadcast VARIABLE, not a join)."""
    import os

    from theoremkb_spark.operators.segmentation import (
        default_weights_path, segment_tokens,
    )
    from theoremkb_spark.pipeline.extract import extract_tokens, load_pages

    if not os.path.exists(default_weights_path()):
        pytest.skip("full-training U-Net artifact not shipped")
    plan = plan_string(segment_tokens(extract_tokens(load_pages(spark, 2))))
    assert len(_exchange_ids(plan)) == 1, plan
    assert "FlatMapGroupsInPandas" in plan
    for op in ("Join", "Cartesian", "SortMergeJoin", "BroadcastHashJoin"):
        assert op not in plan, op


def test_link_resolve_auto_strategy_regimes(spark, tmp_path, monkeypatch):
    """VERDICT r4 #2: the LINK dictionary join must pick its physical
    strategy from the dictionary's size estimate, not a hardcoded hint.
    Small regime -> broadcast hash join on (url, tag); forced-large
    regime (file-backed dict, 1-byte threshold) -> a sort-merge join on
    (url, tag). Driver-created local frames have no Catalyst stats
    (Long.MaxValue sentinel) and are treated as broadcast-sized BY
    CONSTRUCTION — they already sit in driver memory; the at-scale
    inputs are always file-backed and carry real file-size estimates."""
    from theoremkb_spark.operators import joins
    from theoremkb_spark.operators.joins import fits_broadcast
    from theoremkb_spark.pipeline.extract import load_pages
    from theoremkb_spark.pipeline.runner import build_kg, load_entity_dict

    pages = load_pages(spark, 8)
    ents_local = load_entity_dict(spark, 8)
    path = str(tmp_path / "ents.parquet")
    ents_local.write.parquet(path)
    ents = spark.read.parquet(path)
    link_join = r"(?:BroadcastHashJoin|SortMergeJoin) \[url#\d+, tag#\d+\]"

    def kg(d):
        df = build_kg(spark, pages, d)
        plan = plan_string(df)
        return plan, re.findall(link_join, plan), sorted(map(tuple, df.collect()))

    rows = set()
    for d in (ents, ents_local):  # file-backed small AND stats-unknown local
        assert fits_broadcast(d)
        plan, link, got = kg(d)
        assert link and all(j.startswith("BroadcastHashJoin") for j in link), plan
        assert "SortMergeJoin" not in plan, plan
        rows.add(tuple(got))

    monkeypatch.setattr(joins, "BROADCAST_MAX_BYTES", 1)
    assert not fits_broadcast(ents)
    assert fits_broadcast(ents_local)  # an unknowable estimate stays small
    plan, link, got = kg(ents)
    assert len(link) == 1 and link[0].startswith("SortMergeJoin"), plan
    rows.add(tuple(got))

    # every regime resolves the same rows (the strategy is physical only)
    assert len(rows) == 1 and rows.pop()


def test_fuzzy_link_auto_broadcast_regimes(spark, tmp_path, caches, monkeypatch):
    """fuzzy_link_lsh auto-selects its bucket-join strategy from the
    dictionary size estimate. Small regime: the banded dictionary is
    broadcast (no exchange keyed on band/sig). Forced-large regime
    (file-backed dict under a 1-byte threshold): the bucket join rides
    a (band, sig) hash exchange instead — the shape that scales past
    broadcast memory. Same rows either way."""
    from theoremkb_spark.operators import joins
    from theoremkb_spark.pipeline.link import fuzzy_link_lsh
    from theoremkb_spark.pipeline.runner import release_caches

    m = spark.createDataFrame(
        [(1, "lattice kernel meadow"), (2, "vortex plume quartz")],
        "id long, key string",
    )
    dpath = str(tmp_path / "fuzzy_dico.parquet")
    spark.createDataFrame(
        [(10, "lattice kernel meadows"), (11, "unrelated text entirely")],
        "id long, key string",
    ).write.parquet(dpath)
    d = spark.read.parquet(dpath)

    small = plan_string(fuzzy_link_lsh(m, d, cache_registry=caches))
    assert not re.search(r"Exchange hashpartitioning\(band", small), small

    rows_small = sorted(
        map(tuple, fuzzy_link_lsh(m, d, cache_registry=caches).collect())
    )

    # a materialized stats cache carries its real (tiny) size, which the
    # planner would broadcast from: plan the forced-large regime uncached
    release_caches(caches)
    monkeypatch.setattr(joins, "BROADCAST_MAX_BYTES", 1)
    large_df = fuzzy_link_lsh(m, d, cache_registry=caches)
    large = plan_string(large_df)
    assert re.search(r"Exchange hashpartitioning\(band", large), large
    assert sorted(map(tuple, large_df.collect())) == rows_small
    assert rows_small and rows_small[0][0] == 1 and rows_small[0][1] == 10


def test_sim_tfidf_broadcast_regimes(spark, monkeypatch):
    """q_sim_tfidf_topk's vocabulary-derived frames (per-term df, probe
    weights) must not be FORCE-broadcast past the size threshold
    (round-5 verdict #5): above it only the planner/AQE may broadcast,
    from real sizes."""
    import theoremkb_spark.queries_docs as qd
    from theoremkb_spark.operators import joins

    sf = "/root/testdata/sf0.01"
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_small = plan_string(qd.q_sim_tfidf_topk(spark, sf))
        monkeypatch.setattr(joins, "BROADCAST_MAX_BYTES", -1)
        plan_large = plan_string(qd.q_sim_tfidf_topk(spark, sf))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # small regime: the df_/probes hints fire as broadcast HASH joins on
    # term; large regime: none remain (the always-tiny n_docs count
    # frame keeps its BroadcastNestedLoopJoin crossJoin in both)
    assert plan_small.count("BroadcastHashJoin") >= 2, plan_small
    assert "BroadcastHashJoin" not in plan_large, plan_large
    assert "BroadcastNestedLoopJoin" in plan_large

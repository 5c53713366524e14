"""Resume-from-checkpoint: kill-and-rerun must neither lose nor duplicate
triples (SURVEY §5.2.6; north rule resumability)."""

import os

from theoremkb_spark.corpus.generator import build_corpus, entity_dict_rows
from theoremkb_spark.corpus.oracle import oracle_triples
from theoremkb_spark.io.catalog import (
    CheckpointedTripleStore,
    recommit_urls,
    run_incremental,
)
from theoremkb_spark.pipeline.extract import load_pages
from theoremkb_spark.pipeline.runner import TRIPLE_COLS, TRIPLE_SCHEMA, load_entity_dict

N = 24


def _expected():
    return oracle_triples(list(build_corpus(N)), entity_dict_rows(N))


def test_incremental_batches_equal_full_run(spark, tmp_path):
    pages = load_pages(spark, N)
    ents = load_entity_dict(spark, N)
    store = CheckpointedTripleStore(str(tmp_path / "kg"))

    b1 = run_incremental(spark, pages, ents, store, limit=10)
    b2 = run_incremental(spark, pages, ents, store, limit=None)
    b3 = run_incremental(spark, pages, ents, store)  # nothing left
    assert b1 == 0 and b2 == 1 and b3 == -1

    got = {
        (r.subj, r.pred, r.obj, r.url)
        for r in store.read_triples(spark).collect()
    }
    assert got == _expected()
    # no duplicates in the store
    df = store.read_triples(spark)
    assert df.count() == df.dropDuplicates(["subj", "pred", "obj", "url"]).count()


def test_killed_batch_leaves_no_visible_state(spark, tmp_path):
    pages = load_pages(spark, N)
    ents = load_entity_dict(spark, N)
    store = CheckpointedTripleStore(str(tmp_path / "kg2"))

    run_incremental(spark, pages, ents, store, limit=8)

    # simulate a kill AFTER data write but BEFORE the manifest commit:
    # write a debris directory that was never manifested
    debris = os.path.join(store.out_dir, "triples/batch=1")
    store.read_triples(spark).limit(3).write.mode("overwrite").parquet(debris)
    n_visible = store.read_triples(spark).count()

    # rerun to completion — debris must be ignored/overwritten, not doubled
    run_incremental(spark, pages, ents, store)
    got = {
        (r.subj, r.pred, r.obj, r.url)
        for r in store.read_triples(spark).collect()
    }
    assert got == _expected()
    df = store.read_triples(spark)
    assert df.count() == df.dropDuplicates(["subj", "pred", "obj", "url"]).count()
    assert df.count() > n_visible


def test_lineage_reconciles(spark, tmp_path):
    pages = load_pages(spark, N)
    ents = load_entity_dict(spark, N)
    store = CheckpointedTripleStore(str(tmp_path / "kg3"))
    run_incremental(spark, pages, ents, store)
    lineage_total = (
        store.read_lineage(spark)
        .filter("stage = 'triples'")  # round 4: lineage covers every stage
        .groupBy()
        .sum("rows")
        .first()[0]
    )
    assert lineage_total == store.read_triples(spark).count()


def test_looped_incremental_does_not_accumulate_cached_rdds(spark, tmp_path):
    """ADVICE round-1: build_kg's stage caches must be released per batch —
    a long-lived incremental session must not leak persisted blocks."""
    pages = load_pages(spark, N)
    ents = load_entity_dict(spark, N)
    store = CheckpointedTripleStore(str(tmp_path / "kg4"))

    run_incremental(spark, pages, ents, store, limit=6)  # warm-up batch
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    for _ in range(3):
        run_incremental(spark, pages, ents, store, limit=6)
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after <= before, f"cached RDDs grew {before} -> {after}"


def test_url_ledger_compaction_bounds_read_paths(spark, tmp_path):
    """VERDICT r1 perf-weak #3: the resume anti-join must not reread
    every historical url batch — after compaction the read side is one
    compacted file + the batches since, and resume stays exact."""
    pages = load_pages(spark, N)
    ents = load_entity_dict(spark, N)
    store = CheckpointedTripleStore(str(tmp_path / "kg5"))

    # 12 tiny batches, compacting every 4
    while True:
        before = store._generation("url_ledger")
        bid = run_incremental(spark, pages, ents, store, limit=2)
        if bid == -1:
            break
        store.compact_url_ledger(spark, min_batches=4)

    comp = store._generation("url_ledger")
    assert comp["path"] is not None and comp["upto_batch"] >= 0
    pending = [m for m in store.manifests() if m["batch_id"] > comp["upto_batch"]]
    assert len(pending) < 4  # read path bounded

    # exactness preserved: ledger covers every processed url, resume is done
    assert store.processed_urls(spark).count() == N
    assert run_incremental(spark, pages, ents, store) == -1
    got = {
        (r.subj, r.pred, r.obj, r.url) for r in store.read_triples(spark).collect()
    }
    assert got == _expected()


def test_time_travel_read(spark, tmp_path):
    """as_of_batch reads are the Iceberg VERSION-AS-OF view: batch 0's
    snapshot is stable after batch 1 commits, and the current read is
    the union of both."""
    pages = load_pages(spark, N)
    ents = load_entity_dict(spark, N)
    store = CheckpointedTripleStore(str(tmp_path / "kg"))

    run_incremental(spark, pages, ents, store, limit=10)
    v0 = {
        (r.subj, r.pred, r.obj, r.url)
        for r in store.read_triples(spark, as_of_batch=0).collect()
    }
    run_incremental(spark, pages, ents, store)
    v0_after = {
        (r.subj, r.pred, r.obj, r.url)
        for r in store.read_triples(spark, as_of_batch=0).collect()
    }
    assert v0_after == v0  # historical snapshot is immutable
    now = {
        (r.subj, r.pred, r.obj, r.url)
        for r in store.read_triples(spark).collect()
    }
    assert v0 < now and now == _expected()


def test_triple_compaction_preserves_reads_and_history(spark, tmp_path):
    """compact_triples folds the per-batch files into one generation:
    current reads are unchanged, time-travel still serves the original
    snapshots, and later batches layer on top of the compacted gen."""
    pages = load_pages(spark, N)
    ents = load_entity_dict(spark, N)
    store = CheckpointedTripleStore(str(tmp_path / "kg"))

    run_incremental(spark, pages, ents, store, limit=8)
    run_incremental(spark, pages, ents, store, limit=8)
    before = {
        (r.subj, r.pred, r.obj, r.url)
        for r in store.read_triples(spark).collect()
    }
    v0 = {
        (r.subj, r.pred, r.obj, r.url)
        for r in store.read_triples(spark, as_of_batch=0).collect()
    }
    assert not store.compact_triples(spark, min_batches=3)  # below threshold
    assert store.compact_triples(spark, min_batches=2)
    after = {
        (r.subj, r.pred, r.obj, r.url)
        for r in store.read_triples(spark).collect()
    }
    assert after == before
    # time-travel bypasses the compacted generation
    assert {
        (r.subj, r.pred, r.obj, r.url)
        for r in store.read_triples(spark, as_of_batch=0).collect()
    } == v0
    # a post-compaction batch layers on top of the compacted gen
    run_incremental(spark, pages, ents, store)
    final = {
        (r.subj, r.pred, r.obj, r.url)
        for r in store.read_triples(spark).collect()
    }
    assert final == _expected()


def test_recommit_supersedes_earlier_triples(spark, tmp_path):
    """A re-crawl batch replaces earlier triples for its urls in current
    reads (no duplicates), pinned time travel still sees the old rows,
    and compaction bakes the supersede in."""
    from pyspark.sql import functions as F

    pages = load_pages(spark, N)
    ents = load_entity_dict(spark, N)
    store = CheckpointedTripleStore(str(tmp_path / "kg"))
    run_incremental(spark, pages, ents, store)
    expected = _expected()
    urls = pages.select("url").orderBy("url").limit(6)

    # hand-commit a poisoned batch for those urls so replacement is
    # OBSERVABLE (same-content recommit would be invisible)
    poison = (
        store.read_triples(spark)
        .join(urls, "url", "left_semi")
        .withColumn("obj", F.lit("POISON"))
    )
    store.commit_batch(poison, urls, supersedes_urls=urls)
    cur = store.read_triples(spark)
    assert cur.filter("obj = 'POISON'").count() > 0
    # none of the urls' ORIGINAL rows survive in the current view
    originals = {
        (r.subj, r.pred, r.obj, r.url)
        for r in cur.join(urls, "url", "left_semi").filter("obj <> 'POISON'").collect()
    }
    assert originals == set()
    # pinned time travel still serves the pre-re-crawl state
    v0 = {
        (r.subj, r.pred, r.obj, r.url)
        for r in store.read_triples(spark, as_of_batch=0).collect()
    }
    assert v0 == expected

    # a real recommit (same content) heals the poison — and the current
    # read equals the full expected set again, with zero duplicates
    recommit_urls(spark, pages, ents, store, urls=urls)
    healed = store.read_triples(spark)
    rows = {(r.subj, r.pred, r.obj, r.url) for r in healed.collect()}
    assert rows == expected
    assert healed.count() == len(rows)  # no duplicate physical rows

    # compaction folds the filtered state; reads unchanged
    assert store.compact_triples(spark, min_batches=2)
    after = {
        (r.subj, r.pred, r.obj, r.url)
        for r in store.read_triples(spark).collect()
    }
    assert after == expected

def test_lineage_reconciles_across_stages(spark, tmp_path):
    """Every committed batch carries per-stage, per-partition lineage
    (north rule: per-partition lineage + metrics), and the row counts
    reconcile across the pipeline: fused == spans + mentions + citations
    (the fused pass emits exactly those three kinds), each triples row
    is the exact row and distinct-url count of its committed
    ``part-<pid>`` file, and every stage records a wall-ms."""
    import glob
    from collections import defaultdict

    import pyarrow.parquet as pq

    pages = load_pages(spark, N)
    ents = load_entity_dict(spark, N)
    store = CheckpointedTripleStore(str(tmp_path / "kg_lin"))
    run_incremental(spark, pages, ents, store, limit=10)
    run_incremental(spark, pages, ents, store)
    # a re-crawl batch commits through the same path, with the same stages
    recrawl = pages.select("url").orderBy("url").limit(4)
    assert recommit_urls(spark, pages, ents, store, urls=recrawl) == 2

    totals: dict = defaultdict(int)
    walls: dict = {}
    triples_rows: dict = defaultdict(dict)
    for r in store.read_lineage(spark).collect():
        totals[(r.batch_id, r.stage)] += r.rows
        walls[(r.batch_id, r.stage)] = r.wall_ms
        if r.stage == "triples":
            triples_rows[r.batch_id][r.partition_id] = (r.rows, r.urls)

    batches = {b for b, _s in totals}
    assert batches == {0, 1, 2}
    expected_stages = {"fused", "spans", "mentions", "citations", "triples"}
    for b in batches:
        assert {s for bb, s in totals if bb == b} == expected_stages
        parts = sum(totals[(b, s)] for s in ("spans", "mentions", "citations"))
        assert totals[(b, "fused")] == parts, (b, totals[(b, "fused")], parts)
        # each triples row recounts exactly from its committed part file
        m = next(mm for mm in store.manifests() if mm["batch_id"] == b)
        recount = {}
        for path in glob.glob(os.path.join(m["triples_path"], "part-*.parquet")):
            urls = pq.read_table(path, columns=["url"]).column("url").to_pylist()
            if urls:
                pid = int(os.path.basename(path).split("-")[1])
                recount[pid] = (len(urls), len(set(urls)))
        assert triples_rows[b] == recount, (b, triples_rows[b], recount)
        assert all(
            walls[(b, s)] is not None and walls[(b, s)] >= 0 for s in expected_stages
        )


def test_lineage_is_counted_in_the_extraction_pass(spark, tmp_path):
    """The fused table and its kinds are reported per EXTRACTION task:
    their partition ids, rows and exact distinct urls are those of the
    unrepartitioned kernel output. The kinds record wall_ms 0, and the
    triples rows the wall of the build-and-write action, which holds
    every kernel task."""
    from pyspark.sql import functions as F

    from theoremkb_spark.pipeline.extract import FUSED_KINDS, extract_spans

    pages = load_pages(spark, N)
    store = CheckpointedTripleStore(str(tmp_path / "kg_x"))
    run_incremental(spark, pages, load_entity_dict(spark, N), store)
    lineage = [tuple(r) for r in store.read_lineage(spark).collect()]
    got = {(s, pid): (rows, urls) for s, pid, rows, urls, _w, _b in lineage}

    fused = extract_spans(pages).withColumn("_pid", F.spark_partition_id())
    expected = {}
    for stage, kind in (("fused", None), *FUSED_KINDS.items()):
        rows = fused if kind is None else fused.filter(F.col("kind") == kind)
        for r in rows.groupBy("_pid").agg(
            F.count(F.lit(1)).alias("n"), F.countDistinct("url").alias("u")
        ).collect():
            expected[(stage, r._pid)] = (r.n, r.u)
    assert {k: v for k, v in got.items() if k[0] != "triples"} == expected

    walls = {(s, pid): w for s, pid, _r, _u, w, _b in lineage}
    triples_wall = {w for (s, _p), w in walls.items() if s == "triples"}
    assert len(triples_wall) == 1, walls
    assert all(walls[k] == 0 for k in walls if k[0] in FUSED_KINDS), walls
    fused_walls = [w for (s, _p), w in walls.items() if s == "fused"]
    assert min(fused_walls) >= 0 and max(fused_walls) <= triples_wall.pop(), walls


def test_lineage_plan_run_twice_reports_the_same_rows(spark, tmp_path):
    """The accumulator merge overwrites a (stage, partition) report, so
    re-running the lineage-bearing plan (as a retried task or a
    recomputed stage does) leaves the counts as one run left them; only
    the kernel's measured wall-ms may differ."""
    from theoremkb_spark.pipeline.runner import (
        build_kg,
        lineage_accumulator,
        stage_lineage,
    )

    pages = load_pages(spark, N)
    lineage = lineage_accumulator(spark)
    triples = build_kg(spark, pages, load_entity_dict(spark, N), lineage=lineage)

    def counts():
        return [row[:4] for row in stage_lineage(lineage.value, 0)]

    triples.write.parquet(str(tmp_path / "once"))
    once = counts()
    triples.write.parquet(str(tmp_path / "twice"))
    assert counts() == once
    stages = {"fused", "spans", "mentions", "citations", "triples"}
    assert {s for s, *_ in once} == stages
    assert sum(r for s, _p, r, _u in once if s == "triples") == len(_expected())


def test_lineage_merge_overwrites_a_key():
    from theoremkb_spark.pipeline.runner import _LatestReport

    merge = _LatestReport()
    value = merge.zero({("fused", 0): (1, 1, 1)})
    assert value == {}
    value = merge.addInPlace(value, {("fused", 0): (5, 2, 7), ("spans", 0): (3, 2, 0)})
    value = merge.addInPlace(value, {("fused", 0): (5, 2, 9)})
    assert value == {("fused", 0): (5, 2, 9), ("spans", 0): (3, 2, 0)}


def _hand_committed_store(spark, path, n):
    """``n`` one-url batches committed by hand (no KG build), a triple
    compaction after the first, then one re-crawl of the first url."""
    store = CheckpointedTripleStore(path)
    for i in range(n):
        url = spark.createDataFrame([(f"u{i}",)], "url string")
        store.commit_batch(
            spark.createDataFrame([("s", "p", f"o{i}", f"u{i}", i)], TRIPLE_SCHEMA),
            url,
        )
        if i == 0:
            assert store.compact_triples(spark, min_batches=1)
    first = spark.createDataFrame([("u0",)], "url string")
    store.commit_batch(
        spark.createDataFrame([("s", "p", "new", "u0", 0)], TRIPLE_SCHEMA),
        first,
        supersedes_urls=first,
    )
    return store


def _plan_counts(df) -> tuple[int, int]:
    """(parquet relations, joins) of the optimized plan."""
    import re

    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return (
        len(re.findall(r"Relation \S*\[[^\n]*\] parquet", plan)),
        len(re.findall(r"\bJoin ", plan)),
    )


def test_read_plan_shape_does_not_grow_with_history(spark, tmp_path):
    """read_triples plans one batch scan (plus the compacted generation)
    and one supersede anti-join however many batches the store holds,
    for the current read and a time-travel read that sees the re-crawl.
    (Catalyst may push the anti-join through the union; the counts stay
    constant either way.)"""
    shapes = {}
    for n in (1, 4, 16):
        store = _hand_committed_store(spark, str(tmp_path / f"kg{n}"), n)
        current = store.read_triples(spark)
        as_of = store.read_triples(spark, as_of_batch=n)
        shapes[n] = (_plan_counts(current), _plan_counts(as_of))
        expected = {("s", "p", "new", "u0", 0)} | {
            ("s", "p", f"o{i}", f"u{i}", i) for i in range(1, n)
        }
        for df in (current, as_of):
            rows = [(r.subj, r.pred, r.obj, r.url, r.group) for r in df.collect()]
            assert sorted(rows) == sorted(expected), (n, rows)
    assert shapes[1] == shapes[4] == shapes[16], shapes
    assert all(joins >= 1 for _relations, joins in shapes[1]), shapes


def test_read_columns_are_triple_cols(spark, tmp_path):
    """Every read returns TRIPLE_COLS in order, whatever the store's
    history: after a re-crawl, after a compaction, and after another
    re-crawl on top of the compacted generation."""
    store = _hand_committed_store(spark, str(tmp_path / "kg"), 3)

    def assert_columns():
        last = store.next_batch_id() - 1
        for as_of in (None, 0, last):
            assert store.read_triples(spark, as_of_batch=as_of).columns == TRIPLE_COLS

    assert_columns()
    assert store.compact_triples(spark, min_batches=1)
    assert_columns()
    again = spark.createDataFrame([("u1",)], "url string")
    store.commit_batch(
        spark.createDataFrame([("s", "p", "again", "u1", 1)], TRIPLE_SCHEMA),
        again,
        supersedes_urls=again,
    )
    assert_columns()


def test_iceberg_adapter_gating_and_factory(spark, tmp_path):
    """The Iceberg binding is env-gated: without the runtime jars the
    factory hands back the parquet emulation for a path location, and
    constructing the Iceberg store raises cleanly instead of failing
    deep inside a SQL call. (The adapter's SQL surface runs only on a
    classpath with the Iceberg runtime — the emulation is the tested
    engine of record here.)"""
    import pytest

    from theoremkb_spark.io.catalog import iceberg_available
    from theoremkb_spark.io.iceberg_adapter import (
        IcebergTripleStore,
        open_triple_store,
    )

    store = open_triple_store(spark, str(tmp_path / "kg_ice"))
    assert isinstance(store, CheckpointedTripleStore)
    # the factory-selected store drives the SAME incremental loop
    pages = load_pages(spark, 6)
    ents = load_entity_dict(spark, 6)
    assert run_incremental(spark, pages, ents, store) == 0
    assert run_incremental(spark, pages, ents, store) == -1

    if not iceberg_available(spark):
        # recorded probe (BENCH/ICEBERG_PROBE_r05.md): the runtime jar
        # cannot exist in this image (none shipped, no network, no
        # package manager) — the emulation above is the engine of record
        with pytest.raises(NotImplementedError):
            IcebergTripleStore(spark, "demo.db.kg")
        return

    # REAL integration path — runs on any classpath carrying
    # iceberg-spark-runtime (e.g. --packages org.apache.iceberg:...):
    # the native store drives the same incremental loop end-to-end
    # (append, resume anti-join, time travel, upsert) through Iceberg SQL
    ice = IcebergTripleStore(spark, "demo.db.kg_it")
    assert run_incremental(spark, pages, ents, ice) == 0
    assert run_incremental(spark, pages, ents, ice) == -1  # resume no-op
    n0 = ice.read_triples(spark).count()
    assert n0 > 0
    first = ice.read_triples(spark, as_of_batch=0).count()
    assert first == n0  # time travel to the first snapshot
    more = load_pages(spark, 8)
    assert run_incremental(spark, more, load_entity_dict(spark, 8), ice) == 1
    assert ice.read_triples(spark).count() >= n0
    assert ice.read_triples(spark, as_of_batch=0).count() == first


def test_driver_and_spark_written_batches_round_trip(spark, tmp_path, monkeypatch):
    """A store mixing driver-written url files (a ``limit`` batch commits
    its collected list) with Spark-written ones (the re-crawl and
    ``limit=None`` commit a DataFrame) reads back one lineage schema and
    one url-file schema, resumes exactly, and a retry overwrites the
    files of a killed attempt."""
    import pytest

    from theoremkb_spark.io import catalog

    pages = load_pages(spark, N)
    ents = load_entity_dict(spark, N)
    store = CheckpointedTripleStore(str(tmp_path / "kg_mix"))
    assert run_incremental(spark, pages, ents, store, limit=6) == 0
    recrawl = pages.select("url").orderBy("url").limit(3)
    assert recommit_urls(spark, pages, ents, store, urls=recrawl) == 1

    # kill a Spark-written batch after its files, before its manifest
    real_replace = os.replace

    def killed(src, dst):
        if os.path.dirname(dst) == store.manifest_dir:
            raise RuntimeError("killed before the manifest commit")
        real_replace(src, dst)

    with monkeypatch.context() as m, pytest.raises(RuntimeError):
        m.setattr(catalog.os, "replace", killed)
        run_incremental(spark, pages, ents, store)
    debris = os.path.join(store.out_dir, "urls/batch=2")
    assert spark.read.parquet(debris).count() == N - 6
    assert store.next_batch_id() == 2

    # the retry is a driver-written batch over the debris, then the rest
    assert run_incremental(spark, pages, ents, store, limit=6) == 2
    assert run_incremental(spark, pages, ents, store) == 3
    assert run_incremental(spark, pages, ents, store) == -1

    assert store.read_lineage(spark).schema.simpleString() == (
        "struct<stage:string,partition_id:int,rows:bigint,urls:bigint,"
        "wall_ms:bigint,batch_id:int>"
    )
    sizes = {}
    for mf in store.manifests():
        df = spark.read.parquet(mf["urls_path"])
        assert df.schema.simpleString() == "struct<url:string>"
        sizes[mf["batch_id"]] = df.count()
        assert df.distinct().count() == sizes[mf["batch_id"]]
    assert sizes == {0: 6, 1: 3, 2: 6, 3: N - 12}
    assert store.processed_urls(spark).count() == N

    lineage = store.read_lineage(spark)
    for mf in store.manifests():
        b = mf["batch_id"]
        triples = lineage.filter(f"batch_id = {b} AND stage = 'triples'")
        committed = spark.read.parquet(mf["triples_path"]).count()
        assert (triples.groupBy().sum("rows").first()[0] or 0) == committed, b
    rows = {
        (r.subj, r.pred, r.obj, r.url) for r in store.read_triples(spark).collect()
    }
    assert rows == _expected()

"""Structured-Streaming incremental ingest: files landing in two waves
must produce exactly the full-corpus triple set — no loss, no dupes —
and a second drain with nothing new must commit nothing."""

import pyarrow as pa
import pyarrow.parquet as pq

from theoremkb_spark.corpus.generator import build_corpus, entity_dict_rows, pages_rows
from theoremkb_spark.corpus.oracle import oracle_triples
from theoremkb_spark.io.catalog import CheckpointedTripleStore
from theoremkb_spark.pipeline.runner import load_dico
from theoremkb_spark.streaming.ingest import stream_pages_to_store

N = 24

_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def _write_wave(path, rows):
    pq.write_table(pa.Table.from_pylist(rows, schema=_SCHEMA), path)


def test_streaming_two_waves_match_oracle(spark, tmp_path):
    rows = list(pages_rows(N))
    pages_dir = tmp_path / "pages"
    pages_dir.mkdir()
    store = CheckpointedTripleStore(str(tmp_path / "kg"))
    # an Arrow-built local relation: reading it runs no job, so no cache
    # (a cached one would also serve later tests' identical frames)
    dico = load_dico(spark, entity_dict_rows(N))

    # wave 1: first half of the corpus lands
    _write_wave(str(pages_dir / "wave1.parquet"), rows[: N // 2])
    n1 = stream_pages_to_store(spark, str(pages_dir), store, dico)
    assert n1 >= 1
    half = store.read_triples(spark).count()

    # wave 2: the rest lands; the stream checkpoint skips wave1 files
    _write_wave(str(pages_dir / "wave2.parquet"), rows[N // 2 :])
    n2 = stream_pages_to_store(spark, str(pages_dir), store, dico)
    assert n2 >= 1

    got = {
        (r.subj, r.pred, r.obj, r.url) for r in store.read_triples(spark).collect()
    }
    exp = oracle_triples(list(build_corpus(N)), entity_dict_rows(N))
    assert got == exp
    df = store.read_triples(spark)
    assert df.count() == df.dropDuplicates(["subj", "pred", "obj", "url"]).count()
    assert df.count() > half

    # wave 3: nothing new -> nothing committed
    n3 = stream_pages_to_store(spark, str(pages_dir), store, dico)
    assert n3 == 0


# ------- event-time windows + stateful sessionization (streaming/windows.py)


def test_windowed_counts_match_sequential_twin(spark, tmp_path):
    """Watermarked tumbling-window agg over multi-wave files must equal
    the two-watermark sequential twin exactly — including genuine
    late-drops (stragglers land up to 9h behind a 2h watermark)."""
    from theoremkb_spark.corpus.stream_oracle import (
        event_waves,
        windowed_counts_expected,
        write_event_waves,
    )
    from theoremkb_spark.streaming.windows import windowed_event_counts

    for seed in (11, 23):
        waves = event_waves(seed=seed)
        base = tmp_path / f"w{seed}"
        write_event_waves(str(base / "in"), waves)
        got = sorted(
            (r.win_start, r.win_end, r.event_type, r.n_events, r.sum_value)
            for r in windowed_event_counts(
                spark, str(base / "in"), str(base / "ckpt")
            ).collect()
        )
        exp = windowed_counts_expected(waves)
        assert got == exp, f"seed {seed}"
        # the watermark machinery did real work: some events were late-
        # dropped and some open windows were withheld
        n_all = sum(len(w) for w in waves)
        assert sum(r[3] for r in got) < n_all


def test_sessionize_matches_sequential_twin(spark, tmp_path):
    """applyInPandasWithState sessionization (event-time timeout) must
    equal the sequential session twin: gap-closed sessions, timeout-
    flushed sessions, never a duplicate."""
    from theoremkb_spark.corpus.stream_oracle import (
        event_waves,
        sessions_expected,
        write_event_waves,
    )
    from theoremkb_spark.streaming.windows import sessionize_users

    for seed in (11, 23):
        waves = event_waves(seed=seed)
        base = tmp_path / f"s{seed}"
        write_event_waves(str(base / "in"), waves)
        got = sorted(
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in sessionize_users(
                spark, str(base / "in"), str(base / "ckpt")
            ).collect()
        )
        exp = sessions_expected(waves)
        assert got == exp, f"seed {seed}"
        assert len(got) == len(set(got))  # exactly-once emission
        assert all(s <= e for _, s, e, _ in got)


def test_stream_dedup_matches_sequential_twin(spark, tmp_path):
    """Watermark-bounded dropDuplicates over the at-least-once feed ==
    the sequential two-watermark twin, at two seeds; replays are
    genuinely removed (output < input) and nothing unique is lost."""
    import os

    from theoremkb_spark.corpus.stream_oracle import (
        dedup_expected,
        event_waves_dupes,
        write_event_waves,
    )
    from theoremkb_spark.streaming.windows import dedup_events

    for seed in (11, 23):
        waves = event_waves_dupes(seed=seed)
        base = tmp_path / f"d{seed}"
        write_event_waves(str(base / "in"), waves)
        got = sorted(
            (r.event_id, r.ts_s, r.user_id, r.event_type, r.value)
            for r in dedup_events(
                spark, str(base / "in"), str(base / "ckpt")
            ).collect()
        )
        exp = dedup_expected(waves)
        assert got == exp, f"seed {seed}"
        n_input = sum(len(w) for w in waves)
        assert len(got) < n_input  # replays removed
        assert len({g[0] for g in got}) == len(got)  # event_ids unique

"""Salted-join skew stress and link-join regime equality (round-5 verdict #3).

Two parts:

1. TASK-SKEW MEASUREMENT on a zipf-hot key (one key carries ~30% of the
   fact rows — the J5 shape, SURVEY §2.3): the same left join executed
   three ways with AQE's skew-join backstop disabled so the raw physical
   behaviour is visible —
     * plain   — unsalted sort-merge join: the hot key lands in ONE
                 post-shuffle partition (the straggler);
     * salted  — operators.joins.salted_join (deterministic xxhash64
                 salt, dim exploded salt ways): the hot key spreads
                 over `salt` partitions;
     * aqe     — unsalted again but with AQE skew-join ON (the runtime
                 backstop the production config ships).
   Per-task durations come from the Spark event log; the report row per
   shape is the join stage's (max, median, max/median) task time.

2. REGIME EQUALITY: build_kg over the bench corpus with the dictionary
   join FORCED to broadcast and FORCED to shuffled (a plain sort-merge
   join: a parquet-backed dictionary over a lowered
   ``joins.BROADCAST_MAX_BYTES``) must emit identical triple sets.

Usage: python scripts/bench_skew_salted.py [--rows 6000000] [--cpus 32]
Writes BENCH/SKEW_r06.json and prints it.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _noop(df):
    df.write.mode("overwrite").format("noop").save()


def task_skew(cpus: int, rows: int, evt_dir: str) -> dict:
    from pyspark.sql import functions as F

    from theoremkb_spark.operators.joins import salted_join
    from theoremkb_spark.session import get_spark

    os.makedirs(evt_dir, exist_ok=True)
    spark = get_spark(
        "skew_bench",
        cpus=cpus,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{evt_dir}",
            "spark.eventLog.compress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    # zipf-hot fact: ~30% of rows on key 0, the rest uniform over 100k
    # keys; a payload column so the shuffle moves real bytes
    n_keys = 100_000
    fact = spark.range(rows).select(
        F.when(F.col("id") % 10 < 3, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(n_keys)))
        .alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    dim = spark.range(n_keys).select(
        F.col("id").alias("k"), F.concat(F.lit("dim"), F.col("id")).alias("tag")
    )
    # park both inputs in cache so each shape times ONLY its join
    fact = fact.cache()
    dim = dim.cache()
    _noop(fact)
    _noop(dim)

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    walls = {}

    def run(desc: str, skew_join: bool, salted: bool):
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(skew_join).lower())
        sc.setJobDescription(desc)
        joined = (
            salted_join(fact, dim, on=["k"], how="left", salt=8)
            if salted
            else fact.join(dim, "k", "left")
        )
        t0 = time.time()
        _noop(joined.select(F.length("payload").alias("n"), "tag"))
        walls[desc] = round(time.time() - t0, 2)
        sc.setJobDescription(None)

    run("skew:plain", skew_join=False, salted=False)
    run("skew:salted", skew_join=False, salted=True)
    run("skew:aqe", skew_join=True, salted=False)
    app_id = sc.applicationId
    spark.stop()

    # ---- event-log parse: stage -> tasks, job description -> stages
    # (Spark 4 rolling layout: eventlog_v2_<appId>/events_*_<appId>)
    [entry] = glob.glob(os.path.join(evt_dir, f"*{app_id}*"))
    logs = sorted(glob.glob(os.path.join(entry, "events_*"))) if os.path.isdir(
        entry
    ) else [entry]
    desc_stages: dict[str, set[int]] = {}
    stage_tasks: dict[int, list[float]] = {}
    for log in logs:
        _parse_log(log, desc_stages, stage_tasks)

    out = {}
    for desc, stages in desc_stages.items():
        # the join stage = the stage with the largest max task duration
        # among this job's stages (the input scans are cached + tiny)
        worst = None
        for sid in stages:
            tasks = stage_tasks.get(sid)
            if not tasks or len(tasks) < 2:
                continue
            mx, md = max(tasks), statistics.median(tasks)
            if worst is None or mx > worst["max_task_s"]:
                worst = {
                    "stage": sid,
                    "n_tasks": len(tasks),
                    "max_task_s": round(mx, 2),
                    "median_task_s": round(md, 3),
                    "max_over_median": round(mx / md, 1) if md > 0 else None,
                }
        out[desc] = {"wall_s": walls[desc], **(worst or {})}
    return out


def _parse_log(log: str, desc_stages: dict, stage_tasks: dict) -> None:
    with open(log) as f:
        for line in f:
            ev = json.loads(line)
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                if desc and desc.startswith("skew:"):
                    desc_stages.setdefault(desc, set()).update(
                        s["Stage ID"] for s in ev["Stage Infos"]
                    )
            elif et == "SparkListenerTaskEnd":
                info = ev.get("Task Info") or {}
                dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
                stage_tasks.setdefault(ev["Stage ID"], []).append(dur)


def regime_equality(cpus: int) -> dict:
    from theoremkb_spark.corpus.generator import entity_dict_rows
    from theoremkb_spark.operators import joins
    from theoremkb_spark.pipeline.extract import write_pages_parquet
    from theoremkb_spark.pipeline.runner import build_kg, load_dico, release_caches
    from theoremkb_spark.session import get_spark, warm_python_workers

    kg_docs = int(os.environ.get("SPARK_GRAFT_KG_DOCS", "9600"))
    spark = get_spark("skew_regimes", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    # the pages and dictionary parquet live only as long as this run
    tmp = tempfile.mkdtemp(prefix="regime_equality_")
    try:
        warm_python_workers(spark, cpus)
        pages_path = os.path.join(tmp, "pages.parquet")
        write_pages_parquet(pages_path, kg_docs, jobs=min(cpus, 16))
        pages = spark.read.parquet(pages_path)
        dico = load_dico(spark, list(entity_dict_rows(kg_docs))).cache()
        # the shuffled regime needs a file-backed dictionary (a
        # driver-local frame's unknowable estimate always counts as
        # broadcast-sized) and a threshold it exceeds
        dico_path = os.path.join(tmp, "dico.parquet")
        dico.write.parquet(dico_path)
        forced = {
            "broadcast": (dico, joins.BROADCAST_MAX_BYTES),
            "shuffled": (spark.read.parquet(dico_path), -1),
        }

        triples = {}
        for regime, (regime_dico, max_bytes) in forced.items():
            caches: list = []
            prev, joins.BROADCAST_MAX_BYTES = joins.BROADCAST_MAX_BYTES, max_bytes
            try:
                df = build_kg(spark, pages, dico=regime_dico, cache_registry=caches)
            finally:
                joins.BROADCAST_MAX_BYTES = prev
            rows = df.select("subj", "pred", "obj", "url")
            triples[regime] = {
                (r.subj, r.pred, r.obj, r.url) for r in rows.collect()
            }
            release_caches(caches)
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    identical = triples["broadcast"] == triples["shuffled"]
    return {
        "kg_docs": kg_docs,
        "broadcast_triples": len(triples["broadcast"]),
        "shuffled_triples": len(triples["shuffled"]),
        "identical": identical,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=6_000_000)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--evt-dir", default="/tmp/skew_evt")
    args = ap.parse_args()

    report = {
        "rows": args.rows,
        "cpus": args.cpus,
        "loadavg_1m": round(os.getloadavg()[0], 1),
        "task_skew": task_skew(args.cpus, args.rows, args.evt_dir),
        "kg_regimes": regime_equality(args.cpus),
    }
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH",
        "SKEW_r06.json",
    )
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))


if __name__ == "__main__":
    main()

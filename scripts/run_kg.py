"""KG-pipeline driver for spark-submit.

Usage:
    spark-submit --py-files theoremkb_spark.zip scripts/run_kg.py \
        --docs 100 --out /tmp/kg_out --cpus 8 \
        [--model crf_model_v1.pkl | --trainer perceptron] [--store]

Synthesizes the deterministic corpus, runs the six-stage pipeline (the
rule labeler, or the trained sequence model given by --model/--trainer),
writes triples + lineage parquet (or, with --store, commits into the
checkpointed triple store, rule labeler only), and prints a one-line
JSON summary (docs, triples, wall seconds, triples/sec, model artifact
name or null).
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=100)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--out", default="/tmp/kg_out")
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument(
        "--pages-parquet",
        default=None,
        help="read the pages corpus from this parquet instead of synthesizing"
        " in-process (use scripts/make_corpus.py to materialize it)",
    )
    ap.add_argument(
        "--model",
        default=None,
        help="trained sequence-model artifact (.pkl) that replaces the rule"
        " labeler: a path (registered via sc.addFile) or a bare name already"
        " shipped with spark-submit --files",
    )
    ap.add_argument("--warmup", action=argparse.BooleanOptionalAction, default=True)
    ap.add_argument(
        "--store",
        action="store_true",
        help="commit into the checkpointed triple store at --out instead of"
        " plain parquet: resumable (already-committed urls are skipped via"
        " the anti-join ledger), batched via --batch-size, snapshot-visible"
        " only on manifest commit",
    )
    ap.add_argument(
        "--batch-size",
        type=int,
        default=None,
        help="with --store: cap each committed batch at this many documents"
        " (default: everything pending in one batch)",
    )
    ap.add_argument(
        "--trainer",
        default=None,
        choices=["perceptron", "lbfgs", "cnn1d"],
        help="train a sequence-model artifact on the fly and label with it"
        " (overrides --model): 'perceptron' = the fast chain perceptron,"
        " 'lbfgs' = the reference's actual CRF algorithm (exact NLL +"
        " OWL-QN elastic net, ml/crf_lbfgs.py)",
    )
    ap.add_argument("--train-docs", type=int, default=40)
    args = ap.parse_args()
    if args.store and (args.model or args.trainer):
        # run_incremental always runs the rule labeler
        ap.error("--store runs the rule labeler only: drop --model/--trainer")

    import os

    import pyarrow as pa

    from theoremkb_spark.io.catalog import write_on_driver
    from theoremkb_spark.pipeline.extract import load_pages
    from theoremkb_spark.pipeline.runner import (
        LINEAGE_ARROW,
        build_kg,
        lineage_accumulator,
        load_dico,
        stage_lineage,
    )
    from theoremkb_spark.session import arrow_frame, get_spark

    spark = get_spark("run_kg", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    model_file = args.model
    if args.trainer:
        from theoremkb_spark.ml.crf import save_artifact, train

        if args.trainer == "lbfgs":
            from theoremkb_spark.ml.crf_lbfgs import train_crf

            art = train_crf(n_docs=args.train_docs, seed=args.seed)
        elif args.trainer == "cnn1d":
            from theoremkb_spark.ml.cnn1d import train_cnn1d

            art = train_cnn1d(n_docs=args.train_docs, seed=args.seed)
        else:
            art = train(n_docs=args.train_docs, seed=args.seed)
        if art["train_errors"]:
            raise SystemExit(f"trainer failed to fit gold: {art['train_errors']} docs")
        model_file = f"/tmp/run_kg_model_{args.trainer}.pkl"
        save_artifact(art, model_file)
    if model_file and os.path.exists(model_file):
        spark.sparkContext.addFile(model_file)
        model_file = os.path.basename(model_file)

    if args.pages_parquet:
        pages = spark.read.parquet(args.pages_parquet)
    else:
        pages = load_pages(spark, args.docs, args.seed)

    # dictionary rows: prefer the materialized sidecar (fast pyarrow
    # read); regenerating them is serial driver python that grows with
    # --docs
    dict_path = (args.pages_parquet or "") + ".dict.parquet"
    if args.pages_parquet and os.path.exists(dict_path):
        import pyarrow.parquet as pq

        dict_rows = pq.read_table(dict_path).to_pylist()
    else:
        from theoremkb_spark.corpus.generator import entity_dict_rows

        dict_rows = list(entity_dict_rows(args.docs, args.seed))
    dico = load_dico(spark, dict_rows).cache()

    if args.warmup:
        # steady-state measurement: spin up and warm ALL python workers
        # (pandas/pyarrow import is ~1.5 s per worker — a real cluster's
        # long-lived executors pay it once, so the timed run must not),
        # then one tiny end-to-end pass for JIT/codegen.
        from theoremkb_spark.session import warm_python_workers

        warm_python_workers(spark, args.cpus)
        build_kg(
            spark, pages.limit(8), dico=dico, model_file=model_file
        ).write.mode("overwrite").format("noop").save()

    if args.store:
        # resumable checkpointed mode: each invocation drains what the
        # ledger says is pending; a killed run re-processes only its
        # uncommitted batch on retry (north rule: resume from checkpoint)
        from theoremkb_spark.io.catalog import CheckpointedTripleStore, run_incremental

        # run_incremental canonicalizes internally — hand it the raw rows
        ents = arrow_frame(
            spark,
            [
                (r["url"], r["tag"], r["pdf_to"], r["title"], r["norm_title"])
                for r in dict_rows
            ],
            "url string, tag string, pdf_to string, title string, norm_title string",
        )
        store = CheckpointedTripleStore(args.out)
        t0 = time.perf_counter()
        batches = []
        while True:
            bid = run_incremental(spark, pages, ents, store, limit=args.batch_size)
            if bid < 0:
                break
            batches.append(bid)
            if args.batch_size is None:
                break
        wall = time.perf_counter() - t0
        n = store.read_triples(spark).count()
        print(
            json.dumps(
                {
                    "docs": args.docs,
                    "triples": n,
                    "wall_s": round(wall, 2),
                    "triples_per_sec": round(n / wall, 1) if wall > 0 else None,
                    "model": model_file,
                    "batches_committed": batches,
                }
            )
        )
        spark.stop()
        return

    t0 = time.perf_counter()
    # the one Spark action: the lineage is counted while the triples write
    lineage = lineage_accumulator(spark)
    build_kg(
        spark, pages, dico=dico, model_file=model_file, lineage=lineage
    ).write.mode("overwrite").parquet(f"{args.out}/triples")
    wall = time.perf_counter() - t0
    rows = stage_lineage(lineage.value, int(wall * 1000))
    write_on_driver(
        f"{args.out}/lineage",
        pa.Table.from_pylist(
            [dict(zip(LINEAGE_ARROW.names, r)) for r in rows], schema=LINEAGE_ARROW
        ),
    )

    n = spark.read.parquet(f"{args.out}/triples").count()
    print(
        json.dumps(
            {
                "docs": args.docs,
                "triples": n,
                "wall_s": round(wall, 2),
                "triples_per_sec": round(n / wall, 1),
                "model": model_file,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

"""spark-submit entry point for the end-to-end KG-construction pipeline.

The north rule's launch contract: the whole pipeline runs via

    spark-submit --master <cluster-or-local[N]> \
        --py-files dist/engine.zip tools/run_pipeline.py \
        --transcripts <parquet path> --warehouse <dir> [--snapshot v1]

This script is deliberately standalone — it imports the engine ONLY
through the --py-files artifact (spark-submit puts the zip on the
driver's sys.path and ships it to every executor), so it proves the
deployment path a real multi-executor cluster uses. Locally the same
command with --master local[N] is the scaling-evidence runner.

``--synth N`` replaces --transcripts with a deterministic N-conversation
fixture corpus and adds triple precision/recall vs the fixture goldens to
the report — a self-validating smoke launch with no external data.

Output: ONE ``RESULT {...}`` JSON line — wall seconds, per-table row
counts, executed vs resumed stages, triples/sec, and (with --synth) P/R.
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile
import time


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--transcripts", help="input transcripts parquet path")
    src.add_argument("--synth", type=int, metavar="N_CONVS",
                     help="synthesize an N-conversation fixture corpus instead")
    ap.add_argument("--warehouse", default=None,
                    help="checkpoint warehouse dir (default: a temp dir)")
    ap.add_argument("--snapshot", default="v1", help="snapshot id to commit")
    ap.add_argument("--no-resume", action="store_true",
                    help="recompute every stage even if committed")
    ap.add_argument("--cc-salt", type=int, default=0,
                    help="salt factor for the CC hub-entity join (0 = off)")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args(argv)

    # Imported here, AFTER spark-submit has placed --py-files on sys.path.
    from information_extraction_from_biographies_spark import fixtures as fx
    from information_extraction_from_biographies_spark.plans.pipeline import Pipeline
    from information_extraction_from_biographies_spark.session import get_spark

    # Under spark-submit the master comes from the launch command (the
    # session factory detects the running gateway and leaves it alone); a
    # plain `python` launch falls back to local[N].
    spark = get_spark(
        app_name="kg-submit",
        shuffle_partitions=args.shuffle_partitions,
    )

    fixture = None
    if args.synth is not None:
        fixture = fx.make_fixture(n_convs=args.synth, seed=42)
        transcripts = fx.transcripts_sdf(spark, fixture)
    else:
        transcripts = spark.read.parquet(args.transcripts)

    warehouse = args.warehouse or tempfile.mkdtemp(prefix="kg_warehouse_")
    t0 = time.monotonic()
    res = Pipeline(
        spark,
        warehouse,
        snapshot_id=args.snapshot,
        cc_salt=args.cc_salt,
    ).run(transcripts, resume=not args.no_resume)
    counts = {name: df.count() for name, df in res.tables.items()}
    wall = time.monotonic() - t0

    report = {
        "wall_sec": round(wall, 3),
        "master": spark.sparkContext.master,
        "warehouse": warehouse,
        "snapshot": args.snapshot,
        "executed_stages": res.executed_stages,
        "skipped_stages": res.skipped_stages,
        "rows": counts,
        "triples_per_sec": round(counts.get("triples", 0) / wall, 2),
    }
    if fixture is not None:
        tri = {(r.subj, r.pred, r.obj) for r in res.tables["triples"].collect()}
        gold = fx.golden_triples(fixture)
        tp = len(tri & gold)
        report["precision"] = round(tp / max(len(tri), 1), 4)
        report["recall"] = round(tp / max(len(gold), 1), 4)
    print("RESULT " + json.dumps(report))


if __name__ == "__main__":
    main()

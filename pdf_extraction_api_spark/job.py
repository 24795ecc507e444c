"""spark-submit entrypoint (north_rule: `spark-submit --py-files`).

    python tools/make_pyfiles.py                 # → dist/engine.zip
    spark-submit --py-files dist/engine.zip \
        pdf_extraction_api_spark/job.py \
        --pages PATH --warehouse DIR --run-id ID \
        [--resume] [--salt-partitions N] [--stats]

One DataFrame plan per run: scan → [resume anti-join] → kernel →
results snapshot, whose atomic manifest commit is the run's one commit
point (per-document lineage rides in the same data files) → audit
snapshot derived from the committed files. Every run first derives the
audit of any committed run that lacks one (a run killed between the two
commits), in maintenance modes and when there is nothing to do too.
Deterministic: run twice with --resume and the second run is a no-op.
"""

from __future__ import annotations

import argparse
import json
import sys


def _int_at_least(lo: int):
    """argparse type: an int >= `lo`, so a bad value exits 2 with usage
    before Spark starts instead of changing what the run does."""
    def parse(text: str) -> int:
        try:
            value = int(text)
        except ValueError:
            raise argparse.ArgumentTypeError(
                f"invalid int value: {text!r}") from None
        if value < lo:
            raise argparse.ArgumentTypeError(
                f"must be >= {lo}, got {value}")
        return value
    return parse


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages",
                    help="pages table path (required unless running a "
                         "maintenance mode)")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--resume", action="store_true",
                    help="skip urls already committed (J4 anti-join)")
    ap.add_argument("--salt-partitions", type=_int_at_least(1),
                    default=None,
                    help="explicit url-hash salting for skewed layouts")
    ap.add_argument("--stats", action="store_true",
                    help="print run statistics JSON to stdout")
    ap.add_argument("--compact", action="store_true",
                    help="maintenance mode: rewrite the results table "
                         "into few files (full-snapshot commit) "
                         "instead of extracting")
    ap.add_argument("--vacuum", action="store_true",
                    help="maintenance mode: delete data files no "
                         "longer reachable from the current read set")
    ap.add_argument("--target-files", type=_int_at_least(1), default=8,
                    help="file count --compact aims for")
    ap.add_argument("--table", default="results",
                    help="table the maintenance modes operate on "
                         "(e.g. 'results' or 'audit'; results' hidden "
                         "lineage columns carry through --compact)")
    ap.add_argument("--vacuum-grace", type=_int_at_least(0), default=900,
                    help="seconds a data file must be old before "
                         "--vacuum may reclaim it (in-flight append "
                         "protection)")
    args = ap.parse_args(argv)
    if not (args.compact or args.vacuum) and not args.pages:
        ap.error("--pages is required unless --compact/--vacuum")

    # imports AFTER argparse: a bad invocation should print usage, not
    # a Spark/module traceback (spark-submit sets sys.path[0] to the
    # script dir, so these imports require --py-files engine.zip)
    from pyspark.sql import SparkSession

    from pdf_extraction_api_spark.plans.extract import (
        ARROW_BATCH_CONF,
        commit_run,
        load_pages,
        repair_audits,
        resume_filter,
        run_extraction,
        run_stats,
    )
    from pdf_extraction_api_spark.sources.catalog import SnapshotCatalog

    spark = (
        SparkSession.builder.appName(f"spark-extract-{args.run_id}")
        .config("spark.sql.adaptive.enabled", "true")
        .config(map=ARROW_BATCH_CONF)
        .getOrCreate()
    )
    cat = SnapshotCatalog(args.warehouse)
    repair_audits(spark, cat)

    if args.compact or args.vacuum:
        if args.compact:
            m = cat.compact(spark, args.table,
                            target_files=args.target_files,
                            run_id=args.run_id)
            print(json.dumps(
                {"table": args.table, "compacted": bool(m),
                 "files": len(m["files"]) if m else 0}))
        if args.vacuum:
            deleted = cat.vacuum(args.table,
                                 grace_seconds=args.vacuum_grace)
            print(json.dumps({"table": args.table,
                              "vacuumed_files": len(deleted)}))
        return 0

    pages = load_pages(spark, args.pages)
    if args.resume:
        committed = cat.read(spark, "results")
        if committed is not None:
            pages = resume_filter(pages, committed)

    # emptiness probe on the INPUT (kernel is 1 row in → 1 row out):
    # a scan limit-1 is cheap; probing the kernel output would run the
    # Python kernel just to discover there is nothing to do
    if pages.limit(1).count() == 0:
        print("nothing to do (all urls committed)")
        return 0

    commit_run(cat, run_extraction(
        pages, salt_partitions=args.salt_partitions), args.run_id)
    if args.stats:
        # over the committed files: the kernel runs once per job
        committed = cat.read_run(spark, "results", args.run_id)
        if committed is None:  # a replay of a vacuumed run
            print(f"warning: cannot print the stats of run "
                  f"{args.run_id!r}: its 'results' files were vacuumed "
                  "after a compaction")
            return 0
        row = run_stats(committed).collect()[0]
        print(json.dumps(row.asDict(recursive=True), default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""spark-submit entry point.

Production: spark-submit --py-files kgforge.zip -m kgforge.cli run ...
Locally:    python -m kgforge.cli run --pages ... --dict ... --out ...
            python -m kgforge.cli synth --out /tmp/fixture --pages 1000

Re-submitting the same `run` resumes from the checkpoint manifest
(SURVEY.md §7.6) — finished stages are skipped, outputs identical; a run
killed at any point leaves every output complete or absent, so the
re-submission also reaches the uninterrupted result. `--publish`
overwrites its target the same way: a failed write keeps the old table.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="kgforge")
    sub = ap.add_subparsers(dest="cmd", required=True)

    runp = sub.add_parser("run", help="run the full triple-emission pipeline")
    runp.add_argument("--pages", required=True, help="pages parquet path")
    runp.add_argument("--dict", required=True, dest="dict_path", help="concept_dict parquet path")
    runp.add_argument("--out", required=True, help="output directory")
    runp.add_argument("--langs", default="en", help="comma-separated lang filter, or 'all'")
    runp.add_argument("--threshold", type=float, default=0.8)
    runp.add_argument("--run-id", default="run")
    runp.add_argument(
        "--periods",
        default=None,
        dest="periods_path",
        help="optional curated-periods parquet (subj, period_start, "
        "period_end) overriding observed spans (loyalty-cohort analog)",
    )
    runp.add_argument("--cpus", type=int, default=None)
    runp.add_argument(
        "--publish",
        default=None,
        help="publish the final triples: an Iceberg table identifier "
        "(cat.db.triples; used when the catalog jars are present) or a "
        "directory path (parquet partitioned by pred)",
    )

    synthp = sub.add_parser("synth", help="generate a synthetic fixture")
    synthp.add_argument("--out", required=True)
    synthp.add_argument("--pages", type=int, default=1000)
    synthp.add_argument("--seed", type=int, default=42)

    migp = sub.add_parser(
        "migrate", help="bring a triple table to the current schema version"
    )
    migp.add_argument("--path", required=True, help="triple table parquet dir")
    migp.add_argument("--cpus", type=int, default=None)

    incp = sub.add_parser(
        "increment",
        help="merge a new crawl batch into an existing run output "
        "(no base-corpus rescan; see kgforge.incremental)",
    )
    incp.add_argument("--out", required=True, help="existing run output dir")
    incp.add_argument("--pages", required=True, help="new pages parquet")
    incp.add_argument("--dict", required=True, dest="dict_path")
    incp.add_argument("--langs", default="en")
    incp.add_argument("--threshold", type=float, default=0.8)
    incp.add_argument(
        "--compact-after", type=int, default=8, dest="compact_after",
        help="auto-compact once this many increments accumulate; 0 disables",
    )
    incp.add_argument("--cpus", type=int, default=None)

    cmpp = sub.add_parser(
        "compact", help="materialize base + increments as the new base"
    )
    cmpp.add_argument("--out", required=True)
    cmpp.add_argument("--cpus", type=int, default=None)

    args = ap.parse_args(argv)

    if args.cmd == "increment":
        from kgforge.conf import get_spark
        from kgforge.incremental import incremental_update

        spark = get_spark("kgforge-increment", cpus=args.cpus)
        langs = None if args.langs == "all" else tuple(args.langs.split(","))
        print(
            json.dumps(
                incremental_update(
                    spark, args.out, args.pages, args.dict_path,
                    langs=langs, threshold=args.threshold,
                    auto_compact_after=args.compact_after or None,
                )
            )
        )
        return 0

    if args.cmd == "compact":
        from kgforge.conf import get_spark
        from kgforge.incremental import compact

        spark = get_spark("kgforge-compact", cpus=args.cpus)
        print(json.dumps(compact(spark, args.out)))
        return 0

    if args.cmd == "migrate":
        from kgforge.conf import get_spark
        from kgforge.migrate import migrate_triples

        spark = get_spark("kgforge-migrate", cpus=args.cpus)
        print(json.dumps(migrate_triples(spark, args.path)))
        return 0

    if args.cmd == "synth":
        from kgforge.synth import write_fixture

        info = write_fixture(args.out, n_pages=args.pages, seed=args.seed)
        print(json.dumps(info))
        return 0

    if args.cmd == "run":
        from kgforge.conf import get_spark
        from kgforge.pipeline import run_pipeline

        spark = get_spark("kgforge-run", cpus=args.cpus)
        langs = None if args.langs == "all" else tuple(args.langs.split(","))
        info = run_pipeline(
            spark,
            pages_path=args.pages,
            dict_path=args.dict_path,
            out_dir=args.out,
            langs=langs,
            threshold=args.threshold,
            run_id=args.run_id,
            periods_path=args.periods_path,
        )
        if args.publish:
            from kgforge.checkpoint import read_own
            from kgforge.sources import write_triples

            triples = read_own(spark, f"{args.out}/triples")
            info["published"] = write_triples(triples, args.publish)
            info["publish_target"] = args.publish
        print(json.dumps(info))
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())

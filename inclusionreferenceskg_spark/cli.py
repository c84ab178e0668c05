"""spark-submit entry point.

Usage (package shipped via --py-files; build the zip with
``python scripts/make_submit_zip.py``, the application script is
``scripts/submit.py``):

    spark-submit --py-files dist/irkg.zip scripts/submit.py \\
        synth --out /data/pages --n 100000
    spark-submit ... run --pages /data/pages --workdir /data/kg [--no-resume]
    spark-submit ... upsert --pages /data/recrawl --workdir /data/kg
    spark-submit ... stream --in /data/drops --out /data/triples \\
        --checkpoint /data/ckpt
    spark-submit ... stream --in /data/drops --workdir /data/kg \\
        --checkpoint /data/ckpt --mode upsert   # crawl-refresh stream
    python -m inclusionreferenceskg_spark.cli metrics --workdir /data/kg \\
        [--stage nodes]   # per-stage/per-partition lineage (no Spark)
    spark-submit ... compact --workdir /data/kg --stage triples \\
        [--max-records-per-file N]   # bin-pack fast-append small files
    spark-submit ... rollback --workdir /data/kg --stage triples \\
        --version 3   # undo a bad recrawl in O(metadata)
    python -m inclusionreferenceskg_spark.cli expire --workdir /data/kg \\
        --stage triples --keep-last 2  # snapshot GC + vacuum (no Spark)

``upsert`` and ``stream --mode upsert`` both refresh the catalog through
``plans.checkpoint.run_upsert``, the one crawl-refresh path.  Locally the
same surface runs as ``python -m inclusionreferenceskg_spark.cli``.
"""

from __future__ import annotations

import argparse
import json
import sys

from inclusionreferenceskg_spark import synth
from inclusionreferenceskg_spark.plans.checkpoint import run_checkpointed
from inclusionreferenceskg_spark.session import get_spark
from inclusionreferenceskg_spark.sources.catalog import Catalog
from inclusionreferenceskg_spark.streaming.pipeline import (
    run_stream_to_triples,
    run_stream_upsert,
)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="irkg-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_synth = sub.add_parser("synth", help="generate a synthetic pages table")
    p_synth.add_argument("--out", required=True)
    p_synth.add_argument("--n", type=int, default=1000)
    p_synth.add_argument("--seed", type=int, default=42)

    p_run = sub.add_parser("run", help="pages parquet -> KG tables")
    p_run.add_argument("--pages", required=True)
    p_run.add_argument("--workdir", required=True)
    p_run.add_argument("--no-resume", action="store_true")
    p_run.add_argument(
        "--no-url-dedup", action="store_true",
        help="skip the latest-capture-per-url collapse (one url-keyed "
             "shuffle); only safe when the snapshot is url-unique")

    p_upsert = sub.add_parser(
        "upsert", help="recrawl snapshot -> refresh of the KG tables via "
                       "run_upsert, the one crawl-refresh path (new urls "
                       "appended, changed urls copy-on-write rewritten, "
                       "unchanged urls untouched)")
    p_upsert.add_argument("--pages", required=True)
    p_upsert.add_argument("--workdir", required=True)

    p_stream = sub.add_parser("stream", help="streaming drop dir -> triples")
    p_stream.add_argument("--in", dest="inp", required=True)
    p_stream.add_argument("--out", default=None,
                          help="triples output dir (mode=triples)")
    p_stream.add_argument("--checkpoint", required=True)
    p_stream.add_argument(
        "--mode", choices=["triples", "upsert"], default="triples",
        help="triples: append-only sink; upsert: maintain the KG catalog "
             "through run_upsert (availableNow batch of the current "
             "drops: new urls appended, urls whose content changed "
             "copy-on-write rewritten)")
    p_stream.add_argument("--workdir", default=None,
                          help="KG catalog dir (mode=upsert)")

    p_metrics = sub.add_parser(
        "metrics", help="per-stage / per-partition lineage metrics")
    p_metrics.add_argument("--workdir", required=True)
    p_metrics.add_argument("--stage", default=None,
                           help="one stage name (default: all committed)")

    p_compact = sub.add_parser(
        "compact", help="rewrite_data_files: bin-pack a stage table's "
                        "small files (fast-append debris) into one "
                        "right-sized file per partition; prior snapshots "
                        "stay time-travelable until 'expire'")
    p_compact.add_argument("--workdir", required=True)
    p_compact.add_argument("--stage", default="triples")
    p_compact.add_argument("--max-records-per-file", type=int, default=None)

    p_rollback = sub.add_parser(
        "rollback", help="rollback_to_snapshot: make an earlier snapshot "
                         "current again (O(metadata) undo of a bad "
                         "upsert; requires its files not yet expired). "
                         "Rolling back 'triples' also rolls back the "
                         "paired url_fps snapshot (same version — the "
                         "two commit in lockstep), otherwise a later "
                         "byte-identical recrawl would be skipped by the "
                         "fingerprint probe and the KG would silently "
                         "stay on the rolled-back state; --keep-fps "
                         "opts out.")
    p_rollback.add_argument("--workdir", required=True)
    p_rollback.add_argument("--stage", default="triples")
    p_rollback.add_argument("--version", type=int, required=True)
    p_rollback.add_argument("--keep-fps", action="store_true",
                            help="do NOT roll back url_fps alongside "
                                 "triples")

    p_expire = sub.add_parser(
        "expire", help="expire_snapshots: keep the newest K snapshots and "
                       "vacuum data files nothing retained references")
    p_expire.add_argument("--workdir", required=True)
    p_expire.add_argument("--stage", default="triples")
    p_expire.add_argument("--keep-last", type=int, default=1)

    args = ap.parse_args(argv)
    if args.cmd == "stream":
        if args.mode == "triples" and not args.out:
            ap.error("--out is required with --mode triples")
        if args.mode == "upsert" and not args.workdir:
            ap.error("--workdir is required with --mode upsert")
    if args.cmd in ("run", "upsert"):
        # fail fast with an argparse-style message for plain local paths
        # (scheme-qualified paths — hdfs://, s3a:// — defer to Spark), but
        # only when the run is actually local: with a cluster master or a
        # Hadoop config dir present, scheme-less paths resolve against
        # fs.defaultFS (and under --deploy-mode cluster this code runs in
        # the driver container, not the submitting machine), so a local
        # os.path.exists probe is meaningless there
        import os
        runs_local = (
            os.environ.get("SPARK_GRAFT_MASTER", "local").startswith("local")
            and not os.environ.get("HADOOP_CONF_DIR")
            and not os.environ.get("YARN_CONF_DIR"))
        if ("://" not in args.pages and runs_local
                and not os.path.exists(args.pages)):
            ap.error(f"--pages path does not exist: {args.pages}")

    if args.cmd == "expire":
        # pure metadata + local file surgery — no Spark session needed
        print(json.dumps(Catalog(args.workdir).expire_snapshots(
            args.stage, keep_last=args.keep_last)))
        return 0

    if args.cmd == "metrics":
        # pure manifest read — no Spark session (works on a laptop against
        # a synced workdir; the manifests ARE the metrics surface)
        cat = Catalog(args.workdir)
        stages = ([args.stage] if args.stage
                  else sorted(cat.committed_stages()))
        out = {}
        for s in stages:
            m = cat.manifest(s)
            out[s] = {
                "rows": m["rows"],
                "checksum": m["checksum"],
                "wall_ms": m["wall_ms"],
                "n_partitions": len(m["partitions"]),
                "n_data_files": len(cat._latest_files(s)),
                "snapshots": [h["version"] for h in cat.history(s)],
                "partitions": m["partitions"],
            }
        print(json.dumps(out, indent=1))
        return 0

    spark = get_spark("irkg-cli")

    if args.cmd == "synth":
        synth.synthesize_pages(spark, args.n, seed=args.seed) \
            .write.mode("overwrite").parquet(args.out)
        print(json.dumps({"written": args.out, "n": args.n}))
    elif args.cmd == "run":
        from inclusionreferenceskg_spark.plans.checkpoint import (
            _page_fps,
            latest_per_url,
        )
        pages = spark.read.parquet(args.pages)
        if not args.no_url_dedup:
            pages = latest_per_url(pages)
        triples = run_checkpointed(spark, pages, args.workdir,
                                   resume=not args.no_resume)
        cat = Catalog(args.workdir)
        # commit content fingerprints so a later `upsert` can skip
        # unchanged urls instead of conservatively rewriting everything
        if not cat.is_complete("url_fps"):
            cat.write("url_fps", _page_fps(pages), bucket_url="url")
        print(json.dumps({
            "triples": triples.count(),
            "manifests": {s: cat.manifest(s)["rows"]
                          for s in ("nodes", "qualifiers", "resolved",
                                    "graph_rows", "triples")},
        }))
    elif args.cmd == "upsert":
        from inclusionreferenceskg_spark.plans.checkpoint import run_upsert
        pages = spark.read.parquet(args.pages)
        triples = run_upsert(spark, pages, args.workdir)
        cat = Catalog(args.workdir)
        print(json.dumps({
            "triples": triples.count(),
            "url_fps": cat.manifest("url_fps")["rows"],
            "snapshots": [h["version"]
                          for h in cat.history("triples")],
        }))
    elif args.cmd == "rollback":
        cat = Catalog(args.workdir)
        res = cat.rollback(spark, args.stage, args.version)
        if args.stage == "triples" and not args.keep_fps:
            try:
                res["url_fps"] = cat.rollback(spark, "url_fps",
                                              args.version)
            except (FileNotFoundError, OSError) as exc:
                # url_fps has no such snapshot (e.g. table bootstrapped
                # without fingerprints) — report instead of failing the
                # triples rollback that already committed
                res["url_fps"] = {"skipped": str(exc)}
        print(json.dumps(res))
    elif args.cmd == "compact":
        print(json.dumps(Catalog(args.workdir).compact(
            spark, args.stage,
            max_records_per_file=args.max_records_per_file)))
    elif args.cmd == "stream":
        if args.mode == "triples":
            q = run_stream_to_triples(spark, args.inp, args.out,
                                      args.checkpoint)
            q.awaitTermination()
        else:
            q = run_stream_upsert(spark, args.inp, args.workdir,
                                  args.checkpoint)
            q.awaitTermination()
            cat = Catalog(args.workdir)
            print(json.dumps({
                "triples": cat.manifest("triples")["rows"],
                "snapshots": [h["version"]
                              for h in cat.history("triples")],
            }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

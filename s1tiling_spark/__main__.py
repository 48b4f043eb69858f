"""CLI job runner — the spark-submit entry point.

Deployment mode mandated by the north rule::

    spark-submit --py-files /tmp/s1tiling_spark_pyfiles.zip \
        -m ... job.py  # or simply:
    python -m s1tiling_spark run --input <parquet_dir> --store <dir>

Subcommands:
  run        one incremental tier-pipeline run over the input table
  synth      materialize the deterministic synthetic sequence table
  expire     apply retention to a tier
  compact    physically apply MERGE-on-read to a tier (file rewrite);
             --expire-below E keeps snapshots >= E readable (0 = pure
             file compaction, full time travel)
  snapshots  list commits still present in a tier (time-travel catalog)
  files      file-level metadata table: rows/bytes/commit-seq range per
             parquet file, from footers only (Iceberg table.files)
  partitions partition-level summary: days spanned, files/rows/bytes
             and seq span per p_date (Iceberg table.partitions;
             footers only; 1d/hist_1d partitions span a 30d bucket)
  backfill   bucket-aligned window recompute from a corrected raw table
  rollback   void commits after a snapshot for current reads
             (Iceberg rollback_to_snapshot; metadata-only)
  tag        named snapshot refs: set | list | drop
  metrics    dump the metrics table

The reference's CLI analog is ``S1Processor cfg`` (`/root/reference/
s1tiling/S1Processor.py:153-168`): parse config → register pipelines →
process. Here config is argv, pipelines are the tier cascade, process
is TierPipeline.run.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="s1tiling_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    runp = sub.add_parser("run", help="incremental tier pipeline run")
    runp.add_argument("--input", required=True, help="sequence table parquet dir")
    runp.add_argument("--store", required=True, help="tier store base dir")
    runp.add_argument("--no-hist", action="store_true")
    runp.add_argument("--no-compress", action="store_true")

    synth = sub.add_parser("synth", help="materialize synthetic sequences")
    synth.add_argument("--rows", type=int, required=True)
    synth.add_argument("--out", required=True)
    synth.add_argument("--seed", type=int, default=42)

    exp = sub.add_parser("expire", help="retention: expire rows dated before date")
    exp.add_argument("--store", required=True)
    exp.add_argument("--tier", required=True)
    exp.add_argument("--before", required=True, help="YYYY-MM-DD")

    ret = sub.add_parser(
        "retention",
        help="apply a downsample-guarded retention policy "
        "(rule = tier:keep_days[:guard_tier], e.g. 1h:7:1d 1d:90:30d)",
    )
    ret.add_argument("--store", required=True)
    ret.add_argument("--as-of", required=True, help="YYYY-MM-DD policy anchor")
    ret.add_argument("rules", nargs="+", help="tier:keep_days[:guard_tier]")

    vac = sub.add_parser(
        "vacuum", help="remove orphan files no commit references (age-guarded)"
    )
    vac.add_argument("--store", required=True)
    vac.add_argument("--tier", required=True)
    vac.add_argument(
        "--older-than", type=float, default=None, help="age guard in seconds"
    )

    met = sub.add_parser("metrics", help="dump metrics table")
    met.add_argument("--store", required=True)

    cmp_ = sub.add_parser(
        "compact", help="physically apply MERGE-on-read to a tier"
    )
    cmp_.add_argument("--store", required=True)
    cmp_.add_argument("--tier", required=True)
    cmp_.add_argument(
        "--keys",
        default=None,
        help="comma-separated natural key (hist tables add 'bin'; "
        "default: the store's DEFAULT_KEYS)",
    )
    cmp_.add_argument(
        "--expire-below",
        type=int,
        default=None,
        help="keep every snapshot >= this commit_seq readable "
        "(default: expire all history, newest version per key only)",
    )
    cmp_.add_argument(
        "--cluster-by",
        default=None,
        help="comma-separated sort-order columns: cluster rows inside "
        "each rewritten file so row-group stats prune on these keys",
    )
    cmp_.add_argument(
        "--zorder",
        action="store_true",
        help="Morton-interleave the --cluster-by sort so row-group "
        "stats prune on EVERY cluster column, not just the leading one",
    )
    cmp_.add_argument(
        "--mode",
        choices=("latest", "sum"),
        default="latest",
        help="merge discipline: latest = newest version per key wins "
        "(upsert tiers); sum = fold partials by summing --sum-cols "
        "(additive tiers whose appends are partial aggregates)",
    )
    cmp_.add_argument(
        "--sum-cols",
        default=None,
        help="comma-separated columns to sum in --mode sum",
    )
    cmp_.add_argument(
        "--if-ratio-above",
        type=float,
        default=None,
        help="only rewrite when row versions per key reach this ratio "
        "(the PERF.md par.16 maintenance policy); probe is one cheap "
        "count + approx_count_distinct pass",
    )

    snap = sub.add_parser("snapshots", help="list commits present in a tier")
    snap.add_argument("--store", required=True)
    snap.add_argument("--tier", required=True)

    fls = sub.add_parser(
        "files", help="file-level metadata table (Iceberg table.files analog)"
    )
    fls.add_argument("--store", required=True)
    fls.add_argument("--tier", required=True)

    pts = sub.add_parser(
        "partitions",
        help="partition-level summary: days spanned (p_date to end_date), "
        "files/rows/bytes/seq span per p_date (Iceberg table.partitions "
        "analog; footers only; 1d/hist_1d partitions span a 30d bucket)",
    )
    pts.add_argument("--store", required=True)
    pts.add_argument("--tier", required=True)

    bf = sub.add_parser(
        "backfill",
        help="bucket-aligned window recompute from a corrected raw table",
    )
    bf.add_argument("--store", required=True)
    bf.add_argument("--input", required=True, help="corrected raw parquet dir")
    bf.add_argument("--from-ts", required=True, help="ISO timestamp (inclusive)")
    bf.add_argument("--to-ts", required=True, help="ISO timestamp (exclusive)")
    bf.add_argument("--tiers", default="1h,1d,30d")

    rb = sub.add_parser(
        "rollback",
        help="void commits after a snapshot for current reads "
        "(metadata-only; the next full compact applies it physically)",
    )
    rb.add_argument("--store", required=True)
    rb.add_argument("--tier", required=True)
    rb.add_argument("--to-seq", type=int, required=True)

    tg = sub.add_parser("tag", help="named snapshot refs: set | list | drop")
    tg.add_argument("action", choices=("set", "list", "drop"))
    tg.add_argument("--store", required=True)
    tg.add_argument("--name", help="tag name (set/drop)")
    tg.add_argument("--seq", type=int, default=None, help="default: current")
    tg.add_argument("--replace", action="store_true")

    wap = sub.add_parser(
        "wap",
        help="write-audit-publish staged commits: stage | audit | "
        "publish | abandon (Iceberg branch + cherry-pick analog)",
    )
    wap.add_argument("action", choices=("stage", "audit", "publish", "abandon"))
    wap.add_argument("--store", required=True)
    wap.add_argument("--tier", required=True)
    wap.add_argument("--audit-id", required=True)
    wap.add_argument("--input", help="candidate parquet dir (stage)")
    wap.add_argument(
        "--show", type=int, default=20, help="rows to print (audit)"
    )

    brp = sub.add_parser(
        "branch",
        help="writable branch refs over the WAP layer: create | write | "
        "read | merge | drop | list (Iceberg branch lifecycle analog)",
    )
    brp.add_argument(
        "action", choices=("create", "write", "read", "merge", "drop", "list")
    )
    brp.add_argument("--store", required=True)
    brp.add_argument("--tier", required=True)
    brp.add_argument("--name", help="branch name (all but list)")
    brp.add_argument("--input", help="commit parquet dir (write)")
    brp.add_argument(
        "--show", type=int, default=20, help="rows to print (read)"
    )

    mrg = sub.add_parser(
        "merge",
        help="MERGE INTO a tier: matched-update + unmatched-insert "
        "(newest-wins append), optional not-matched-by-source delete",
    )
    mrg.add_argument("--store", required=True)
    mrg.add_argument("--tier", required=True)
    mrg.add_argument("--input", required=True, help="source snapshot parquet dir")
    mrg.add_argument(
        "--keys", default=None,
        help="comma-separated natural key (default bucket_start,source)",
    )
    mrg.add_argument(
        "--sync", action="store_true",
        help="also delete tier keys absent from the source (snapshot sync)",
    )

    args = ap.parse_args(argv)

    from s1tiling_spark.session import build_session

    spark = build_session(app_name=f"s1tiling-spark-{args.cmd}")
    try:
        if args.cmd == "run":
            from s1tiling_spark.plans.store import TierStore
            from s1tiling_spark.plans.tiers import TierPipeline, TierPipelineConfig

            store = TierStore(spark, args.store)
            cfg = TierPipelineConfig(
                hist=not args.no_hist, compress=not args.no_compress
            )
            res = TierPipeline(store, cfg).run(spark.read.parquet(args.input))
            print(json.dumps(res))
        elif args.cmd == "synth":
            from s1tiling_spark.sources.synth import synth_sequences

            synth_sequences(spark, args.rows, seed=args.seed).write.mode(
                "overwrite"
            ).parquet(args.out)
            print(json.dumps({"rows": args.rows, "out": args.out}))
        elif args.cmd == "expire":
            from s1tiling_spark.plans.store import TierStore

            dropped = TierStore(spark, args.store).expire(args.tier, args.before)
            print(json.dumps({"dropped_partitions": dropped}))
        elif args.cmd == "retention":
            import datetime as dt

            from s1tiling_spark.plans.retention import (
                RetentionRule,
                apply_retention_policy,
            )
            from s1tiling_spark.plans.store import TierStore

            rules = []
            for spec in args.rules:
                parts = spec.split(":")
                if len(parts) not in (2, 3):
                    raise SystemExit(f"bad rule {spec!r}: tier:keep_days[:guard_tier]")
                rules.append(
                    RetentionRule(
                        parts[0],
                        None if parts[1] in ("", "forever") else int(parts[1]),
                        parts[2] if len(parts) == 3 else None,
                    )
                )
            reports = apply_retention_policy(
                TierStore(spark, args.store),
                rules,
                dt.date.fromisoformat(args.as_of),
            )
            print(json.dumps({"rules": reports}))
        elif args.cmd == "vacuum":
            from s1tiling_spark.plans.store import STAGING_GC_AGE_S, TierStore

            rep = TierStore(spark, args.store).vacuum(
                args.tier,
                STAGING_GC_AGE_S if args.older_than is None else args.older_than,
            )
            print(json.dumps(rep))
        elif args.cmd == "compact":
            from s1tiling_spark.plans.store import DEFAULT_KEYS, TierStore

            def _csv(value, default):
                if not value:
                    return default
                return tuple(c.strip() for c in value.split(",") if c.strip())

            if args.sum_cols and args.mode != "sum":
                ap.error(
                    "--sum-cols without --mode sum would run the "
                    "newest-wins rewrite and DELETE additive partials"
                )
            if args.zorder and not args.cluster_by:
                ap.error(
                    "--zorder needs --cluster-by: without cluster "
                    "columns there is nothing to interleave and the "
                    "rewrite would silently skip clustering"
                )
            store = TierStore(spark, args.store)
            kwargs = dict(
                keys=_csv(args.keys, DEFAULT_KEYS),
                expire_below=args.expire_below,
                cluster_by=_csv(args.cluster_by, None),
                mode=args.mode,
                sum_cols=_csv(args.sum_cols, ()),
                zorder=args.zorder,
            )
            if args.if_ratio_above is not None:
                keys = kwargs.pop("keys")
                stats = store.maybe_compact(
                    args.tier,
                    keys=keys,
                    max_version_ratio=args.if_ratio_above,
                    **kwargs,
                )
            else:
                stats = store.compact(args.tier, **kwargs)
            print(json.dumps(stats))
        elif args.cmd == "snapshots":
            from s1tiling_spark.plans.store import TierStore

            store = TierStore(spark, args.store)
            snaps = store.snapshots(args.tier)
            for row in (snaps.collect() if snaps is not None else []):
                print(json.dumps(row.asDict(), default=str))
            print(
                json.dumps({"min_as_of": store.min_as_of(args.tier)}),
                file=sys.stderr,
            )
        elif args.cmd == "files":
            from s1tiling_spark.plans.store import TierStore

            for row in TierStore(spark, args.store).files(args.tier):
                print(json.dumps(row))
        elif args.cmd == "partitions":
            from s1tiling_spark.plans.store import TierStore

            for row in TierStore(spark, args.store).partitions(args.tier):
                print(json.dumps(row))
        elif args.cmd == "backfill":
            from datetime import datetime

            from s1tiling_spark.plans.backfill import backfill_stat_tiers
            from s1tiling_spark.plans.store import TierStore

            stats = backfill_stat_tiers(
                TierStore(spark, args.store),
                spark.read.parquet(args.input),
                datetime.fromisoformat(args.from_ts),
                datetime.fromisoformat(args.to_ts),
                tiers=tuple(t.strip() for t in args.tiers.split(",") if t.strip()),
            )
            print(json.dumps(stats))
        elif args.cmd == "rollback":
            from s1tiling_spark.plans.store import TierStore

            print(
                json.dumps(
                    TierStore(spark, args.store).rollback(args.tier, args.to_seq)
                )
            )
        elif args.cmd == "tag":
            from s1tiling_spark.plans.store import TierStore

            store = TierStore(spark, args.store)
            if args.action == "list":
                print(json.dumps(store.tags()))
            elif not args.name:
                raise SystemExit("tag set/drop requires --name")
            elif args.action == "set":
                seq = store.tag(args.name, seq=args.seq, replace=args.replace)
                print(json.dumps({"name": args.name, "seq": seq}))
            else:
                store.drop_tag(args.name)
                print(json.dumps({"dropped": args.name}))
        elif args.cmd == "wap":
            from s1tiling_spark.plans.store import TierStore, new_run_id

            store = TierStore(spark, args.store)
            if args.action == "stage":
                if not args.input:
                    raise SystemExit("wap stage requires --input")
                seq = store.stage(
                    args.tier,
                    spark.read.parquet(args.input),
                    new_run_id(),
                    args.audit_id,
                )
                print(json.dumps({"audit_id": args.audit_id, "staged_seq": seq}))
            elif args.action == "audit":
                df = store.audit_read(args.tier, args.audit_id)
                rows = [] if df is None else df.limit(args.show).collect()
                for row in rows:
                    print(json.dumps(row.asDict(), default=str))
            elif args.action == "publish":
                pub = store.publish(args.tier, args.audit_id)
                print(json.dumps({"audit_id": args.audit_id, "published_seq": pub}))
            else:
                store.abandon(args.tier, args.audit_id)
                print(json.dumps({"audit_id": args.audit_id, "abandoned": True}))
        elif args.cmd == "merge":
            from s1tiling_spark.plans.store import DEFAULT_KEYS, TierStore, new_run_id

            store = TierStore(spark, args.store)
            keys = (
                tuple(c.strip() for c in args.keys.split(",") if c.strip())
                if args.keys
                else DEFAULT_KEYS
            )
            res = store.merge_into(
                args.tier,
                spark.read.parquet(args.input),
                new_run_id(),
                keys=keys,
                delete_unmatched=args.sync,
            )
            print(json.dumps(res))
        elif args.cmd == "branch":
            from s1tiling_spark.plans.store import TierStore, new_run_id

            store = TierStore(spark, args.store)
            if args.action != "list" and not args.name:
                raise SystemExit(f"branch {args.action} requires --name")
            if args.action == "create":
                base = store.create_branch(args.tier, args.name)
                print(json.dumps({"branch": args.name, "base_seq": base}))
            elif args.action == "write":
                if not args.input:
                    raise SystemExit("branch write requires --input")
                seq = store.write_branch(
                    args.tier,
                    args.name,
                    spark.read.parquet(args.input),
                    new_run_id(),
                )
                print(json.dumps({"branch": args.name, "staged_seq": seq}))
            elif args.action == "read":
                df = store.read(args.tier, branch=args.name)
                rows = [] if df is None else df.limit(args.show).collect()
                for row in rows:
                    print(json.dumps(row.asDict(), default=str))
            elif args.action == "merge":
                pubs = store.merge_branch(args.tier, args.name)
                print(json.dumps({"branch": args.name, "published_seqs": pubs}))
            elif args.action == "drop":
                store.drop_branch(args.tier, args.name)
                print(json.dumps({"branch": args.name, "dropped": True}))
            else:
                print(json.dumps(store.branches(args.tier)))
        elif args.cmd == "metrics":
            from s1tiling_spark.plans.store import TierStore

            for row in TierStore(spark, args.store).refresh_state().get("metrics", []):
                print(json.dumps(row, default=str))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

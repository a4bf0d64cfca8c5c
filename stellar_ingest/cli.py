"""CLI entry points (SURVEY.md §3.1/§3.2; reference analogue: one-shot
CLI + long-running service [PK-med]).

Usage (spark-submit --py-files stellar_ingest.zip)::

    python -m stellar_ingest.cli backfill --ledger L --table T --checkpoint C \
        [--mode auto|cow|mor] [--fold-min-deltas K]
    python -m stellar_ingest.cli run      --ledger L --table T --checkpoint C \
        [--max-segments-per-part N] [--max-epochs K] [--salts auto|none|INT] \
        [--mode auto|cow|mor] [--fold-min-deltas K] \
        [--expire-every E --keep-last N [--older-than-ms MS]] [--gc-every G]
    python -m stellar_ingest.cli gen      --out L --convs N [--parts P]
    python -m stellar_ingest.cli show     --table T [--snapshot ID]
    python -m stellar_ingest.cli compact  --table T [--min-files N]
    python -m stellar_ingest.cli fold     --table T [--min-delta-commits K]
    python -m stellar_ingest.cli expire   --table T [--keep-last N] [--older-than-ms MS]
    python -m stellar_ingest.cli gc       --table T [--grace-ms MS]
    python -m stellar_ingest.cli changes  --table T --since SNAPSHOT_ID
    python -m stellar_ingest.cli lookup   --table T --key CONV_ID [--snapshot ID]
    python -m stellar_ingest.cli tag      --table T --name N [--snapshot ID] [--drop]
    python -m stellar_ingest.cli rescale  --table T --num-buckets N
    python -m stellar_ingest.cli evolve   --table T (--rename OLD:NEW | --widen COL:TYPE | --drop COL)
    python -m stellar_ingest.cli maintain --table T [--keep-last N] [--older-than-ms MS]
                                          [--min-delta-commits K] [--grace-ms MS]
"""

from __future__ import annotations

import argparse
import json
import sys


def _salts(v: str):
    if v == "auto":
        return "auto"
    if v in ("none", "0", ""):
        return None
    return int(v)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="stellar_ingest.cli")
    sub = ap.add_subparsers(dest="cmd", required=True)

    common = argparse.ArgumentParser(add_help=False)
    common.add_argument("--cores", type=int, default=None)
    common.add_argument("--shuffle-partitions", type=int, default=None)

    for name in ("backfill", "run"):
        p = sub.add_parser(name, parents=[common])
        p.add_argument("--ledger", required=True)
        p.add_argument("--table", required=True)
        p.add_argument("--checkpoint", required=True)
        p.add_argument("--num-buckets", type=int, default=64)
        p.add_argument("--salts", type=_salts, default="auto")
        p.add_argument(
            "--mode",
            choices=("auto", "cow", "mor"),
            default="auto" if name == "run" else "cow",
        )
        p.add_argument("--fold-min-deltas", type=int, default=None)
        p.add_argument("--fold-max-buckets", type=int, default=None)
        if name == "run":
            p.add_argument("--branch", default=None)
            p.add_argument("--max-segments-per-part", type=int, default=None)
            p.add_argument("--max-epochs", type=int, default=None)
            p.add_argument("--expire-every", type=int, default=None)
            p.add_argument("--keep-last", type=int, default=10)
            p.add_argument("--older-than-ms", type=int, default=None)
            p.add_argument("--gc-every", type=int, default=None)
            p.add_argument("--gc-grace-ms", type=int, default=24 * 3600 * 1000)

    g = sub.add_parser("gen", parents=[common])
    g.add_argument("--out", required=True)
    g.add_argument("--convs", type=int, required=True)
    g.add_argument("--parts", type=int, default=8)
    g.add_argument("--seed", type=int, default=42)

    s = sub.add_parser("show")
    s.add_argument("--table", required=True)
    s.add_argument("--snapshot", type=int, default=None)

    c = sub.add_parser("compact", parents=[common])
    c.add_argument("--table", required=True)
    c.add_argument("--min-files", type=int, default=2)

    e = sub.add_parser("expire")
    e.add_argument("--table", required=True)
    e.add_argument("--keep-last", type=int, default=2)
    e.add_argument("--older-than-ms", type=int, default=None)

    f = sub.add_parser("fold", parents=[common])
    f.add_argument("--table", required=True)
    f.add_argument("--min-delta-commits", type=int, default=2)
    f.add_argument("--max-buckets", type=int, default=None)

    gc = sub.add_parser("gc")
    gc.add_argument("--table", required=True)
    gc.add_argument("--grace-ms", type=int, default=24 * 3600 * 1000)

    ch = sub.add_parser("changes", parents=[common])
    ch.add_argument("--table", required=True)
    ch.add_argument("--since", type=int, required=True)
    ch.add_argument("--limit", type=int, default=20)

    lk = sub.add_parser("lookup")
    lk.add_argument("--table", required=True)
    lk.add_argument("--key", required=True)
    lk.add_argument("--snapshot", type=int, default=None)

    tg = sub.add_parser("tag")
    tg.add_argument("--table", required=True)
    tg.add_argument("--name", required=True)
    tg.add_argument("--snapshot", type=int, default=None)
    tg.add_argument("--drop", action="store_true")

    rs = sub.add_parser("rescale")
    rs.add_argument("--table", required=True)
    rs.add_argument("--num-buckets", type=int, required=True)

    ev = sub.add_parser("evolve")
    ev.add_argument("--table", required=True)
    g2 = ev.add_mutually_exclusive_group(required=True)
    g2.add_argument("--rename", metavar="OLD:NEW")
    g2.add_argument("--widen", metavar="COL:TYPE")
    g2.add_argument("--drop", metavar="COL")

    pb = sub.add_parser("publish", parents=[common])
    pb.add_argument("--table", required=True)
    pb.add_argument("--branch", required=True)
    pb.add_argument("--allow-quarantine", action="store_true")

    mt = sub.add_parser("maintain", parents=[common])
    mt.add_argument("--table", required=True)
    mt.add_argument("--min-delta-commits", type=int, default=2)
    mt.add_argument("--min-files", type=int, default=2)
    mt.add_argument("--keep-last", type=int, default=10)
    mt.add_argument("--older-than-ms", type=int, default=None)
    mt.add_argument("--grace-ms", type=int, default=24 * 3600 * 1000)

    args = ap.parse_args(argv)
    from .lake.core import IceboxTable
    from .lake.maintain import (
        audit_and_publish, compact, delta_counts, expire_snapshots, fold_deltas, gc_orphans,
    )
    from .lake.read import lookup_fast, read_changes

    if args.cmd == "evolve":
        t = IceboxTable(args.table)
        if args.rename:
            old, new = args.rename.split(":", 1)
            sid = t.rename_column(old, new)
        elif args.widen:
            col, typ = args.widen.split(":", 1)
            sid = t.widen_column(col, typ)
        else:
            sid = t.drop_column(args.drop)
        print(
            json.dumps(
                {"schema_id": sid, "columns": [f["name"] for f in t.schema_fields()]}
            )
        )
        return 0

    if args.cmd == "rescale":
        t = IceboxTable(args.table)
        spec = t.rescale_buckets(args.num_buckets)
        print(
            json.dumps(
                {"spec_id": spec, "num_buckets": args.num_buckets,
                 "specs": t.bucket_specs()}
            )
        )
        return 0

    if args.cmd == "publish":
        # pure metadata audit + atomic fast-forward; no SparkSession
        t = IceboxTable(args.table)
        out = audit_and_publish(
            None, t, args.branch,
            require_no_quarantine=not args.allow_quarantine,
        )
        print(json.dumps(out))
        return 0

    if args.cmd == "tag":
        t = IceboxTable(args.table)
        if args.drop:
            t.drop_tag(args.name)
            print(json.dumps({"dropped": args.name, "refs": t.refs()}))
        else:
            sid = t.tag(args.name, args.snapshot)
            print(json.dumps({"tagged": args.name, "snapshot_id": sid}))
        return 0

    if args.cmd == "lookup":
        # driver-side pyarrow read: no SparkSession unless the key needs
        # the Spark fallback (lake/read.py::lookup_many_fast)
        t = IceboxTable(args.table)
        pdf = lookup_fast(None, t, args.key, snapshot_id=args.snapshot)
        for r in pdf.head(50).to_dict("records"):
            print(r)
        print(json.dumps({"rows": len(pdf)}))
        return 0

    if args.cmd == "show":
        t = IceboxTable(args.table).pinned()
        out = {
            "current_snapshot_id": t.head_id(),
            "num_buckets": t.num_buckets,
            "schema": [f["name"] for f in t.schema_fields()],
            "snapshots": [
                {k: s_[k] for k in ("snapshot_id", "operation", "total_rows", "summary")}
                for s_ in t.snapshots()
            ],
        }
        print(json.dumps(out, indent=1))
        return 0

    if args.cmd == "expire":
        out = expire_snapshots(
            IceboxTable(args.table),
            keep_last=args.keep_last,
            older_than_ms=args.older_than_ms,
        )
        print(json.dumps(out))
        return 0

    if args.cmd == "gc":
        out = gc_orphans(IceboxTable(args.table), grace_ms=args.grace_ms)
        print(json.dumps(out))
        return 0

    from .session import get_spark

    spark = get_spark(
        f"stellar-{args.cmd}", cores=args.cores, shuffle_partitions=args.shuffle_partitions
    )

    if args.cmd == "maintain":
        # the full maintenance pass, in dependency order: fold MoR debt,
        # compact small files, expire old snapshots (+ metadata version
        # prune), then GC orphans — one verb for a cron slot
        t = IceboxTable(args.table)
        folded = fold_deltas(spark, t, min_delta_commits=args.min_delta_commits)
        compacted = compact(spark, t, min_files_per_bucket=args.min_files)
        exp = expire_snapshots(
            t, keep_last=args.keep_last, older_than_ms=args.older_than_ms
        )
        gc = gc_orphans(t, grace_ms=args.grace_ms)
        print(
            json.dumps(
                {
                    "fold_snapshot": folded,
                    "compact_snapshot": compacted,
                    **exp,
                    **gc,
                    "files": len(t.files()),
                    "snapshots": len(t.snapshots()),
                }
            )
        )
        return 0

    if args.cmd == "gen":
        from .gen.changelog import generate_ledger

        ev = generate_ledger(
            spark, args.out, n_convs=args.convs, parts=args.parts, seed=args.seed
        )
        print(json.dumps({"events": ev.count(), "out": args.out}))
        return 0

    if args.cmd == "compact":
        t = IceboxTable(args.table)
        sid = compact(spark, t, min_files_per_bucket=args.min_files)
        print(json.dumps({"snapshot_id": sid, "files": len(t.files())}))
        return 0

    if args.cmd == "fold":
        t = IceboxTable(args.table)
        sid = fold_deltas(
            spark,
            t,
            min_delta_commits=args.min_delta_commits,
            max_buckets=args.max_buckets,
        )
        remaining = sum(c["commits"] for c in delta_counts(t).values())
        print(json.dumps({"snapshot_id": sid, "remaining_delta_commits": remaining}))
        return 0

    if args.cmd == "changes":
        df = read_changes(spark, IceboxTable(args.table), args.since)
        n = df.count()
        df.show(args.limit, truncate=40)
        print(json.dumps({"changed_rows": n, "since": args.since}))
        return 0

    from .cdc.runner import backfill, run_increment

    kwargs = dict(
        salts=args.salts,
        num_buckets=args.num_buckets,
        mode=args.mode,
        fold_min_deltas=args.fold_min_deltas,
        fold_max_buckets=args.fold_max_buckets,
    )
    if args.cmd == "backfill":
        recs = backfill(spark, args.ledger, args.table, args.checkpoint, **kwargs)
    else:
        recs = run_increment(
            spark,
            args.ledger,
            args.table,
            args.checkpoint,
            max_segments_per_part=args.max_segments_per_part,
            max_epochs=args.max_epochs,
            expire_every=args.expire_every,
            keep_last=args.keep_last,
            older_than_ms=args.older_than_ms,
            gc_every=args.gc_every,
            gc_grace_ms=args.gc_grace_ms,
            branch=args.branch,
            **kwargs,
        )
    total = sum(r["rows"] for r in recs)
    epochs = sorted({r["epoch"] for r in recs})
    print(json.dumps({"epochs": epochs, "rows": total, "records": len(recs)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

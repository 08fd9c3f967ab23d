"""Command-line entry point: run registered queries, ad-hoc Spark SQL, or
Athena/Trino-dialect SQL against the testdata tables.

    python -m web_analytics_on_aws_spark list
    python -m web_analytics_on_aws_spark query tpch_q1_pricing_summary
    python -m web_analytics_on_aws_spark sql   "SELECT COUNT(*) FROM events"
    python -m web_analytics_on_aws_spark trino 'SELECT "event_type", count(*) FROM events GROUP BY 1'

Options: --sf DIR (default /root/testdata/sf0.01), --limit N (default 20).
Tables region nation customer supplier part orders lineitem events
documents embeddings are registered as temp views for sql/trino.
"""

from __future__ import annotations

import argparse
import sys


def _demo(workdir: str | None) -> int:
    """Replay the reference README's walkthrough end-to-end in one process:
    HTTP ingest → streaming validate/split → hive DDL + MSCK → named
    queries → hourly CTAS compaction → ACID snapshot ingest + DML + time
    travel → Athena-dialect query. Mirrors web-analytics-parquet/README.md
    'Run Test' + web-analytics-iceberg/README.md steps, minus AWS."""
    import datetime as dt
    import json
    import tempfile
    import urllib.request

    from web_analytics_on_aws_spark.operators.compaction import compact_hour
    from web_analytics_on_aws_spark.plans.named_queries import (
        named_query_statements,
        run_named_query,
    )
    from web_analytics_on_aws_spark.schema import WEB_LOG_SCHEMA
    from web_analytics_on_aws_spark.session import get_spark
    from web_analytics_on_aws_spark.sources import snapshots
    from web_analytics_on_aws_spark.sources.generator import write_landing_batch
    from web_analytics_on_aws_spark.sources.http_shim import IngestShim
    from web_analytics_on_aws_spark.streaming.ingest_stream import run_ingest_once
    from web_analytics_on_aws_spark.streaming.snapshot_sink import (
        start_snapshot_ingest,
    )

    base_dir = workdir or tempfile.mkdtemp(prefix="weblog-demo-")
    spark = get_spark(app_name="demo")
    spark.sparkContext.setLogLevel("ERROR")
    base_hour = dt.datetime(2026, 3, 2, 10)

    print(f"demo workdir: {base_dir}")
    print("[1] ingest API (S1-S3): PUT records through the HTTP shim")
    shim = IngestShim(f"{base_dir}/streams").start()
    try:
        rec = {
            "userId": "u-demo", "sessionId": "s" * 24, "referrer": None,
            "userAgent": "UA", "ip": "10.0.0.1", "hostname": "shop.example",
            "os": "Linux", "timestamp": "2026-03-02T10:00:00Z", "uri": "/p/1",
        }
        req = urllib.request.Request(
            f"{shim.url}/streams/weblogs/record",
            data=json.dumps({"data": json.dumps(rec)}).encode(),
            method="PUT",
        )
        print("    put-record →", json.load(urllib.request.urlopen(req)))
        streams = json.load(urllib.request.urlopen(f"{shim.url}/streams"))
        print("    list-streams →", streams)
    finally:
        shim.stop()
    write_landing_batch(
        spark, f"{base_dir}/streams/weblogs", 200,
        base_hour=base_hour, invalid_every=25,
    )
    print("    landed 1 + 200 records (every 25th wire-invalid)")

    print("[2] streaming validate/split (S6/T1-T3/P3): landing → raw + error")
    run_ingest_once(
        spark, f"{base_dir}/streams/weblogs", f"{base_dir}/raw",
        f"{base_dir}/error", f"{base_dir}/ckpt", dialect="parquet",
    )
    n_raw = spark.read.text(f"{base_dir}/raw", recursiveFileLookup=True).count()
    n_err = spark.read.text(f"{base_dir}/error", recursiveFileLookup=True).count()
    print(f"    raw zone {n_raw} rows, quarantine {n_err} rows")

    print("[3] hive catalog (D1-D7): named-query script over the raw zone")
    stmts = named_query_statements(
        "mydatabase", f"{base_dir}/raw", f"{base_dir}/curated"
    )
    head = run_named_query(spark, stmts["web_log_json"]).collect()
    print(f"    web_log_json script → COUNT(*) = {head[0][0]}")

    print("[4] hourly CTAS compaction (D5): JSON-lines hour → snappy parquet")
    # the raw zone is partitioned by ARRIVAL hour (Firehose semantics) —
    # discover the landed hour from the layout instead of assuming it
    import glob as _glob

    hour_dir = sorted(
        _glob.glob(f"{base_dir}/raw/year=*/month=*/day=*/hour=*")
    )[0]
    parts = dict(
        p.split("=") for p in hour_dir[len(base_dir) + 5 :].split("/")
    )
    arrival = dt.datetime(
        int(parts["year"]), int(parts["month"]), int(parts["day"]),
        int(parts["hour"]),
    )
    n_compacted = compact_hour(
        spark, f"{base_dir}/raw", f"{base_dir}/curated", arrival,
        WEB_LOG_SCHEMA,
    )
    run_named_query(spark, stmts["web_log_parquet"][:3])  # DDL + MSCK
    n_parquet = spark.sql("SELECT COUNT(*) FROM mydatabase.web_log_parquet").first()[0]
    print(f"    compacted {n_compacted} rows; parquet table sees {n_parquet}")

    print("[5] ACID table path (S9/T4/T5): snapshot ingest, DML, time travel")
    write_landing_batch(
        spark, f"{base_dir}/ice-landing", 120,
        base_hour=base_hour, dialect="iceberg", invalid_every=30,
    )
    q = start_snapshot_ingest(
        spark, f"{base_dir}/ice-landing", f"{base_dir}/ice-table",
        f"{base_dir}/ice-error", f"{base_dir}/ice-ckpt", available_now=True,
    )
    q.awaitTermination(120)
    tbl = f"{base_dir}/ice-table"
    v1 = snapshots.current_version(tbl)
    n1 = snapshots.read_snapshot(spark, tbl).count()
    deleted = snapshots.delete_where(
        spark, tbl, "event = 'visit'"
    )
    n2 = snapshots.read_snapshot(spark, tbl).count()
    n_tt = snapshots.read_snapshot(spark, tbl, version=v1).count()
    print(
        f"    v{v1}: {n1} rows → DELETE visits ({deleted['rows_matched']}) "
        f"→ {n2} rows; time travel to v{v1} still sees {n1} == {n_tt}"
    )
    print("    history:", [h["operation"] for h in snapshots.history(tbl)])

    print("[6] Athena-dialect insight query over the ACID table")
    from web_analytics_on_aws_spark.functions.trino_compat import trino_sql

    snapshots.read_snapshot(spark, tbl).createOrReplaceTempView("weblogs")
    out = trino_sql(
        spark,
        'SELECT "event", count(*) AS n, '
        "approx_distinct(user_id) AS uniq_users "
        'FROM weblogs GROUP BY "event" ORDER BY n DESC',
    )
    out.show(10, truncate=False)
    print("demo complete.")
    spark.stop()
    return 0


def _snapshot_cmd(args) -> int:
    """Inspection + maintenance over an ACID snapshot table:

        ... snapshot <path> history|snapshots|files|partitions|delete_files
        ... snapshot <path> stats|refs|manifests
        ... snapshot <path> changes <from-version>
        ... snapshot <path> zorder col1,col2
        ... snapshot <path> bloom  col1,col2
        ... snapshot <path> vacuum [retain_last]
        ... snapshot <path> restore <version>
        ... snapshot <path> compact-deletes
        ... snapshot <path> tag|drop-tag|branch|drop-branch|fast-forward <name>
        ... snapshot <path> clone|drop-clone <dst-path>
        ... snapshot <path> read-ref <name>
        ... snapshot <path> wap-publish|wap-discard <wap-id>
        ... snapshot <path> partition-spec [src:transform,... | none]
        ... snapshot <path> rename-col old:new
        ... snapshot <path> add-col name:type
        ... snapshot <path> drop-col name
    """
    from web_analytics_on_aws_spark.session import get_spark
    from web_analytics_on_aws_spark.sources import snapshots

    if not args.arg or not args.arg2:
        print("usage: snapshot <path> <subcommand> [arg]", file=sys.stderr)
        return 2
    path, sub = args.arg, args.arg2
    # changes/zorder/bloom require the third argument; fail with the usage
    # message, not an AttributeError traceback (ADVICE r2)
    _REF_VERBS = ("tag", "drop-tag", "branch", "drop-branch",
                  "fast-forward", "read-ref", "wap-publish", "wap-discard",
                  "clone", "drop-clone")
    if (sub in ("changes", "zorder", "bloom", "restore") or
            sub in _REF_VERBS) and not args.arg3:
        needs = {"changes": "<from-version>", "zorder": "<cols>",
                 "bloom": "<cols>", "restore": "<version>",
                 "clone": "<dst-path>", "drop-clone": "<dst-path>"}
        arg_name = needs.get(
            sub, "<wap-id>" if sub.startswith("wap-") else "<name>"
        )
        print(f"usage: snapshot <path> {sub} {arg_name}", file=sys.stderr)
        return 2
    if sub in ("changes", "restore") and not args.arg3.lstrip("-").isdigit():
        print(f"snapshot {sub}: version must be an integer, got "
              f"{args.arg3!r}", file=sys.stderr)
        return 2
    if sub == "vacuum" and args.arg3 and not args.arg3.isdigit():
        print(f"snapshot vacuum: retain_last must be an integer, got "
              f"{args.arg3!r}", file=sys.stderr)
        return 2
    # every dispatch below can hit a missing table / out-of-range version /
    # domain error; those are usage errors (exit 2 + message), not
    # tracebacks (ADVICE r2 + r3)
    try:
        if sub == "vacuum":
            n = snapshots.vacuum(path, retain_last=int(args.arg3 or 1))
            print({"deleted_files": n})
            return 0
        if sub in _REF_VERBS and sub != "read-ref":
            # metadata-only ref verbs — no Spark session needed (a
            # wap-publish under CHANGED constraints asks for one and is
            # surfaced as the usage error below)
            from web_analytics_on_aws_spark.sources import refs

            if sub == "tag":
                print({"tag": args.arg3,
                       "version": refs.create_tag(path, args.arg3)})
            elif sub == "drop-tag":
                refs.drop_tag(path, args.arg3)
                print({"dropped_tag": args.arg3})
            elif sub == "branch":
                print({"branch": args.arg3,
                       "path": refs.create_branch(path, args.arg3)})
            elif sub == "drop-branch":
                refs.drop_branch(path, args.arg3)
                print({"dropped_branch": args.arg3})
            elif sub == "fast-forward":
                print({"version": refs.fast_forward(path, args.arg3)})
            elif sub == "wap-publish":
                print({"version": refs.publish_wap(path, args.arg3)})
            elif sub == "wap-discard":
                refs.discard_wap(path, args.arg3)
                print({"discarded_wap": args.arg3})
            elif sub == "clone":
                print({"clone": args.arg3,
                       "base_version": refs.clone_table(path, args.arg3)})
            elif sub == "drop-clone":
                print({"dropped_clone": args.arg3,
                       "markers_removed": refs.drop_clone(path, args.arg3)})
            return 0
        spark = get_spark(app_name="snapshot-cli")
        spark.sparkContext.setLogLevel("ERROR")
        if sub in ("history", "snapshots", "files", "partitions",
                   "delete_files", "stats", "refs", "manifests"):
            snapshots.metadata_table(spark, path, sub).show(args.limit, truncate=False)
        elif sub == "restore":
            print({"version": snapshots.restore_version(spark, path, int(args.arg3))})
        elif sub == "compact-deletes":
            print(snapshots.compact_deletes(spark, path))
        elif sub == "changes":
            snapshots.table_changes(spark, path, int(args.arg3)).show(
                args.limit, truncate=False
            )
        elif sub == "read-ref":
            from web_analytics_on_aws_spark.sources import refs

            refs.read_ref(spark, path, args.arg3).show(
                args.limit, truncate=False
            )
        elif sub == "partition-spec":
            from web_analytics_on_aws_spark.sources import partitioning

            if args.arg3 is None:
                print(partitioning.table_partition_spec(path))
            else:
                # e.g. ts:day,user_id:bucket[4]  —  "none" unpartitions
                spec = (
                    []
                    if args.arg3.lower() == "none"
                    else [
                        tuple(part.split(":", 1))
                        for part in args.arg3.split(",")
                    ]
                )
                v = partitioning.set_partition_spec(spark, path, spec)
                print({"version": v, "spec": spec})
        elif sub in ("rename-col", "add-col", "drop-col"):
            from web_analytics_on_aws_spark.sources import evolution

            if sub == "rename-col":
                old, _, new = (args.arg3 or "").partition(":")
                if not old or not new:
                    print("usage: snapshot <path> rename-col old:new",
                          file=sys.stderr)
                    return 2
                v = evolution.evolve_rename_column(spark, path, old, new)
            elif sub == "add-col":
                name, _, typ = (args.arg3 or "").partition(":")
                if not name or not typ:
                    print("usage: snapshot <path> add-col name:type",
                          file=sys.stderr)
                    return 2
                v = evolution.evolve_add_column(spark, path, name, typ)
            else:
                if not args.arg3:
                    print("usage: snapshot <path> drop-col name",
                          file=sys.stderr)
                    return 2
                v = evolution.evolve_drop_column(spark, path, args.arg3)
            print({"version": v, "schema": evolution.table_schema(path)})
        elif sub == "zorder":
            print(snapshots.cluster_zorder(spark, path, args.arg3.split(",")))
        elif sub == "bloom":
            from web_analytics_on_aws_spark.sources.bloom_index import (
                build_bloom_index,
            )

            print(build_bloom_index(spark, path, args.arg3.split(",")))
        else:
            print(f"unknown snapshot subcommand {sub!r}", file=sys.stderr)
            return 2
    except (FileNotFoundError, ValueError, snapshots.CommitConflict) as e:
        # CommitConflict: fast-forward onto a diverged main / lost publish
        # race — an operator error to report, not a traceback
        print(f"snapshot {sub}: {e}", file=sys.stderr)
        return 2
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="web_analytics_on_aws_spark")
    ap.add_argument(
        "command", choices=["list", "query", "sql", "trino", "demo", "snapshot"]
    )
    ap.add_argument("arg", nargs="?", help="query name / SQL text / table path")
    ap.add_argument(
        "arg2", nargs="?",
        help="snapshot subcommand: history|snapshots|files|partitions|"
        "changes <from-version>|zorder <cols>|bloom <cols>|vacuum",
    )
    ap.add_argument("arg3", nargs="?", help="snapshot subcommand argument")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--limit", type=int, default=20)
    ap.add_argument("--dir", default=None, help="demo workdir (default: temp)")
    args = ap.parse_args(argv)

    if args.command == "demo":
        return _demo(args.dir)

    if args.command == "snapshot":
        return _snapshot_cmd(args)

    from web_analytics_on_aws_spark import plans

    plans.load_all()

    if args.command == "list":
        for name in sorted(plans.QUERIES):
            mark = "oracle" if name in plans.ORACLES else "rows-only"
            print(f"{name}  [{mark}]")
        return 0

    if not args.arg:
        ap.error(f"{args.command} requires an argument")

    from web_analytics_on_aws_spark.session import get_spark
    from web_analytics_on_aws_spark.sources.tables import TABLE_NAMES, load_table

    spark = get_spark(app_name="cli")
    spark.sparkContext.setLogLevel("ERROR")
    if args.command == "query":
        if args.arg not in plans.QUERIES:
            print(f"unknown query {args.arg!r} — try `list`", file=sys.stderr)
            return 2
        df = plans.QUERIES[args.arg](spark, args.sf)
    else:
        for t in TABLE_NAMES:
            load_table(spark, args.sf, t).createOrReplaceTempView(t)
        if args.command == "sql":
            df = spark.sql(args.arg)
        else:
            from web_analytics_on_aws_spark.functions.trino_compat import (
                trino_statement,
            )

            out = trino_statement(spark, args.arg)
            if isinstance(out, dict):  # UNLOAD result summary
                print(out)
                return 0
            df = out
    df.show(args.limit, truncate=False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

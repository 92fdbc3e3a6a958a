"""CLI — the `dlt` command analog (reference: cmd/dlt/commands/).

Subcommands mirror the reference's entry points (SURVEY §3):

  gen    — synthesize a deterministic change log (test/bench input;
           the reference's chain API stands outside the sandbox)
  load   — one-shot catch-up / bounded replay
           (cmd/dlt/commands/load.go:42-105; --from/--to/--force)
  sync   — supervised incremental loop
           (cmd/dlt/commands/sync.go:33-174; interval polling): the
           sync daemon over one connection named by --job-id
  sync-daemon — every configured connection on its own schedule
  status — table + manifest inspection (watermark, lineage, metrics)
  expire — expire old snapshots + files only they reference
           (metadata diff; never lists the data directory)
  vacuum — remove orphan files no retained snapshot references
           (the one op that lists the store; run rarely)

Run via spark-submit for cluster use:
  spark-submit --py-files dlt_spark.zip -m ... (or set PYSPARK_PYTHON)
or locally:  python -m dlt_spark.cli load --log ... --table ...
"""

from __future__ import annotations

import argparse
import json
import signal
import sys
from contextlib import contextmanager
from dataclasses import replace

from dlt_spark.config import (
    MAX_INFLIGHT,
    Config,
    ConnectionCfg,
    DestinationCfg,
    SourceCfg,
    all_connections,
    get_connection_details,
    load_config,
)


@contextmanager
def _graceful_stop():
    """SIGINT-graceful shutdown (cmd/dlt/commands/load.go:62-86,
    sync.go:150-170): the first SIGINT/SIGTERM asks the loop to finish
    the in-flight batch and stop at a committed boundary; a second one
    force-exits.  Yields the stop probe; the previous handlers are
    restored on exit."""
    stop = {"n": 0}

    def _on_signal(_sig, _frm):
        stop["n"] += 1
        if stop["n"] >= 2:
            print(json.dumps({"shutdown": "forced"}), flush=True)
            raise KeyboardInterrupt
        print(json.dumps({"shutdown": "graceful-after-batch"}), flush=True)

    prev = {s: signal.getsignal(s) for s in (signal.SIGINT, signal.SIGTERM)}
    for s in prev:
        signal.signal(s, _on_signal)
    try:
        yield lambda: stop["n"] > 0
    finally:
        for s, h in prev.items():
            signal.signal(s, h)


def _connection(
    args: argparse.Namespace,
) -> tuple[SourceCfg, DestinationCfg, ConnectionCfg]:
    """The (source, destination, connection) triple a ``load`` or
    ``sync`` runs: the named ``--connection`` of ``--config``, or else
    the CLI's flags.  The connection is named by ``--job-id`` and polls
    every ``--interval-secs``; it takes no cron or maintenance setting."""
    interval = getattr(args, "interval_secs", 5.0)
    if args.connection:
        src, dst, c = get_connection_details(
            load_config(args.config), args.connection
        )
        return src, dst, replace(c, name=args.job_id, interval_secs=interval,
                                 cron=None, maintain_every_runs=0)
    src = SourceCfg("log", args.log, args.schema, args.log_part_width)
    dst = DestinationCfg("table", args.table, args.n_buckets)
    return src, dst, ConnectionCfg(
        args.job_id, src.name, dst.name, args.batch_width, args.max_inflight,
        args.arrow_udf, interval, cascade_mode=args.cascade_mode,
    )


def _print_round(res, **head) -> None:
    """One JSON line per sync round, after ``head``'s keys."""
    print(json.dumps({
        **head,
        "batches_applied": res.batches_applied,
        "events_read": res.events_read,
        "events_per_sec": round(res.events_per_sec, 1),
    }), flush=True)


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--log", default=None, help="change-log parquet root")
    p.add_argument("--table", default=None, help="lakehouse table root")
    p.add_argument("--config", default=None,
                   help="YAML/JSON registry of named sources/destinations/"
                        "connections (utils/config.go analog)")
    p.add_argument("--connection", default=None,
                   help="named connection from --config (replaces "
                        "--log/--table and per-run knobs)")
    p.add_argument("--job-id", default="dlt")
    p.add_argument("--batch-width", type=int, default=1_000_000)
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--log-part-width", type=int, default=100_000)
    p.add_argument("--arrow-udf", action="store_true",
                   help="normalize via the pandas/Arrow UDF path")
    p.add_argument("--schema", default="tokens",
                   help="schema adapter: tokens | height | exploded "
                        "(reference loader/setup.go:68-78 switch)")
    p.add_argument("--max-inflight", type=int, default=MAX_INFLIGHT,
                   help="concurrent batch preparations (commits stay ordered; "
                        f"{MAX_INFLIGHT} measured best at the bench point)")
    p.add_argument("--events-file", default=None,
                   help="append Sync Started/Finished lifecycle events "
                        "as JSONL here (utils/events.go analog; strictly "
                        "opt-in, DLT_SPARK_NO_TRACK=1 force-disables)")
    p.add_argument("--master", default=None, help="spark master override")


_CONFIG_TEMPLATE = f"""\
# --- dlt-spark configuration (utils/config_template.yml analog) ---

# Optional named storage roots: any --log/--table of the form
# name://rest resolves to ROOT/rest; hadoop_conf entries are applied
# to the Spark session before reads (s3a credentials, endpoints, ...).
#providers:
#  - name: warm
#    root: /lake/warm
#  - name: cold
#    root: s3a://archive/lake
#    hadoop_conf:
#      fs.s3a.endpoint: https://storage.example

# A source is a change log to load from.
sources:
  - name: mainlog
    log: /data/changelog
    # schema adapter: tokens (default) | height | exploded |
    # exploded_cascade  (loader/setup.go:68-78 analog)
    schema: tokens
    log_part_width: 100000

# A destination is a lakehouse table to load into.
destinations:
  - name: lake
    table: /data/lake/table
    n_buckets: 64

# A connection wires a source to a destination; `dlt-spark sync-daemon`
# drives every connection on its own schedule.
connections:
  - name: prod
    source: mainlog
    destination: lake
    batch_width: 1000000
    max_inflight: {MAX_INFLIGHT}
    # either a polling interval...
    interval_secs: 5.0
    # ...or a 5-field cron expression (wins over interval when set)
    #cron: "*/5 * * * *"
    # cascade deletes: eager (default) or opt-in equality-delete markers
    #cascade_mode: markers
    # every N runs: materialize markers + compact + expire + vacuum
    #maintain_every_runs: 10
"""


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="dlt-spark")
    ap.add_argument(
        "--provider", action="append", default=[], metavar="NAME=ROOT",
        help="register a storage provider (repeatable; before the "
             "subcommand): any --log/--table/--out of the form "
             "name://rest resolves to ROOT/rest — the reference's "
             "storage-provider map (schema/storage_provider.go:15-61). "
             "Providers with Hadoop conf come from the config file's "
             "providers: section.",
    )
    sub = ap.add_subparsers(dest="cmd", required=True)

    ini = sub.add_parser(
        "init",
        help="write a commented config template (the reference's "
             "`dlt init` / utils/config_template.yml analog)",
    )
    ini.add_argument("--out", default="dlt_spark.yml",
                     help="where to write the template (refuses to "
                          "overwrite an existing file)")

    g = sub.add_parser("gen", help="generate a deterministic change log")
    g.add_argument("--out", required=True)
    g.add_argument("--events", type=int, required=True)
    g.add_argument("--keys", type=int, default=None)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--dup-frac", type=float, default=0.05)
    g.add_argument("--version-mix", default="0.6,0.25,0.15")
    g.add_argument("--part-width", type=int, default=100_000)
    g.add_argument("--master", default=None)

    l = sub.add_parser("load", help="one-shot catch-up / bounded replay")
    _add_common(l)
    l.add_argument("--from-seq", type=int, default=None)
    l.add_argument("--to-seq", type=int, default=None)
    l.add_argument("--force", action="store_true",
                   help="re-apply below the watermark (safe: idempotent)")
    l.add_argument("--yes", "-y", action="store_true",
                   help="skip the interactive confirm a --force replay "
                        "asks for on a terminal (loader/service.go:52-64 "
                        "analog); non-interactive runs proceed with a "
                        "printed notice")
    l.add_argument("--verbose", action="store_true")
    l.add_argument("--cascade-mode", default="eager",
                   choices=("eager", "markers"),
                   help="cascade deletes: eager child tombstones "
                        "(default; CDC-out complete) or opt-in "
                        "equality-delete markers (plain-speed delete "
                        "batches; changes feed omits cascaded children)")

    s = sub.add_parser("sync", help="poll the log and apply increments")
    _add_common(s)
    s.add_argument("--interval-secs", type=float, default=5.0)
    s.add_argument("--max-rounds", type=int, default=0, help="0 = forever")
    s.add_argument("--metrics-file", default=None,
                   help="write Prometheus textfile-collector metrics here "
                        "after each round (utils/prometheus.go analog)")
    s.set_defaults(cascade_mode="eager")  # set by --connection

    sd = sub.add_parser(
        "sync-daemon",
        help="ONE process, EVERY configured connection on its own "
             "interval/cron schedule with a global single-flight guard "
             "(the reference's gocron scheduler, "
             "cmd/dlt/commands/sync.go:91-148)",
    )
    sd.add_argument("--config", required=True)
    sd.add_argument("--connection", action="append", default=[],
                    help="restrict to these connection names (repeatable; "
                         "default: all)")
    sd.add_argument("--max-rounds", type=int, default=0,
                    help="stop after each connection ran this many times "
                         "(0 = forever)")
    sd.add_argument("--metrics-port", type=int, default=None,
                    help="serve live Prometheus metrics at "
                         "http://127.0.0.1:PORT/metrics while the daemon "
                         "runs (utils/prometheus.go analog); 0 = ephemeral")
    sd.add_argument("--metrics-dir", default=None,
                    help="write one textfile-collector .prom per "
                         "connection here")
    sd.add_argument("--events-file", default=None)
    sd.add_argument("--master", default=None)

    st = sub.add_parser("status", help="show watermark + manifests")
    st.add_argument("--table", required=True)
    st.add_argument("--at-version", type=int, default=None,
                    help="time-travel: inspect a retained older snapshot")
    st.add_argument("--master", default=None)

    hi = sub.add_parser("history", help="list retained snapshots")
    hi.add_argument("--table", required=True)
    hi.add_argument("--limit", type=int, default=None,
                    help="newest N snapshots only (O(N) metadata reads)")
    hi.add_argument("--master", default=None)

    ch = sub.add_parser("changes", help="incremental change feed between "
                                        "snapshot versions (CDC-out)")
    ch.add_argument("--table", required=True)
    ch.add_argument("--from-version", type=int, required=True)
    ch.add_argument("--to-version", type=int, default=None)
    ch.add_argument("--out", default=None,
                    help="write the change rows as parquet here "
                         "(default: print the count); with --follow, "
                         "each window lands under <out>/v<from>_<to>")
    ch.add_argument("--follow", action="store_true",
                    help="tail committed windows from --from-version "
                         "(CDC-out relay; streaming/changes.py)")
    ch.add_argument("--interval-secs", type=float, default=1.0)
    ch.add_argument("--max-windows", type=int, default=0,
                    help="with --follow: stop after N windows (0 = forever)")
    ch.add_argument("--master", default=None)

    v = sub.add_parser("vacuum", help="remove orphan files (lists the store)")
    v.add_argument("--table", required=True)
    v.add_argument("--grace-secs", type=float, default=3600.0,
                   help="keep unreferenced files younger than this "
                        "(in-flight deltas of a live writer); 0 only "
                        "when no writer can be active")
    v.add_argument("--master", default=None)

    ex = sub.add_parser(
        "expire", help="expire old snapshots + their superseded files "
                       "(metadata-only; object-store safe)"
    )
    ex.add_argument("--table", required=True)
    ex.add_argument("--retain-last", type=int, default=2,
                    help="number of newest snapshots to keep readable "
                         "(time travel / changes_between window)")
    ex.add_argument("--master", default=None)

    c = sub.add_parser("compact", help="fold L0+L1 into bucket-pure bases")
    c.add_argument("--table", required=True)
    c.add_argument("--master", default=None)

    mt = sub.add_parser(
        "maintain",
        help="one-shot maintenance: materialize cascade markers, "
             "compact, expire old snapshots, vacuum orphans (the "
             "cron-able housekeeping tick the sync daemon also runs)",
    )
    mt.add_argument("--table", required=True)
    mt.add_argument("--retain-last", type=int, default=2)
    mt.add_argument("--grace-secs", type=float, default=3600.0)
    mt.add_argument("--master", default=None)

    mm = sub.add_parser(
        "materialize-markers",
        help="convert accumulated cascade equality-delete markers into "
             "real child tombstones in one amortized pass, then clear "
             "the marker list (maintenance for --cascade-mode markers)",
    )
    mm.add_argument("--table", required=True)
    mm.add_argument("--master", default=None)

    pt = sub.add_parser("purge", help="drop tombstones at/below a horizon")
    pt.add_argument("--table", required=True)
    pt.add_argument("--horizon-seq", type=int, required=True)
    pt.add_argument("--master", default=None)

    vb = sub.add_parser("verify", help="re-verify batch content hashes")
    vb.add_argument("--table", required=True)
    vb.add_argument("--job-id", default="dlt")
    vb.add_argument("--master", default=None)

    ex = sub.add_parser("export", help="export the table's final state "
                                       "(parquet/csv/json file or jdbc "
                                       "warehouse destination layer)")
    ex.add_argument("--table", required=True)
    ex.add_argument("--out", required=True,
                    help="output path, or the JDBC URL for --format jdbc")
    ex.add_argument("--format", default="parquet",
                    choices=["parquet", "csv", "json", "jdbc"])
    ex.add_argument("--partitions", type=int, default=None)
    ex.add_argument("--jdbc-table", default=None,
                    help="destination table name (jdbc only)")
    ex.add_argument("--jdbc-option", action="append", default=[],
                    metavar="K=V",
                    help="extra jdbc writer option (driver=, user=, "
                         "batchsize=, numPartitions=, ...); repeatable")
    ex.add_argument("--at-version", type=int, default=None,
                    help="export a retained older snapshot (time travel)")
    ex.add_argument("--master", default=None)

    cn = sub.add_parser("conn", help="list named connections from a config "
                                     "(the reference's `dlt conn` analog)")
    cn.add_argument("--config", required=True)
    cn.add_argument("--master", default=None)

    args = ap.parse_args(argv)

    # storage providers: CLI registrations now; config's providers:
    # section below (with --config); paths resolve after the session
    # exists so provider Hadoop conf can land on it
    from dlt_spark import storage

    for kv in args.provider:
        name, root = kv.split("=", 1)
        storage.register_provider(name, root)
    if getattr(args, "config", None):
        import yaml

        with open(args.config) as f:
            storage.load_providers((yaml.safe_load(f) or {}).get("providers", []))

    # a load or sync runs one (source, destination, connection) triple
    triple = None
    if args.cmd in ("load", "sync"):
        if args.connection and not args.config:
            ap.error("--connection requires --config")
        if not (args.connection or (args.log and args.table)):
            ap.error("provide --log/--table or --config/--connection")
        triple = _connection(args)

    if args.cmd == "init":
        import os as _os

        if _os.path.exists(args.out):
            print(json.dumps({
                "error": f"{args.out} already exists; refusing to overwrite",
            }))
            return 1
        with open(args.out, "w") as f:
            f.write(_CONFIG_TEMPLATE)
        print(json.dumps({"written": args.out}))
        return 0

    if args.cmd == "conn":
        cfg = load_config(args.config)
        for c in all_connections(cfg):
            print(json.dumps({
                "name": c.name, "source": c.source,
                "destination": c.destination, "batch_width": c.batch_width,
            }))
        return 0

    from dlt_spark.session import get_spark

    spark = get_spark(
        f"dlt-{args.cmd}", master=args.master,
        batch_width=triple[2].batch_width if triple else None,
    )

    if triple is None:  # a load/sync resolves in run_connection
        for attr in ("table", "out"):
            val = getattr(args, attr, None)
            if isinstance(val, str):
                setattr(args, attr, storage.resolve(val, spark))

    from dlt_spark.lakehouse import LakehouseTable

    if args.cmd == "gen":
        from dlt_spark.sources.changelog import write_change_log
        from dlt_spark.sources.generator import generate_change_log

        mix = tuple(float(x) for x in args.version_mix.split(","))
        df = generate_change_log(
            spark, args.events, n_keys=args.keys, seed=args.seed,
            dup_frac=args.dup_frac, version_mix=mix,  # type: ignore[arg-type]
        )
        write_change_log(df, args.out, part_width=args.part_width)
        print(json.dumps({"generated": args.events, "path": args.out}))
        return 0

    if args.cmd == "load":
        from dlt_spark.events import EventLog
        from dlt_spark.scheduler import run_connection

        src, dst, conn = triple

        if args.force and not args.yes:
            # the reference gates replays behind an interactive confirm
            # unless -y (loader/service.go:52-64, utils/prompt.go).  A
            # forced replay here is idempotent, but it re-reads and
            # re-writes the whole range — gate it the same way on a
            # terminal; non-interactive runs (CI, cron) proceed with a
            # notice so existing pipelines keep working.
            rng = (f"seq [{args.from_seq if args.from_seq is not None else 0}"
                   f", {args.to_seq if args.to_seq is not None else 'end'}]")
            if sys.stdin.isatty():
                answer = input(
                    f"[dlt] force re-apply {rng} of {dst.table}? [y/N]: "
                )
                if answer.strip().lower() != "y":
                    print(json.dumps({"aborted": True}))
                    return 1
            else:
                print(json.dumps(
                    {"notice": f"--force without --yes (non-interactive): "
                               f"re-applying {rng}"}), file=sys.stderr)

        ev = EventLog(args.events_file)
        ev.sync_started(src.schema, dst.table, args.from_seq, args.to_seq,
                        force=args.force)
        res, _ = run_connection(
            spark, src, dst, conn, seq_from=args.from_seq,
            seq_to=args.to_seq, force=args.force, verbose=args.verbose,
        )
        ev.sync_finished(res)
        print(json.dumps({
            "job_id": res.job_id,
            "batches_planned": res.batches_planned,
            "batches_applied": res.batches_applied,
            "batches_skipped": res.batches_skipped,
            "events_read": res.events_read,
            "events_applied": res.events_applied,
            "deletes_applied": res.deletes_applied,
            "wall_secs": round(res.wall_secs, 3),
            "events_per_sec": round(res.events_per_sec, 1),
        }))
        return 0

    if args.cmd == "sync-daemon":
        from dlt_spark.scheduler import run_sync_daemon

        server = None
        if args.metrics_port is not None:
            from dlt_spark.metrics import MetricsHTTPServer

            server = MetricsHTTPServer(port=args.metrics_port)
            port = server.start()
            print(json.dumps(
                {"metrics_endpoint": f"http://127.0.0.1:{port}/metrics"}),
                flush=True)
        try:
            with _graceful_stop() as stopped:
                summary = run_sync_daemon(
                    spark, load_config(args.config),
                    connection_names=args.connection or None,
                    stop_requested=stopped,
                    max_runs_per_connection=args.max_rounds,
                    events_file=args.events_file,
                    metrics_dir=args.metrics_dir,
                    metrics_server=server,
                    on_round=lambda name, res, _: _print_round(
                        res, connection=name),
                )
        finally:
            if server is not None:
                server.stop()
        print(json.dumps({"shutdown": "clean", "connections": summary}),
              flush=True)
        return 0

    if args.cmd == "sync":
        from dlt_spark.metrics import MetricsWriter
        from dlt_spark.scheduler import run_sync_daemon

        src, dst, conn = triple
        metrics = (MetricsWriter(args.metrics_file, job_id=conn.name)
                   if args.metrics_file else None)
        rounds = 0

        def _on_round(_name, res, table):
            nonlocal rounds
            if metrics:
                metrics.record_run(res, LakehouseTable.load(spark, table))
            _print_round(res, round=rounds)
            rounds += 1

        with _graceful_stop() as stopped:
            run_sync_daemon(
                spark, Config([src], [dst], [conn]), stop_requested=stopped,
                max_runs_per_connection=args.max_rounds,
                events_file=args.events_file, on_round=_on_round,
            )
            if stopped():
                print(json.dumps({"shutdown": "clean", "rounds": rounds}),
                      flush=True)
        return 0

    if args.cmd == "history":
        t = LakehouseTable.load(spark, args.table)
        for row in t.history(limit=args.limit):
            print(json.dumps(row))
        return 0

    if args.cmd == "changes" and args.follow:
        import os as _os

        from dlt_spark.streaming.changes import stream_changes

        def _deliver(df, lo, hi):
            rec = {"window": [lo, hi], "rows": df.count()}
            if args.out:
                p = _os.path.join(args.out, f"v{lo}_{hi}")
                df.write.mode("overwrite").parquet(p)
                rec["out"] = p
            print(json.dumps(rec), flush=True)

        ckpt = stream_changes(
            spark, args.table, _deliver,
            from_version=args.from_version,
            poll_secs=args.interval_secs,
            max_windows=args.max_windows,
        )
        print(json.dumps({"checkpoint_version": ckpt}), flush=True)
        return 0

    if args.cmd == "changes":
        t = LakehouseTable.load(spark, args.table)
        df = t.changes_between(args.from_version, args.to_version)
        # ADVICE r5: with cascade markers pending, the feed omits
        # cascade-deleted children (marker-mode trade-off, documented on
        # the load side) — surface that to the CDC consumer here too,
        # mirroring the status command.
        n_markers = sum(e["rows"] for e in t._snap["markers"])
        extra = (
            {"pending_cascade_markers": n_markers} if n_markers else {}
        )
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
            print(json.dumps({"out": args.out, "rows": df.count(), **extra}))
        else:
            print(json.dumps({"rows": df.count(), **extra}))
        return 0

    if args.cmd == "status":
        t = LakehouseTable.load(spark, args.table, version=args.at_version)
        rows = t.read().count()
        pend_files, pend_rows = t._pending()
        print(json.dumps({
            "version": t.version,
            "watermark": t.watermark(),
            "n_buckets": t.n_buckets,
            "rows": rows,
            "base_rows": t._snap["base_rows"],
            "pending_rows": pend_rows,
            "pending_commits": len(t._snap["deltas"]),
            "pending_files": len(pend_files),
            "batches_applied": t.applied_count(),
            "manifest_tail": len(t._snap["manifests"]),
            "manifest_spill_files": len(t._snap["manifest_spill"]),
            "cascade_markers": sum(e["rows"] for e in t._snap["markers"]),
            "last_manifest": (t._snap["manifests"] or [None])[-1],
        }, indent=2))
        return 0

    if args.cmd == "vacuum":
        t = LakehouseTable.load(spark, args.table)
        print(json.dumps({"removed_files": t.vacuum(grace_secs=args.grace_secs)}))
        return 0

    if args.cmd == "expire":
        t = LakehouseTable.load(spark, args.table)
        print(json.dumps(t.expire_snapshots(retain_last=args.retain_last)))
        return 0

    if args.cmd == "compact":
        t = LakehouseTable.load(spark, args.table)
        v0 = t.version
        t.compact()
        print(json.dumps({"compacted": t.version > v0, "version": t.version}))
        return 0

    if args.cmd == "maintain":
        t = LakehouseTable.load(spark, args.table)
        print(json.dumps(t.maintain(retain_last=args.retain_last,
                                    grace_secs=args.grace_secs)))
        return 0

    if args.cmd == "materialize-markers":
        t = LakehouseTable.load(spark, args.table)
        n = t.materialize_markers()
        print(json.dumps({"parents_materialized": n, "version": t.version}))
        return 0

    if args.cmd == "purge":
        t = LakehouseTable.load(spark, args.table)
        n = t.purge_tombstones(args.horizon_seq)
        print(json.dumps({"tombstones_purged": n, "version": t.version}))
        return 0

    if args.cmd == "export":
        from dlt_spark.destinations import export_table
        t = LakehouseTable.load(spark, args.table, version=args.at_version)
        jdbc_opts = dict(kv.split("=", 1) for kv in args.jdbc_option)
        n = export_table(t, args.out, fmt=args.format,
                         partitions=args.partitions,
                         jdbc_table=args.jdbc_table,
                         jdbc_options=jdbc_opts or None)
        print(json.dumps({"exported_rows": n, "format": args.format,
                          "out": args.out}))
        return 0

    if args.cmd == "verify":
        from pyspark.sql import functions as F

        t = LakehouseTable.load(spark, args.table)
        results = {"ok": 0, "failed": 0, "window_closed": 0}
        bad = []
        # every manifest row of the job, spilled sidecars included
        for m in (t.manifests_df().where(F.col("job_id") == args.job_id)
                  .select("batch_id").orderBy("batch_id").collect()):
            r = t.verify_batch(args.job_id, m["batch_id"])
            if r is True:
                results["ok"] += 1
            elif r is None:
                results["window_closed"] += 1
            else:
                results["failed"] += 1
                bad.append(m["batch_id"])
        print(json.dumps({**results, "failed_batches": bad}))
        return 0 if not bad else 2

    return 1


if __name__ == "__main__":
    sys.exit(main())

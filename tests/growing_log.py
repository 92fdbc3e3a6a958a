"""Sync-daemon runs over a change log that grows while the daemon runs,
shared by the daemon and streaming-sync tests."""

from __future__ import annotations

import os

from dlt_spark.config import (
    Config,
    ConnectionCfg,
    DestinationCfg,
    SourceCfg,
)
from dlt_spark.scheduler import run_sync_daemon


def growing_log_daemon(spark, staged, tmp_path, per_run=1, schema="tokens",
                        part_width=500, batch_width=500, n_buckets=8,
                        cascade_mode="eager"):
    """A one-connection daemon over a log that grows while it runs: the
    ``seq_part`` directories of the ``staged`` log are copied into the
    live log ``per_run`` at a time, the first group before the daemon
    starts and each next one from its ``on_round`` hook, so every run
    picks up exactly one new group.  Returns (config, table)."""
    import shutil

    from dlt_spark.lakehouse import LakehouseTable

    parts = sorted(
        (p for p in os.listdir(staged) if p.startswith("seq_part=")),
        key=lambda p: int(p.split("=", 1)[1]),
    )
    groups = [parts[i:i + per_run] for i in range(0, len(parts), per_run)]
    log, tbl = str(tmp_path / "live_log"), str(tmp_path / "tbl")
    os.makedirs(log)

    def publish(k):
        for p in groups[k]:
            shutil.copytree(os.path.join(staged, p), os.path.join(log, p))

    runs = []

    def on_round(name, res, table):
        runs.append(res)
        if len(runs) < len(groups):
            publish(len(runs))

    publish(0)
    cfg = Config(
        sources=[SourceCfg(name="s", log=log, schema=schema,
                           log_part_width=part_width)],
        destinations=[DestinationCfg(name="d", table=tbl, n_buckets=n_buckets)],
        connections=[ConnectionCfg(name="c", source="s", destination="d",
                                   batch_width=batch_width, interval_secs=0.0,
                                   cascade_mode=cascade_mode)],
    )
    summary = run_sync_daemon(spark, cfg, max_runs_per_connection=len(groups),
                              on_round=on_round)
    assert summary["c"]["runs"] == len(groups)
    assert all(r.batches_applied for r in runs)  # each run took a new group
    return cfg, LakehouseTable.load(spark, tbl)


def cascade_log(spark, path, ops, part_width, first_seq):
    """Write an exploded_cascade log of (doc_id, op, payload) events at
    commit_seq = first_seq + list index."""
    from pyspark.sql import Row

    from dlt_spark.schemas import CHANGE_EVENT_SCHEMA
    from dlt_spark.sources.changelog import write_change_log

    rows = [
        Row(commit_seq=first_seq + i, doc_id=d, op=op, tokens=None, payload=pl,
            payload_version=1, source="s", extracted_at=None)
        for i, (d, op, pl) in enumerate(ops)
    ]
    write_change_log(spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA), path,
                     part_width=part_width)

"""A/B harness for the L0->L1 fold (round 6).

The fold is the serialized tail of the 8-batch replay (~6.7 s of the
~15 s headline).  Variants (guide §2.3/§8: shuffle fewer bytes; decide
on narrow rows, move payloads once):

  A  current: repartition(_bucket) -> groupBy(_bucket, doc_id) max_by
     (one exchange of FULL rows, SortAggregate over wide rows)
  B  narrow-decide: aggregate the winner ORDERING per key on
     doc_id/_commit_seq/_deleted/_row_id only (narrow shuffle), broadcast
     the winner set, semi-join the full rows (second L0 scan, no wide
     shuffle), then repartition(_bucket) the ~winners only
  C  A but with spark.sql.shuffle.partitions left to AQE (no explicit 64)

All variants must produce identical resolved content (checked by
order-insensitive hash).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time


def _med(fn, n=3):
    ts = []
    for _ in range(n):
        t0 = time.monotonic()
        fn()
        ts.append(round(time.monotonic() - t0, 3))
    return round(statistics.median(ts), 3), ts


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    n_events = int(os.environ.get("BENCH_EVENTS", "3150000"))
    batch_width = n_events // 8
    part_width = max(10_000, n_events // 32)

    from pyspark.sql import functions as F

    from dlt_spark.lakehouse import LakehouseTable
    from dlt_spark.plans.runner import run_incremental
    from dlt_spark.session import get_spark
    from dlt_spark.sources.changelog import write_change_log
    from dlt_spark.sources.generator import generate_change_log

    spark = get_spark("dlt-fold-ab", master=f"local[{cpus}]",
                      batch_width=batch_width)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    work = tempfile.mkdtemp(prefix="dlt_foldab_", dir=base)
    log_path = os.path.join(work, "log")
    write_change_log(
        generate_change_log(spark, n_events, seed=42, dup_frac=0.05,
                            version_mix=(0.6, 0.25, 0.15)),
        log_path, part_width=part_width,
    )
    tbl = os.path.join(work, "t")
    LakehouseTable.create(spark, tbl, n_buckets=64, max_deltas=100)
    run_incremental(spark, log_path, tbl, batch_width=batch_width,
                    n_buckets=64, log_part_width=part_width)
    t = LakehouseTable.load(spark, tbl)
    deltas = t._snap["deltas"]
    paths = t._abs([p for e in deltas for p in e["files"]])
    raw = t._raw(paths)
    n_l0 = raw.count()
    print(f"L0 rows: {n_l0}", file=sys.stderr)

    def resolved_hash(df):
        return df.agg(F.sum(F.pmod(F.xxhash64(
            "doc_id", "_commit_seq", "_row_id", "_deleted"), F.lit(1 << 30)))
        ).collect()[0][0]

    out = {"l0_rows": n_l0}

    # --- A: current fold (compute side only, same write) ---
    def fold_a_df():
        return t._resolve_bucketed(t._raw(paths), n_l0)

    sc.setJobDescription("fold A: wide shuffle resolve")
    out["A_noop"] = _med(lambda: noop(fold_a_df()))

    # --- B: narrow-decide ---
    ordering = F.struct(
        F.col("_commit_seq").alias("_s"),
        F.col("_deleted").cast("int").alias("_d"),
        F.col("_row_id").alias("_r"),
    )

    def fold_b_df():
        raw1 = t._raw(paths)
        win = (
            raw1.select("doc_id", ordering.alias("_o"))
            .groupBy("doc_id").agg(F.max("_o").alias("_w"))
            .select(
                "doc_id",
                F.col("_w._s").alias("_ws"),
                F.col("_w._r").alias("_wr"),
            )
        )
        raw2 = t._raw(paths)
        j = raw2.join(
            F.broadcast(win),
            on=(raw2["doc_id"] == win["doc_id"])
            & (raw2["_commit_seq"] == F.col("_ws"))
            & (raw2["_row_id"] == F.col("_wr")),
            how="left_semi",
        )
        # duplicate deliveries of the winning row remain -> final tiny
        # dedup rides the bucket repartition (winners only)
        cols = j.columns
        winner = F.max_by(F.struct(*[F.col(c) for c in cols]), ordering).alias("w")
        return (
            j.repartition(t._write_partitions(n_l0), "_bucket")
            .groupBy("_bucket", "doc_id").agg(winner).select("w.*")
        )

    sc.setJobDescription("fold B: narrow decide + semi join")
    out["B_noop"] = _med(lambda: noop(fold_b_df()))

    # equivalence
    ha, hb = resolved_hash(fold_a_df()), resolved_hash(fold_b_df())
    out["hash_equal"] = bool(ha == hb)

    # --- with the real write ---
    import shutil

    def wr(df):
        d = os.path.join(work, "out")
        (df.write.mode("overwrite")
         .option("parquet.enable.dictionary", "false")
         .partitionBy("_bucket").parquet(d))
        shutil.rmtree(d, ignore_errors=True)

    sc.setJobDescription("fold A: full write")
    out["A_write"] = _med(lambda: wr(fold_a_df()))
    sc.setJobDescription("fold B: full write")
    out["B_write"] = _med(lambda: wr(fold_b_df()))

    print(json.dumps(out))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

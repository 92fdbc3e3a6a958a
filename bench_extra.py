"""Round-6 iteration harness (bench.py is FROZEN for measurement; this
file mirrors its exploded-suite protocol so optimizations can be
evaluated with the same shapes/medians without touching the frozen
file).  Cites into OPTIMIZATION_r06.md.

Usage: python bench_extra.py [suite ...]
  suites: plain cascade markers replay mor small   (default: plain)
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

from pyspark.sql import functions as F


def main() -> int:
    suites = sys.argv[1:] or ["plain"]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_events = int(os.environ.get("BENCH_EVENTS", "3150000"))
    batch_count = 8
    batch_width = max(1, n_events // batch_count)
    part_width = max(10_000, n_events // 32)
    n_q = int(os.environ.get("BENCH_QUERY_RUNS", "3"))
    max_inflight = 4

    from dlt_spark.lakehouse import LakehouseTable
    from dlt_spark.plans.runner import run_incremental
    from dlt_spark.session import get_spark
    from dlt_spark.sources.changelog import write_change_log
    from dlt_spark.sources.generator import generate_change_log

    spark = get_spark("dlt-bench-extra", master=f"local[{cpus}]",
                      batch_width=batch_width)
    spark.sparkContext.setLogLevel("ERROR")

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    work = tempfile.mkdtemp(prefix="dlt_bx_", dir=base)

    q_runs: dict[str, list[float]] = {}

    def _med(name, fn):
        ts = []
        for _ in range(n_q):
            t0 = time.monotonic()
            fn()
            ts.append(round(time.monotonic() - t0, 3))
        q_runs[name] = ts
        return round(statistics.median(ts), 3)

    out: dict[str, float] = {}

    need_exploded = {"plain", "cascade", "markers"} & set(suites)
    if need_exploded:
        n3 = max(50_000, n_events // 8)
        pw3 = max(10_000, n3 // 32)
        bw3 = max(1, n3 // batch_count)
        log3 = os.path.join(work, "log3")
        ev3 = generate_change_log(spark, n3, seed=44, version_mix=(1.0, 0.0, 0.0))
        exploded_ev = ev3.withColumn(
            "payload",
            F.when(
                F.col("op") != "D",
                F.to_json(F.struct(
                    F.slice(F.col("tokens"), 1, 4).alias("block"),
                    F.array(
                        F.slice(F.col("tokens"), 5, 8),
                        F.slice(F.col("tokens"), 13, 8),
                    ).alias("txs"),
                )),
            ),
        ).withColumn("tokens", F.lit(None).cast("array<int>"))
        write_change_log(exploded_ev, log3, pw3)
        # warm-up
        wtbl = os.path.join(work, "warm")
        run_incremental(spark, log3, wtbl, schema="exploded", batch_width=bw3,
                        n_buckets=64, log_part_width=pw3)
        shutil.rmtree(wtbl, ignore_errors=True)

        for schema, qname in (
            ("exploded", "cdc_exploded_plain"),
            ("exploded_cascade", "cdc_exploded_cascade"),
            ("exploded_cascade", "cdc_exploded_markers"),
        ):
            key = qname.rsplit("_", 1)[-1]
            if key not in suites and not (key == "plain" and "plain" in suites):
                if not ((key == "cascade" and "cascade" in suites)
                        or (key == "markers" and "markers" in suites)
                        or (key == "plain" and "plain" in suites)):
                    continue
            mode = "markers" if qname.endswith("markers") else "eager"

            def _bulk():
                tbl3 = os.path.join(work, f"tbl3_{qname}")
                run_incremental(
                    spark, log3, tbl3, schema=schema, batch_width=bw3,
                    n_buckets=64, log_part_width=pw3,
                    max_inflight=max_inflight, cascade_mode=mode,
                )
                shutil.rmtree(tbl3, ignore_errors=True)

            out[qname] = _med(qname, _bulk)

            def _ticks():
                tbl4 = os.path.join(work, f"tbl4_{qname}")
                for b in range(batch_count):
                    run_incremental(
                        spark, log3, tbl4, schema=schema,
                        seq_from=b * bw3, seq_to=(b + 1) * bw3 - 1,
                        batch_width=bw3, n_buckets=64, log_part_width=pw3,
                        cascade_mode=mode,
                    )
                shutil.rmtree(tbl4, ignore_errors=True)

            out[qname + "_ticks"] = _med(qname + "_ticks", _ticks)

    if "replay" in suites:
        log_path = os.path.join(work, "log")
        write_change_log(
            generate_change_log(spark, n_events, seed=42, dup_frac=0.05,
                                version_mix=(0.6, 0.25, 0.15)),
            log_path, part_width=part_width,
        )
        warm_tbl = os.path.join(work, "warm2")
        run_incremental(spark, log_path, warm_tbl, seq_from=0,
                        seq_to=max(0, n_events // 10 - 1),
                        batch_width=batch_width, n_buckets=64,
                        log_part_width=part_width)
        shutil.rmtree(warm_tbl, ignore_errors=True)
        runs = []
        for i in range(3):
            tbl_i = os.path.join(work, f"tbl_{i}")
            t0 = time.monotonic()
            run_incremental(spark, log_path, tbl_i, batch_width=batch_width,
                            n_buckets=64, log_part_width=part_width,
                            max_inflight=max_inflight)
            runs.append(round(time.monotonic() - t0, 3))
            shutil.rmtree(tbl_i, ignore_errors=True)
        out["cdc_replay"] = min(runs)
        q_runs["cdc_replay"] = runs

    if "mor" in suites:
        log2 = os.path.join(work, "log2")
        write_change_log(
            generate_change_log(spark, n_events, n_keys=n_events, seed=43),
            log2, part_width=part_width,
        )
        delta_w = max(1, n_events // 1000)
        pend_from = n_events - 7 * delta_w
        tbl2 = os.path.join(work, "tbl2")
        run_incremental(spark, log2, tbl2, seq_to=pend_from - 1,
                        batch_width=batch_width, n_buckets=64,
                        log_part_width=part_width)
        t2 = LakehouseTable.load(spark, tbl2)
        t2.compact()
        run_incremental(spark, log2, tbl2, seq_from=pend_from,
                        batch_width=delta_w, n_buckets=64,
                        log_part_width=part_width)
        t2 = t2.refresh()
        assert len(t2._snap["deltas"]) == 7
        t2.read().write.format("noop").mode("overwrite").save()  # warm cache
        for tier in (None, 2, 3):
            name = f"mor_read_tier{tier or 'auto'}"
            out[name] = _med(
                name,
                lambda tier=tier: t2.read(tier=tier)
                .write.format("noop").mode("overwrite").save(),
            )

    if "small" in suites:
        from dlt_spark.entry_queries import QUERIES

        for name in (
            "cdc_lww_final_state", "cdc_batch_lineage",
            "cdc_normalize_versions", "docs_minhash_sig", "docs_simhash",
            "emb_cosine_topk", "docs_token_count",
        ):
            out[name] = _med(
                name,
                lambda name=name: QUERIES[name](spark, sf_dir)
                .write.format("noop").mode("overwrite").save(),
            )

    print(json.dumps({"queries": out, "runs": q_runs}))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

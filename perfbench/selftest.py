"""Self-test of the benchmark's own generator and correctness gate.

    python3 perfbench/selftest.py

Run from the repository root.  Checks that:

1. the same seed gives byte-identical log files, and another seed does not;
2. on small tokens and exploded_cascade logs loaded by the engine, the
   gate passes;
3. the gate catches one planted wrong row of each kind: a changed
   ``n_tok``, a changed ``_commit_seq``, a missing row, an extra row,
   and wrong tokens.

Exits 0 when every check holds.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc

HERE = os.path.dirname(os.path.abspath(__file__))


def _digest(path: str) -> list[tuple[str, bytes]]:
    return [
        (os.path.relpath(f, path), open(f, "rb").read())
        for f in sorted(glob.glob(os.path.join(path, "*", "*.parquet")))
    ]


def _logs(work: str, seed: int) -> tuple[str, str]:
    import gen

    tok = os.path.join(work, f"tokens-{seed}")
    gen.write_log(gen.tokens_events(seed, 0, 6_000, 800, tok_range=(4, 24)),
                  tok, 1_500, seed)
    exp = os.path.join(work, f"exploded-{seed}")
    pre = gen.exploded_events(seed, 0, 400, 400, zipf_s=None, delete_frac=0.0,
                              update_frac=0.0)
    ticks = gen.exploded_events(seed, 400, 1_600, 400, stream=1)
    gen.write_log(pa.concat_tables([pre, ticks]), exp, 400, seed)
    return tok, exp


def _plants(actual: pa.Table) -> dict[str, pa.Table]:
    i = actual.num_rows // 2
    row = actual.slice(i, 1)

    def with_col(t: pa.Table, name: str, values) -> pa.Table:
        return t.set_column(t.schema.get_field_index(name), name, values)

    n_tok = actual.column("n_tok").to_pylist()
    n_tok[i] += 1
    seqs = actual.column("_commit_seq").to_pylist()
    seqs[i] -= 1
    toks = actual.column("tokens").to_pylist()
    toks[i] = toks[i][:-1] + [toks[i][-1] + 1]
    phantom = with_col(row, "doc_id", pc.binary_join_element_wise(row.column("doc_id"), "x", ""))
    return {
        "changed n_tok": with_col(actual, "n_tok", pa.array(n_tok, actual.column("n_tok").type)),
        "changed _commit_seq": with_col(actual, "_commit_seq", pa.array(seqs, pa.int64())),
        "missing row": pa.concat_tables([actual.slice(0, i), actual.slice(i + 1)]),
        "extra row": pa.concat_tables([actual, phantom]),
        "wrong tokens": with_col(actual, "tokens", pa.array(toks, actual.column("tokens").type)),
    }


def main() -> int:
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "dlt_spark")):
        print("selftest: run from the repository root", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    from gate import Gate

    from dlt_spark.lakehouse import LakehouseTable
    from dlt_spark.plans.runner import run_incremental
    from dlt_spark.session import get_spark
    from run import _stop_spark

    work = os.path.join(root, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(work)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = \
        os.path.join(work, "spark-local")
    failures: list[str] = []
    spark = None
    try:
        tok, exp = _logs(work, 5)
        again = os.path.join(work, "again")
        os.makedirs(again)
        tok2, exp2 = _logs(again, 5)
        other = os.path.join(work, "other")
        os.makedirs(other)
        tok3, _ = _logs(other, 6)
        if _digest(tok) != _digest(tok2) or _digest(exp) != _digest(exp2):
            failures.append("same seed gave different log bytes")
        if _digest(tok) == _digest(tok3):
            failures.append("different seeds gave identical log bytes")

        spark = get_spark("perfbench-selftest", master="local[2]")
        spark.sparkContext.setLogLevel("ERROR")
        cases = [("tokens", tok, 5_999, False, [(0, 5_999, 1_500)]),
                 ("exploded_cascade", exp, 1_999, True,
                  [(0, 399, 400)] + [(lo, lo + 399, 400) for lo in range(400, 2_000, 400)])]
        for schema, log, hi, cascade, runs in cases:
            tbl = os.path.join(work, f"table-{schema}")
            for lo, r_hi, bw in runs:
                run_incremental(spark, log, tbl, schema=schema, seq_from=lo, seq_to=r_hi,
                                batch_width=bw, log_part_width=400 if cascade else 1_500)
            g = Gate(log, hi, cascade=cascade)
            t = LakehouseTable.load(spark, tbl)
            actual = t.read(columns=["doc_id", "_commit_seq", "n_tok", "tokens"]).toArrow()
            ok = g.compare(actual)
            print(f"{schema}: {g.live_rows} live rows, clean table -> "
                  f"{'pass' if not ok else ok}")
            if ok:
                failures.append(f"{schema}: gate failed on the engine's own table: {ok}")
            for name, planted in _plants(actual).items():
                found = g.compare(planted)
                print(f"{schema}: planted {name} -> {'caught' if found else 'MISSED'}")
                if not found:
                    failures.append(f"{schema}: gate missed a planted {name}")
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    for f in failures:
        print(f"SELFTEST FAILED: {f}")
    print("selftest ok" if not failures else "selftest failed")
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())

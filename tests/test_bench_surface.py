"""The private LakehouseTable surface the frozen benchmark scripts use.

``bench.py`` (the MoR-read leaf) and ``bench_extra.py`` (the tiered-read
leaves) reach past the public API: they count ``_snap["deltas"]``, list
base files from ``_snap["buckets"]``, take ``(files, rows)`` from
``_pending()`` and rebuild the tier-3 plan from ``_resolve``, ``_raw``
and ``_abs``.  Those files stay byte-identical, so a refactor of the
table format must keep this surface; this test fails first if it does
not.  It also byte-compiles every benchmark script, resolves the
names each one imports from ``dlt_spark`` and checks the keywords each
one passes to the engine's entry points."""

from __future__ import annotations

import ast
import glob
import importlib
import inspect
import os
import py_compile

from pyspark.sql import functions as F

from dlt_spark.functions.normalize import normalize_events
from dlt_spark.lakehouse import LakehouseTable
from dlt_spark.operators.dedup import dedup_lww
from dlt_spark.plans.runner import run_incremental
from dlt_spark.session import get_spark
from dlt_spark.sources.generator import generate_change_log

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Engine entry points the benchmark scripts call, by the name at the
# call site: (receiver name or None for any, callee).
_ENTRY_POINTS = {
    "run_incremental": (None, run_incremental),
    "get_spark": (None, get_spark),
    "create": ("LakehouseTable", LakehouseTable.create),
    "load": ("LakehouseTable", LakehouseTable.load),
    "read": (None, LakehouseTable.read),
    "changes_between": (None, LakehouseTable.changes_between),
}


def _unknown_keywords(path: str) -> list[str]:
    """Keywords ``path`` passes to an engine entry point that name no
    parameter of it.  A call matches by its function or method name
    (``read`` and ``changes_between`` on any receiver, ``create`` and
    ``load`` on ``LakehouseTable``)."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    bad = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        fn = node.func
        name = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)
        if name not in _ENTRY_POINTS:
            continue
        receiver, callee = _ENTRY_POINTS[name]
        if receiver is not None and not (
            isinstance(fn, ast.Attribute) and isinstance(fn.value, ast.Name)
            and fn.value.id == receiver
        ):
            continue
        params = inspect.signature(callee).parameters
        bad += [
            f"{os.path.relpath(path, _ROOT)}:{node.lineno} {name}({k.arg}=)"
            for k in node.keywords
            if k.arg is not None and k.arg not in params
        ]
    return bad


def test_bench_scripts_compile(tmp_path):
    """Every benchmark script byte-compiles, every name it imports from
    ``dlt_spark`` — at module level or inside a function — still exists,
    and every keyword it passes to an engine entry point
    (``_ENTRY_POINTS``) names a parameter of it, so deleting or renaming
    an engine name or parameter a script uses fails here rather than
    when the script first runs."""
    scripts = [os.path.join(_ROOT, "bench.py"),
               os.path.join(_ROOT, "bench_extra.py")]
    for d in ("bench", "perfbench"):
        scripts += sorted(glob.glob(os.path.join(_ROOT, d, "*.py")))
    missing = []
    bad_keywords = []
    for i, path in enumerate(scripts):
        py_compile.compile(path, cfile=str(tmp_path / f"{i}.pyc"),
                           doraise=True)
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if not (isinstance(node, ast.ImportFrom) and node.level == 0
                    and node.module.split(".")[0] == "dlt_spark"):
                continue
            mod = importlib.import_module(node.module)
            missing += [
                f"{os.path.relpath(path, _ROOT)}:{node.lineno} "
                f"{node.module}.{a.name}"
                for a in node.names if not hasattr(mod, a.name)
            ]
        bad_keywords += _unknown_keywords(path)
    assert not missing, f"unresolved dlt_spark imports: {missing}"
    assert not bad_keywords, f"unknown engine keywords: {bad_keywords}"


def test_private_table_surface_used_by_bench(spark, tmp_path):
    log = generate_change_log(spark, 2_000, n_keys=200, seed=5)

    def batch(lo, hi):
        return dedup_lww(
            normalize_events(log.where(F.col("commit_seq").between(lo, hi))),
            with_counts=True,
        )

    path = str(tmp_path / "t")
    t = LakehouseTable.create(spark, path, n_buckets=4)
    t.merge(batch(0, 999), "job", 0)
    t.compact()  # base materialized, L0/L1 empty
    for b, lo in enumerate(range(1_000, 2_000, 500), start=1):
        t.merge(batch(lo, lo + 499), "job", b)
    t2 = t.refresh()

    # _snap holds the inflated maps, not the on-disk sidecar refs
    deltas = t2._snap["deltas"]
    assert len(deltas) == 2
    assert all(isinstance(e["files"], list) and e["rows"] > 0 for e in deltas)
    buckets = t2._snap["buckets"]
    base_files = [p for ps in buckets.values() for p in ps]
    assert base_files and all(p.endswith(".parquet") for p in base_files)

    pend_files, pend_rows = t2._pending()
    assert sorted(pend_files) == sorted(p for e in deltas for p in e["files"])
    assert pend_rows == sum(e["rows"] for e in deltas)

    # bench.py's tier-3 comparison plan equals the table's own read
    full = t2._resolve(t2._raw(t2._abs(base_files + pend_files))).where(
        "NOT _deleted"
    )

    def key(df):
        return sorted(
            (r["doc_id"], r["_commit_seq"])
            for r in df.select("doc_id", "_commit_seq").collect()
        )

    expected = key(t2.read())
    assert key(full) == expected
    for tier in (None, 2, 3):  # bench_extra.py's mor_read_tier* leaves
        assert key(t2.read(tier=tier)) == expected

    t2.compact()
    assert t2._snap["deltas"] == [] and t2._pending() == ([], 0)
    assert key(t2.read()) == expected


def test_perfbench_wrap_points_resolve():
    """perfbench/spans.py times the engine's layers by wrapping engine
    functions by name from outside the package; a target the engine
    lacks only prints "trace: … not found" and reads 0 in its metric.
    Every target must resolve, except ``LakehouseTable.fold_pending``,
    removed with the runner's second fold trigger: the commit path is
    the one fold trigger, and its folds are the ``lakehouse.fold`` span
    (``_fold_and_maybe_major``)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "perfbench_spans", os.path.join(_ROOT, "perfbench", "spans.py")
    )
    spans = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(spans)
    removed = ["dlt_spark.lakehouse:LakehouseTable.fold_pending"]
    tracer = spans.Tracer()
    try:
        assert tracer.install() == removed
    finally:
        tracer.uninstall()

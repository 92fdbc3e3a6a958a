"""Storage-provider registry (schema/storage_provider.go:15-61 analog):
named roots resolve `name://rest` URIs; per-provider Hadoop conf lands
on the session; unknown schemes and plain paths pass through."""

from __future__ import annotations

import json

import pytest

from dlt_spark import storage


@pytest.fixture(autouse=True)
def _clean_registry():
    storage.clear_providers()
    yield
    storage.clear_providers()


def test_resolve_registered_and_passthrough():
    storage.register_provider("warm", "/lake/warm/")
    assert storage.resolve("warm://tables/t1") == "/lake/warm/tables/t1"
    assert storage.resolve("warm://") == "/lake/warm"
    # unknown scheme = a real filesystem scheme — untouched
    assert storage.resolve("s3a://bucket/x") == "s3a://bucket/x"
    assert storage.resolve("file:/x/y") == "file:/x/y"
    assert storage.resolve("/plain/path") == "/plain/path"
    # jdbc URLs never look like name:// and pass through
    assert storage.resolve("jdbc:derby:/tmp/db").startswith("jdbc:")


def test_provider_hadoop_conf_applied(spark):
    storage.register_provider(
        "cold", "/lake/cold", {"fs.test.dlt.marker": "cold-creds"}
    )
    out = storage.resolve("cold://t", spark)
    assert out == "/lake/cold/t"
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.test.dlt.marker") == "cold-creds"


def test_load_providers_from_config_section():
    ps = storage.load_providers(
        [
            {"name": "a", "root": "/ra"},
            {"name": "b", "root": "s3a://bkt/px", "conf": {"k": "v"}},
        ]
    )
    assert [p.name for p in ps] == ["a", "b"]
    assert storage.resolve("b://d") == "s3a://bkt/px/d"
    assert storage.providers()["b"].hadoop_conf == {"k": "v"}


def test_cli_provider_end_to_end(spark, tmp_path, capsys):
    """gen → load → status, all addressed through a provider URI; then
    a sync-daemon whose config's providers: section, source and
    destination use the same provider reaches the load's state."""
    from dlt_spark.cli import main
    from dlt_spark.lakehouse import LakehouseTable

    root = str(tmp_path)
    assert main([
        "--provider", f"store={root}",
        "gen", "--out", "store://log", "--events", "2000",
        "--part-width", "1000",
    ]) == 0
    assert main([
        "--provider", f"store={root}",
        "load", "--log", "store://log", "--table", "store://tbl",
        "--batch-width", "1000", "--n-buckets", "8",
        "--log-part-width", "1000",
    ]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    res = json.loads(out[-1])
    # 2000 logical events + 5% duplicate deliveries (generator default)
    assert res["events_read"] >= 2000 and res["batches_applied"] == 2
    assert main([
        "--provider", f"store={root}", "status", "--table", "store://tbl",
    ]) == 0
    st = json.loads(capsys.readouterr().out)  # status pretty-prints JSON
    assert st["watermark"] == 1999

    storage.clear_providers()  # the daemon leg registers from its config
    cfg = tmp_path / "dlt.json"
    cfg.write_text(json.dumps({
        "providers": [{"name": "store", "root": root}],
        "sources": [{"name": "s", "log": "store://log",
                     "log_part_width": 1000}],
        "destinations": [{"name": "d", "table": "store://daemon_tbl",
                          "n_buckets": 8}],
        "connections": [{"name": "c", "source": "s", "destination": "d",
                         "batch_width": 1000}],
    }))
    assert main(["sync-daemon", "--config", str(cfg), "--max-rounds", "1"]) == 0

    def state(rel):
        t = LakehouseTable.load(spark, f"{root}/{rel}")
        return sorted(
            (r["doc_id"], r["_commit_seq"], tuple(r["tokens"] or []))
            for r in t.read().collect()
        )

    assert state("daemon_tbl") == state("tbl")


def test_cli_init_writes_loadable_template(tmp_path, capsys):
    """`init` (the reference's `dlt init` / utils/config_template.yml
    analog) writes a commented template that load_config parses, and
    refuses to overwrite an existing file."""
    from dlt_spark.cli import main
    from dlt_spark.config import load_config

    out = str(tmp_path / "dlt_spark.yml")
    assert main(["init", "--out", out]) == 0
    cfg = load_config(out)
    assert [s.name for s in cfg.sources] == ["mainlog"]
    assert [c.name for c in cfg.connections] == ["prod"]
    assert main(["init", "--out", out]) == 1  # refuses to overwrite
    assert "refusing to overwrite" in capsys.readouterr().out


def test_cli_force_confirm_gate(spark, tmp_path, capsys, monkeypatch):
    """A --force replay on a terminal asks for confirmation unless
    --yes (loader/service.go:52-64 analog): 'n' aborts before any
    Spark work, 'y' proceeds; --yes skips the prompt; non-interactive
    runs proceed with a notice (existing pipelines keep working)."""
    import sys as _sys

    from dlt_spark.cli import main

    log, tbl = str(tmp_path / "log"), str(tmp_path / "tbl")
    common = ["--batch-width", "1000", "--n-buckets", "8",
              "--log-part-width", "1000"]
    assert main(["gen", "--out", log, "--events", "2000",
                 "--part-width", "1000"]) == 0
    assert main(["load", "--log", log, "--table", tbl, *common]) == 0

    monkeypatch.setattr(_sys.stdin, "isatty", lambda: True)
    monkeypatch.setattr("builtins.input", lambda *_: "n")
    assert main(["load", "--log", log, "--table", tbl, "--force",
                 "--from-seq", "0", "--to-seq", "999", *common]) == 1
    assert json.loads(
        capsys.readouterr().out.strip().splitlines()[-1]
    ) == {"aborted": True}

    monkeypatch.setattr("builtins.input", lambda *_: "y")
    assert main(["load", "--log", log, "--table", tbl, "--force",
                 "--from-seq", "0", "--to-seq", "999", *common]) == 0
    # --yes never prompts
    monkeypatch.setattr("builtins.input",
                        lambda *_: (_ for _ in ()).throw(AssertionError))
    assert main(["load", "--log", log, "--table", tbl, "--force", "--yes",
                 "--from-seq", "0", "--to-seq", "999", *common]) == 0
    # non-interactive: proceeds with a stderr notice
    monkeypatch.setattr(_sys.stdin, "isatty", lambda: False)
    assert main(["load", "--log", log, "--table", tbl, "--force",
                 "--from-seq", "0", "--to-seq", "999", *common]) == 0
    assert "non-interactive" in capsys.readouterr().err

"""Named sources / destinations / connections — the reference's YAML
config registry (utils/config.go:169-221: Sources, Destinations,
Connections resolved by name; loader/setup.go wires a connection into a
run).  Same resolution semantics, including the error cases: unknown
connection / dangling source / dangling destination each fail with a
specific message (config.go:207-218).

File format (YAML or JSON — YAML is what the reference ships,
utils/config_template.yml)::

    sources:
      - name: mainlog
        log: /data/changelog
        schema: tokens            # adapter name (loader/setup.go:68-78)
        log_part_width: 100000
    destinations:
      - name: lake
        table: /data/lake/table
        n_buckets: 64
    connections:
      - name: prod
        source: mainlog
        destination: lake
        batch_width: 1000000
        max_inflight: 4
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

# Concurrent batch preparations per run (commits stay ordered), the
# measured best at the bench point (sweep noted at run_incremental):
# the one default for the runner, the CLI and named connections.
MAX_INFLIGHT = 4


@dataclass
class SourceCfg:
    name: str
    log: str
    schema: str = "tokens"
    log_part_width: int = 100_000


@dataclass
class DestinationCfg:
    name: str
    table: str
    n_buckets: int = 64


@dataclass
class ConnectionCfg:
    name: str
    source: str
    destination: str
    batch_width: int = 1_000_000
    max_inflight: int = MAX_INFLIGHT
    use_arrow_udf: bool = False
    # per-connection schedule for the multi-connection daemon
    # (scheduler.run_sync_daemon — the reference's per-connection cron,
    # cmd/dlt/commands/sync.go:91-148): a 5-field cron expression wins
    # over the polling interval when set
    interval_secs: float = 5.0
    cron: str | None = None
    # cascade-delete mode for this connection's runs: "eager" (default,
    # CDC-out-complete child tombstones) or "markers" (opt-in
    # equality-delete markers — see runner.run_incremental)
    cascade_mode: str = "eager"
    # every N completed runs the daemon performs a maintenance tick for
    # this connection's table: materialize cascade markers (if any),
    # compact, expire old snapshots, vacuum orphans.  0 = never (use
    # the cron-able `maintain` CLI instead).
    maintain_every_runs: int = 0


@dataclass
class Config:
    sources: list[SourceCfg] = field(default_factory=list)
    destinations: list[DestinationCfg] = field(default_factory=list)
    connections: list[ConnectionCfg] = field(default_factory=list)


def load_config(path: str) -> Config:
    """Parse a YAML (or JSON) config file into the registry."""
    with open(path) as f:
        text = f.read()
    try:
        import yaml

        raw = yaml.safe_load(text)
    except ImportError:  # pragma: no cover — pyyaml ships in the sandbox
        raw = json.loads(text)
    raw = raw or {}
    return Config(
        sources=[SourceCfg(**s) for s in raw.get("sources", [])],
        destinations=[DestinationCfg(**d) for d in raw.get("destinations", [])],
        connections=[ConnectionCfg(**c) for c in raw.get("connections", [])],
    )


def get_connection_details(
    cfg: Config, connection_name: str
) -> tuple[SourceCfg, DestinationCfg, ConnectionCfg]:
    """Resolve a connection to its (source, destination) by name —
    utils/config.go:180-221 semantics, same three failure modes."""
    conn = next((c for c in cfg.connections if c.name == connection_name), None)
    if conn is None:
        raise KeyError(f"connection {connection_name} not found")
    src = next((s for s in cfg.sources if s.name == conn.source), None)
    if src is None:
        raise KeyError(
            f"source {conn.source} not found for connection {connection_name}"
        )
    dst = next((d for d in cfg.destinations if d.name == conn.destination), None)
    if dst is None:
        raise KeyError(
            f"destination {conn.destination} not found for connection "
            f"{connection_name}"
        )
    return src, dst, conn


def all_connections(cfg: Config) -> list[ConnectionCfg]:
    """utils/config.go:170-179 — empty registry is an error."""
    if not cfg.connections:
        raise ValueError("no connections defined")
    return list(cfg.connections)

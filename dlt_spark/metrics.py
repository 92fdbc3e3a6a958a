"""Prometheus textfile metrics — the reference exports live counters to
a Prometheus endpoint (utils/prometheus.go:34-68: synced bundles/bytes
counters, updated per page at loader/service.go:197-205).  A sandbox
has no scrape endpoint, so the daemon writes the node-exporter
*textfile-collector* format instead — the standard pull-less deployment
shape; point node_exporter's --collector.textfile.directory at the file
and the same counters land in Prometheus unchanged.

Counters are cumulative across rounds within a process (Prometheus
counter semantics); gauges reflect the latest table state (O(1) snapshot
metadata — no Spark job runs to report)."""

from __future__ import annotations

import os
import tempfile
import time


class MetricsWriter:
    """Accumulates run counters and atomically rewrites one .prom file."""

    def __init__(self, path: str | None, job_id: str = "dlt"):
        self.path = path  # None: no textfile, HTTP exposition only
        self.job_id = job_id
        self._last_body = ""
        self._counters = {
            "events_read_total": 0,
            "events_applied_total": 0,
            "deletes_applied_total": 0,
            "batches_applied_total": 0,
            "batches_skipped_total": 0,
            "rounds_total": 0,
        }

    def record_run(self, res, table) -> None:
        """Fold one RunResult + table handle into the counters and
        publish.  ``res.events_*`` mirror the reference's per-sync
        atomic adds (loader/service.go:200-202)."""
        c = self._counters
        c["events_read_total"] += res.events_read
        c["events_applied_total"] += res.events_applied
        c["deletes_applied_total"] += res.deletes_applied
        c["batches_applied_total"] += res.batches_applied
        c["batches_skipped_total"] += res.batches_skipped
        c["rounds_total"] += 1
        gauges = {
            "watermark": table.watermark(),
            "snapshot_version": table.version,
            "pending_delta_commits": len(table._snap["deltas"]),
            "base_rows": table._snap["base_rows"],
            "last_run_seconds": round(res.wall_secs, 3),
            "last_run_events_per_sec": round(res.events_per_sec, 1),
        }
        self._write(gauges)

    def _write(self, gauges: dict) -> None:
        label = f'{{job_id="{self.job_id}"}}'
        lines = [f"# dlt_spark metrics (textfile collector) {time.time():.0f}"]
        for name, v in self._counters.items():
            lines.append(f"# TYPE dlt_{name} counter")
            lines.append(f"dlt_{name}{label} {v}")
        for name, v in gauges.items():
            lines.append(f"# TYPE dlt_{name} gauge")
            lines.append(f"dlt_{name}{label} {v}")
        body = "\n".join(lines) + "\n"
        self._last_body = body
        if self.path is None:
            return
        # atomic replace: a scraper never reads a torn file
        d = os.path.dirname(os.path.abspath(self.path)) or "."
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d, suffix=".prom.tmp")
        with os.fdopen(fd, "w") as f:
            f.write(body)
        os.replace(tmp, self.path)

    def exposition(self) -> str:
        """Current Prometheus text exposition (last published body) —
        what the HTTP endpoint serves."""
        return self._last_body


class MetricsHTTPServer:
    """Optional live scrape endpoint — the reference serves its counters
    over HTTP (utils/prometheus.go:34-68 + promhttp); the sandbox
    default stays the textfile collector, but a deployment that wants a
    pull endpoint starts this alongside the daemon: ``GET /metrics``
    returns the concatenated current exposition of every registered
    :class:`MetricsWriter` (one per connection).  stdlib http.server on
    a daemon thread; ``port=0`` binds an ephemeral port (tests)."""

    def __init__(self, port: int = 0, host: str = "127.0.0.1"):
        self.host = host
        self.port = port
        self._writers: list[MetricsWriter] = []
        self._httpd = None
        self._thread = None

    def register(self, writer: "MetricsWriter") -> None:
        self._writers.append(writer)

    def start(self) -> int:
        """Bind + serve on a daemon thread; returns the bound port."""
        import http.server
        import threading

        writers = self._writers

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 — stdlib contract
                if self.path.rstrip("/") not in ("", "/metrics"):
                    self.send_response(404)
                    self.end_headers()
                    return
                body = "".join(w.exposition() for w in writers).encode()
                self.send_response(200)
                self.send_header(
                    "Content-Type", "text/plain; version=0.0.4"
                )
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *_):  # quiet: no per-scrape stderr
                pass

        self._httpd = http.server.ThreadingHTTPServer(
            (self.host, self.port), Handler
        )
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self.port

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None

"""S10 — HTTP entry point for the job runner (stdlib only).

The reference exposes every pipeline twice: an HTTP-triggered function
(`Pembelian/index.js:1-17`, bound by `Pembelian/function.json:1-17` to
GET/POST) and a cron timer twin (`PembelianTimer/function.json:5`). The
engine's primary entries are the CLI `run_job` and the dependency-ordered
nightly schedule (SURVEY §2.1 S10's prescribed mapping); this module adds
the HTTP twin so an operator of the reference keeps the "poke one job
over HTTP" workflow:

    POST     /run/<job name>   →  run_job(ALL_SPECS[<job name>])
    GET      /jobs             →  the registered job names

Responses mirror the reference's contract: the job runs synchronously in
the request (the Azure Functions host did the same — `index.js` awaits
`run()` before `context.done()`), 200 with the JobResult on success, 500
with the error text on failure (the reference logs the error into the
migration log and rethrows — `run.js`'s catch does the log-append; ours
does too, inside `run_job`), 404 for an unknown job name.

Auth: the reference's function host gated invocation behind function
keys (`function.json` authLevel); the twin's equivalent is a shared
secret — pass ``token=...`` and every ``/run/<job>`` request must carry
it in an ``X-Job-Key`` header (401 otherwise). ``/run`` accepts
POST only: a request there runs a job and advances its watermark, so a
GET gets 405 with an Allow header, although the reference bound GET
too.
``serve()`` binds loopback by default and refuses a non-loopback bind
without a token.

Jobs are serialized behind one lock: the reference ran one Node process
per function invocation against a DB that serialized writers; here a
single Spark driver is the writer, and two concurrent MERGEs into one
fact would race the parquet swap. A scheduler wanting parallelism runs
the DAG (`plans/schedule.py`), not concurrent HTTP pokes.
"""

from __future__ import annotations

import hmac
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import unquote

from pyspark.sql import SparkSession

from com_danliris_service_etl_spark.plans.jobs import JobSpec, run_job
from com_danliris_service_etl_spark.sources.catalog import Catalog
from com_danliris_service_etl_spark.sources.watermark import WatermarkStore


def make_server(
    spark: SparkSession,
    specs: dict[str, JobSpec],
    catalog: Catalog,
    store: WatermarkStore,
    host: str = "127.0.0.1",
    port: int = 0,
    token: str | None = None,
) -> ThreadingHTTPServer:
    """Build (not start) the trigger server; ``port=0`` binds an ephemeral
    port (tests). Call ``serve_forever()`` / ``shutdown()`` to run/stop.

    ``token`` gates ``/run/<job>`` behind an ``X-Job-Key`` header. A
    non-loopback bind without a token is refused HERE, where the socket
    is bound — /run mutates state (runs jobs, advances watermarks) and
    must never be open to arbitrary network peers, whichever entry
    point built the server."""
    if host not in ("127.0.0.1", "localhost", "::1") and token is None:
        raise ValueError(
            f"refusing to bind {host!r} without token=...; /run mutates state"
        )
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def _respond(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _handle(self) -> None:
            path = unquote(self.path.split("?", 1)[0])
            if path == "/jobs":
                self._respond(200, {"jobs": sorted(specs)})
                return
            if not path.startswith("/run/"):
                self._respond(404, {"error": f"no route {path}"})
                return
            if self.command == "GET":
                self.send_response(405)
                self.send_header("Allow", "POST")
                self.end_headers()
                return
            if token is not None and not hmac.compare_digest(
                self.headers.get("X-Job-Key") or "", token
            ):
                self._respond(401, {"error": "missing or bad X-Job-Key"})
                return
            name = path[len("/run/") :]
            spec = specs.get(name)
            if spec is None:
                self._respond(404, {"error": f"unknown job {name!r}"})
                return
            try:
                with lock:
                    res = run_job(spark, spec, catalog, store)
            except Exception as exc:  # noqa: BLE001 — mirror index.js error path
                # run_job already appended the Failed row to the log
                self._respond(500, {"job": name, "error": str(exc)[:500]})
                return
            self._respond(
                200,
                {
                    "job": res.job,
                    "rows": res.rows,
                    "status": res.status,
                    "started": res.started.isoformat(),
                    "finished": res.finished.isoformat(),
                },
            )

        do_GET = _handle
        do_POST = _handle

        def log_message(self, fmt, *args):  # noqa: D102 — silence test noise
            pass

    return ThreadingHTTPServer((host, port), Handler)


def serve(
    spark: SparkSession,
    specs: dict[str, JobSpec],
    catalog: Catalog,
    store: WatermarkStore,
    host: str = "127.0.0.1",
    port: int = 7071,
    token: str | None = None,
) -> None:
    """Blocking entry point (the Azure Functions host's default port was
    7071 locally). Ctrl-C stops cleanly. Binds loopback by default; a
    non-loopback bind without a shared-secret ``token`` is refused (the
    guard lives in ``make_server``, where the socket is bound)."""
    srv = make_server(spark, specs, catalog, store, host, port, token=token)
    try:
        srv.serve_forever()
    finally:
        srv.server_close()

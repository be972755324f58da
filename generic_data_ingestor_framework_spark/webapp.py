"""Interactive web surface: the reference's Streamlit upload →
process → schema/preview dashboard (`app.py:41-261`) re-expressed as a
dependency-free stdlib HTTP server over the same library calls.

Route contract (mirrors the reference's three panels):

- ``GET /``                    — minimal HTML shell (upload form + docs)
- ``POST /upload?name=f.json`` — body = file bytes, lands in the
  session upload dir (``app.py:98-123``'s file drop)
- ``POST /process?table=t``    — ingest the upload dir with the WEB
  path semantics: record-0 schema, insertion-order columns, no
  lineage (``app.py:125-201``); creates + fills the table
- ``GET /schema?table=t``      — PRAGMA table_info equivalent
  (``app.py:243-251``)
- ``GET /preview?table=t``     — SELECT * LIMIT 100 (``app.py:253-257``)
- ``GET /results``             — files/records/errors summary
  (``app.py:203-214``)

Responses are JSON (the Streamlit original renders dataframes; the
data contract — column order, types, row payloads — is what parity
means here, and it is exactly the one ``tests/test_ingest.py::
test_web_path_parity_end_to_end`` pins for the library calls).

Scale note: the server is a thin control plane — every data operation
is the same distributed plan the CLI path runs; nothing is computed in
the handler beyond driver-sized JSON marshalling.
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path
from urllib.parse import parse_qs, urlparse

from pyspark.sql import SparkSession

MAX_UPLOAD_BYTES = 64 * 1024 * 1024  # refuse larger bodies with 413: the
# upload lands on the driver's local disk before the DISTRIBUTED ingest
# reads it, so this bound is about not letting one request exhaust the
# control plane — bulk data arrives via the CLI/object-store path, not HTTP
MAX_PREVIEW_ROWS = 1000  # /preview collects to the driver; cap like the UI

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]{0,127}$")

_INDEX_HTML = """<!doctype html>
<html><head><title>generic_data_ingestor_framework_spark</title></head>
<body>
<h1>Data Ingestor (Spark)</h1>
<p>POST /upload?name=file.json (body = JSON bytes), then POST
/process?table=t, then GET /schema?table=t and /preview?table=t.</p>
</body></html>
"""


class _State:
    def __init__(self, spark: SparkSession, workdir: str | Path):
        self.spark = spark
        self.upload_dir = Path(workdir) / "uploads"
        self.upload_dir.mkdir(parents=True, exist_ok=True)
        self.results: dict | None = None
        self.lock = threading.Lock()  # one process at a time, like the UI


def _make_handler(state: _State):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # quiet test runs
            pass

        def _json(self, payload, code: int = 200) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self) -> None:  # noqa: N802 — http.server contract
            try:
                self._get()
            except Exception as ex:  # noqa: BLE001 — JSON contract, like the UI's st.error
                try:
                    self._json({"error": f"{type(ex).__name__}: {ex}"}, 500)
                except Exception:
                    pass  # client already gone

        def do_POST(self) -> None:  # noqa: N802 — http.server contract
            try:
                self._post()
            except Exception as ex:  # noqa: BLE001 — JSON contract, like the UI's st.error
                try:
                    self._json({"error": f"{type(ex).__name__}: {ex}"}, 500)
                except Exception:
                    pass  # client already gone

        def _get(self) -> None:
            url = urlparse(self.path)
            q = parse_qs(url.query)
            if url.path == "/":
                body = _INDEX_HTML.encode()
                self.send_response(200)
                self.send_header("Content-Type", "text/html")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            elif url.path == "/schema":
                from generic_data_ingestor_framework_spark import catalog

                table = q.get("table", [""])[0]
                # a /process rewrite drops the table for the length of its
                # write: read under the same lock, answer after it
                with state.lock:
                    cols = (
                        catalog.describe_table(state.spark, table)
                        if catalog.table_exists(state.spark, table)
                        else None
                    )
                if cols is None:
                    self._json({"error": f"no such table: {table}"}, 404)
                    return
                self._json({"table": table, "columns": cols})
            elif url.path == "/preview":
                from generic_data_ingestor_framework_spark import catalog, query

                table = q.get("table", [""])[0]
                try:
                    limit = int(q.get("limit", ["100"])[0])
                except ValueError:
                    self._json({"error": "limit must be an integer"}, 400)
                    return
                if not 0 <= limit <= MAX_PREVIEW_ROWS:
                    self._json(
                        {"error": f"limit must be in [0, {MAX_PREVIEW_ROWS}]"}, 400
                    )
                    return
                with state.lock:  # see /schema
                    found = catalog.table_exists(state.spark, table)
                    if found:
                        df = query.preview(state.spark, table, limit=limit)
                        rows = [[r[c] for c in df.columns] for r in df.collect()]
                if not found:
                    self._json({"error": f"no such table: {table}"}, 404)
                    return
                self._json({"table": table, "columns": df.columns, "rows": rows})
            elif url.path == "/results":
                if state.results is None:
                    self._json({"error": "nothing processed yet"}, 404)
                    return
                self._json(state.results)
            else:
                self._json({"error": "not found"}, 404)

        def _post(self) -> None:
            url = urlparse(self.path)
            q = parse_qs(url.query)
            try:
                n = int(self.headers.get("Content-Length", "0"))
            except ValueError:
                self._json({"error": "bad Content-Length"}, 400)
                return
            if n < 0:
                # read(-1) would block on the socket until client EOF
                self._json({"error": "bad Content-Length"}, 400)
                return
            if n > MAX_UPLOAD_BYTES:
                self._json(
                    {"error": f"body exceeds {MAX_UPLOAD_BYTES} bytes"}, 413
                )
                return
            body = self.rfile.read(n) if n else b""
            if url.path == "/upload":
                name = q.get("name", [""])[0]
                # basename-only: an upload may not escape the session dir
                # (Path.name keeps '..' as-is — reject dot names outright)
                safe = Path(name).name
                if not safe or safe in (".", "..") or "\x00" in safe:
                    self._json({"error": "missing or invalid ?name="}, 400)
                    return
                (state.upload_dir / safe).write_bytes(body)
                self._json({"uploaded": safe, "bytes": len(body)})
            elif url.path == "/process":
                from generic_data_ingestor_framework_spark import sink
                from generic_data_ingestor_framework_spark.ingest import ingest_directory

                table = q.get("table", ["processed_data"])[0]
                if not _IDENT.match(table):
                    # identifier-shaped only: table names reach saveAsTable
                    # and later /schema//preview lookups; reject rather
                    # than let hostile names hit the catalog parser
                    self._json({"error": "invalid table name"}, 400)
                    return
                with state.lock:
                    df, report = ingest_directory(
                        state.spark, state.upload_dir, schema_mode="first_record"
                    )
                    if df is None:
                        self._json({"error": "no processable files uploaded"}, 400)
                        return
                    df.write.mode("overwrite").saveAsTable(table)
                    state.results = {
                        "table": table,
                        "files_processed": report.files_processed,
                        "files_failed": report.files_failed,
                        "total_records": report.total_records,
                        "errors": report.errors,
                    }
                self._json(state.results)
            else:
                self._json({"error": "not found"}, 404)

    return Handler


def create_server(
    spark: SparkSession, workdir: str | Path, port: int = 0
) -> ThreadingHTTPServer:
    """Bind the web surface on ``port`` (0 = ephemeral, for tests).
    Caller starts it with ``serve_forever()`` (typically in a thread)
    and owns shutdown."""
    state = _State(spark, workdir)
    server = ThreadingHTTPServer(("127.0.0.1", port), _make_handler(state))
    server.ingestor_state = state  # test hook
    return server


def serve(spark: SparkSession, workdir: str | Path, port: int = 8501) -> None:
    """Blocking entry point (CLI ``--serve``): the reference's
    ``streamlit run app.py`` analog."""
    server = create_server(spark, workdir, port)
    print(f"serving on http://127.0.0.1:{server.server_port}")
    server.serve_forever()

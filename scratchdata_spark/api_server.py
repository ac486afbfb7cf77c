"""HTTP analytics gateway — the reference's API surface on stdlib
http.server (no external web framework in this environment).

Routes (reference: ``pkg/api/router.go:40-52``, destination CRUD
``pkg/api/destinations.go:15-80``, metrics ``pkg/api/prometheus.go``):
  POST /api/data/insert/{table}?api_key=&flatten=     ingest
  GET|POST /api/data/query?api_key=&query=&format=    query
  POST /api/data/query/share                          create share link
  GET  /share/{uuid}/data.{format}                    run share link
  POST /api/data/copy                                 cross-dest copy job
  GET  /api/tables  /api/tables/{t}/columns           introspection
  GET  /api/destinations            (admin)           list destinations
  POST /api/destinations            (admin)           create destination
  POST /api/destinations/{name}/keys (admin)          mint an API key
  GET  /metrics                                       Prometheus text
  GET  /healthcheck /ping                             liveness

Ingest is async exactly like the reference: flatten + __row_id in the
handler, buffer to the sink, 200 OK; rotation/upload/workers move the
batch into the warehouse. Responses stream (chunked serializer writes
directly to the socket file).
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from scratchdata_spark.flatten import flatten, to_ndjson
from scratchdata_spark.ids import next_row_id

CONTENT_TYPES = {
    "json": "application/json",
    "ndjson": "application/x-ndjson",
    "csv": "text/csv",
}


class Service:
    """Wires destinations + sink + queue + workers + shares + keys.
    The HTTP layer only talks to this object (testable without HTTP)."""

    def __init__(
        self,
        destinations,
        sink,
        queue,
        workers,
        shares,
        keys,
        destination_factory=None,
        metrics=None,
    ):
        from scratchdata_spark.metrics import Metrics

        self.destinations = destinations
        self.sink = sink
        self.queue = queue
        self.workers = workers
        self.shares = shares
        self.keys = keys
        self.destination_factory = destination_factory
        self.dashboard = None  # set by build_app when the UI is enabled
        self.metrics = metrics or Metrics()
        self.dest_types: dict[str, str] = {n: "spark" for n in destinations}
        # operational gauges, sampled at scrape time
        self.metrics.add_gauge(
            "queue_depth", "Unclaimed insert/copy jobs", queue.depth
        )
        self.metrics.add_gauge(
            "queue_dead_letters", "Poison messages parked after max attempts",
            lambda: len(queue.dead_letters()),
        )
        self.metrics.add_gauge(
            "worker_errors", "Recent job errors held in memory",
            lambda: len(workers.errors),
        )

    # ------------------------------------------- destination/key CRUD
    def create_destination(self, name: str, type_: str, settings: dict) -> dict:
        """Reference ``pkg/api/destinations.go:41-80``: register a new
        destination at runtime (multi-tenant onboarding path)."""
        if not re.match(r"^[A-Za-z_][A-Za-z0-9_]*$", name):
            raise ValueError(f"invalid destination name: {name!r}")
        if name in self.destinations:
            raise ValueError(f"destination exists: {name}")
        if self.destination_factory is None:
            raise ValueError("destination creation not configured")
        self.destinations[name] = self.destination_factory(name, type_, settings)
        self.dest_types[name] = type_
        return {"name": name, "type": type_}

    def list_destinations(self) -> list[dict]:
        return [
            {"name": n, "type": self.dest_types.get(n, "spark")}
            for n in sorted(self.destinations)
        ]

    def update_destination(self, name: str, type_: str, settings: dict) -> dict:
        """Swap a destination's backend in place with fresh settings;
        existing API keys keep resolving to it (the reference's
        UpdateDestination writes the new settings against the same
        row — ``connections/service.go:UpdateConnection``). The new
        backend is built FIRST, so a failed connection leaves the old
        one serving."""
        if name not in self.destinations:
            raise KeyError(name)
        if self.destination_factory is None:
            raise ValueError("destination creation not configured")
        fresh = self.destination_factory(name, type_, settings)
        old = self.destinations[name]
        self.destinations[name] = fresh
        self.dest_types[name] = type_
        close = getattr(old, "close", None)
        if callable(close):
            try:
                close()
            except Exception:
                pass
        return {"name": name, "type": type_}

    def delete_destination(self, name: str) -> None:
        """Reference ``pkg/connections/service.go:DeleteDestination``:
        drop the destination and every key that resolves to it."""
        dest = self.destinations.pop(name)  # KeyError → 404 upstream
        self.dest_types.pop(name, None)
        self.keys.drop_destination(name)
        close = getattr(dest, "close", None)
        if callable(close):
            try:
                close()
            except Exception:
                pass  # best-effort: the mapping entry is already gone

    def create_key(self, destination: str) -> str:
        """Reference ``destinations.go:15-22``: mint an API key for a
        destination; only the plaintext returned here ever exists —
        the store keeps the hash."""
        import uuid

        if destination not in self.destinations:
            raise KeyError(destination)
        key = str(uuid.uuid4())
        self.keys.add_key(key, destination)
        return key

    # ------------------------------------------------------------ ingest
    def insert(self, destination: str, table: str, body: bytes, flatten_style: str) -> int:
        try:
            parsed = json.loads(body)
        except json.JSONDecodeError as e:
            raise ValueError(f"invalid JSON: {e}") from e
        docs = parsed if isinstance(parsed, list) else [parsed]
        self.metrics.insert_bytes.observe(len(body))
        self.metrics.insert_array_length.observe(len(docs))
        n = 0
        for doc in docs:
            if not isinstance(doc, dict):
                raise ValueError("each document must be a JSON object")
            for tbl, payload in to_ndjson(flatten(table, doc, flatten_style)).items():
                rows = []
                for line in payload.strip().split("\n"):
                    row = json.loads(line)
                    if "__row_id" not in row or row["__row_id"] is None:
                        row["__row_id"] = next_row_id()
                    rows.append(json.dumps(row))
                self.sink.write_data(
                    destination, tbl, ("\n".join(rows) + "\n").encode()
                )
                n += len(rows)
        return n

    # ------------------------------------------------------------- query
    def validate_query(self, destination: str, q: str) -> None:
        """Parse/analyze the query so syntax/semantic errors surface
        BEFORE any response byte is written. The destination's plan
        cache keeps the analyzed plan, so the serializer that follows
        re-uses this work rather than repeating it (except for texts
        the cache refuses, which read the clock or draw random
        values: those analyze twice). Warehouse DML
        statements validate WITHOUT executing (query_df would run the
        side effect; the one real execution happens when the
        serializer calls it)."""
        dest = self.destinations[destination]  # KeyError → 404 upstream
        validate_stmt = getattr(dest, "validate_statement", None)
        if validate_stmt is not None:
            try:
                if validate_stmt(q):
                    return
            except KeyError as err:
                # 'no such table' must NOT reuse the KeyError →
                # 404-unknown-destination mapping of the line above
                raise ValueError(str(err)) from err
        try:
            dest.query_df(q)
        except NotImplementedError:  # backend without a DataFrame surface
            pass

    def query(self, destination: str, q: str, fmt: str, out) -> None:
        dest = self.destinations[destination]
        fmt = (fmt or "").lower()  # reference matches case-insensitively
        if fmt == "csv":
            dest.query_csv(q, out)
        elif fmt == "ndjson":
            dest.query_ndjson(q, out)
        else:
            dest.query_json(q, out)

    def copy(self, source: str, query: str, destination: str, table: str) -> int:
        return self.queue.enqueue(
            "copy_data",
            {"source": source, "query": query, "destination": destination, "table": table},
        )


class _ChunkedOut:
    """File-like text sink emitting HTTP/1.1 chunked frames as it fills.

    Driver memory stays bounded at ~chunk_size regardless of result
    size — the engine feeds it from ``toLocalIterator`` partition by
    partition, and each filled buffer goes straight to the socket as
    one chunk (the Spark analogue of the reference's fifo pump,
    ``duckdb/query.go:15-116``).
    """

    def __init__(self, wfile, chunk_size: int = 64 * 1024):
        self._w = wfile
        self._chunk = chunk_size
        self._buf: list[str] = []
        self._n = 0
        self.chunks_sent = 0
        self.total_bytes = 0

    def write(self, s: str) -> int:
        if not s:
            return 0
        self._buf.append(s)
        self._n += len(s)
        if self._n >= self._chunk:
            self._flush()
        return len(s)

    def _flush(self) -> None:
        if not self._n:
            return
        data = "".join(self._buf).encode()
        self._w.write(f"{len(data):x}\r\n".encode() + data + b"\r\n")
        self.chunks_sent += 1
        self.total_bytes += len(data)
        self._buf, self._n = [], 0

    def close(self) -> None:
        self._flush()
        self._w.write(b"0\r\n\r\n")


def _needs_admin(q: str) -> bool:
    """True if any statement of ``q`` (scripts included) is an
    admin-gated maintenance statement (COMPACT TABLE)."""
    from scratchdata_spark import warehouse_dml as W

    try:
        stmts = W.split_script(W.normalize(q))
    except Exception:  # noqa: BLE001 — malformed text fails later anyway
        return False
    return any(W.statement_kind(W.normalize(s)) == "compact" for s in stmts)


def _route_pattern(path: str) -> str:
    """Normalize a concrete path to its route pattern (metrics label —
    unbounded label cardinality would blow up the scrape)."""
    if re.fullmatch(r"/share/[0-9a-f-]+", path):
        return "/share/{uuid}"
    if path.startswith("/share/"):
        return "/share/{uuid}/data.{format}"
    if path.startswith("/dashboard/connections/edit/"):
        return "/dashboard/connections/edit/{name}"
    if path.startswith("/dashboard/connections/new/"):
        return "/dashboard/connections/new/{type}"
    if re.fullmatch(r"/request/[0-9a-f-]+", path):
        return "/request/{id}"
    if re.match(r"^/api/tables/[^/]+/columns$", path):
        return "/api/tables/{table}/columns"
    if re.match(r"^/api/tables/[^/]+/generations$", path):
        return "/api/tables/{table}/generations"
    if re.match(r"^/api/tables/[^/]+/compact$", path):
        return "/api/tables/{table}/compact"
    if re.match(r"^/api/tables/[^/]+/partitioning$", path):
        return "/api/tables/{table}/partitioning"
    if path.startswith("/api/data/insert/"):
        return "/api/data/insert/{table}"
    if re.match(r"^/api/destinations/[^/]+/keys$", path):
        return "/api/destinations/{name}/keys"
    return path


def make_handler(service: Service):
    import time

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def log_message(self, *args):  # quiet
            pass

        # ------------------------------------------------------ helpers
        def _params(self):
            u = urlparse(self.path)
            return u.path, {k: v[0] for k, v in parse_qs(u.query).items()}

        def _body(self) -> bytes:
            n = int(self.headers.get("Content-Length") or 0)
            return self.rfile.read(n) if n else b""

        def send_response(self, code, message=None):
            self._status = code
            super().send_response(code, message)

        def _send(self, code: int, payload: bytes, ctype: str = "application/json"):
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)
            self._resp_bytes = len(payload)

        def _json(self, code: int, obj) -> None:
            self._send(code, json.dumps(obj).encode())

        def _auth(self, params) -> str | None:
            key = params.get("api_key") or (
                self.headers.get("Authorization", "").removeprefix("Bearer ") or None
            )
            dest = service.keys.resolve(key, params.get("destination_id"))
            if dest is not None and dest not in service.destinations:
                # admin key + unknown ?destination_id: reject here so no
                # route ever KeyErrors and no poison job gets enqueued
                return None
            return dest

        # ------------------------------------------------------- routes
        def do_GET(self):
            self._instrumented(self._get)

        def do_POST(self):
            self._instrumented(self._post)

        def _instrumented(self, route_fn):
            t0 = time.perf_counter()
            self._status = 0
            self._resp_bytes = 0
            path, params = self._params()
            try:
                route_fn(path, params)
            finally:
                service.metrics.observe_request(
                    _route_pattern(path),
                    self._status,
                    time.perf_counter() - t0,
                    self._resp_bytes,
                )

        def _get(self, path, params):
            if path in ("/healthcheck", "/ping"):
                return self._json(200, {"status": "ok"})
            dash = getattr(service, "dashboard", None)
            if dash is not None and dash.handle_get(self, path, params):
                return
            if path == "/metrics":
                return self._send(
                    200, service.metrics.render().encode(),
                    "text/plain; version=0.0.4",
                )

            m = re.match(r"^/share/([0-9a-f-]+)/data\.(json|ndjson|csv)$", path)
            if m:
                share = service.shares.get(m.group(1))
                if share is None:
                    return self._json(404, {"error": "not found or expired"})
                return self._run_query(share.destination, share.query, m.group(2))

            dest = self._auth(params)
            if dest is None:
                return self._json(401, {"error": "unauthorized"})

            if path == "/api/data/query":
                q = params.get("query", "")
                if not q.strip():
                    return self._json(400, {"error": "missing query"})
                return self._run_query(
                    dest, q, params.get("format", "json"),
                    is_admin=self._is_admin(params),
                )
            if path == "/api/tables":
                return self._json(200, service.destinations[dest].tables())
            m = re.match(r"^/api/tables/([A-Za-z_][A-Za-z0-9_]*)/columns$", path)
            if m:
                return self._json(200, service.destinations[dest].columns(m.group(1)))
            m = re.match(
                r"^/api/tables/([A-Za-z_][A-Za-z0-9_]*)/generations$", path
            )
            if m:
                # time-travel introspection: which snapshots
                # table_at('t', N) can still read (engine.generations)
                d = service.destinations[dest]
                if not hasattr(d, "generations"):
                    return self._json(400, {"error": "not a warehouse table"})
                try:
                    return self._json(200, d.generations(m.group(1)))
                except KeyError:
                    return self._json(
                        404, {"error": f"no such table: {m.group(1)}"}
                    )
            if path == "/api/destinations":
                if not self._is_admin(params):
                    return self._json(401, {"error": "admin key required"})
                return self._json(200, service.list_destinations())
            return self._json(404, {"error": "not found"})

        def _is_admin(self, params) -> bool:
            key = params.get("api_key") or (
                self.headers.get("Authorization", "").removeprefix("Bearer ") or None
            )
            return service.keys.is_admin(key)

        def _post(self, path, params):
            dash = getattr(service, "dashboard", None)
            if dash is not None and dash.handle_post(self, path, params):
                return
            # destination/key CRUD (reference pkg/api/destinations.go)
            # is admin-gated and checked before the destination auth
            if path == "/api/destinations":
                if not self._is_admin(params):
                    return self._json(401, {"error": "admin key required"})
                try:
                    body = json.loads(self._body())
                    out = service.create_destination(
                        body["name"], body.get("type", "spark"),
                        body.get("settings", {}),
                    )
                except (json.JSONDecodeError, KeyError, ValueError) as e:
                    return self._json(400, {"error": f"bad request: {e}"})
                return self._json(200, out)
            m = re.match(r"^/api/destinations/([A-Za-z_][A-Za-z0-9_]*)/keys$", path)
            if m:
                if not self._is_admin(params):
                    return self._json(401, {"error": "admin key required"})
                try:
                    key = service.create_key(m.group(1))
                except KeyError:
                    return self._json(404, {"error": "unknown destination"})
                return self._json(200, {"key": key, "destination_id": m.group(1)})
            m = re.match(r"^/api/tables/([A-Za-z_][A-Za-z0-9_]*)/partitioning$", path)
            if m:
                # declare hive-style partitioning (admin, empty table)
                if not self._is_admin(params):
                    return self._json(401, {"error": "admin key required"})
                dst = service.destinations.get(
                    params.get("destination_id", "default")
                )
                if dst is None or not hasattr(dst, "set_partitioning"):
                    return self._json(404, {"error": "unknown destination"})
                try:
                    dst.set_partitioning(m.group(1), params.get("column"))
                except KeyError:
                    return self._json(404, {"error": "unknown table"})
                except ValueError as e:
                    return self._json(400, {"error": str(e)})
                return self._json(200, {"table": m.group(1), "partition_col": params.get("column")})
            m = re.match(r"^/api/tables/([A-Za-z_][A-Za-z0-9_]*)/compact$", path)
            if m:
                # small-file maintenance (admin): fold the table's
                # micro-batch parquet files into target-size files
                if not self._is_admin(params):
                    return self._json(401, {"error": "admin key required"})
                dst = service.destinations.get(
                    params.get("destination_id", "default")
                )
                if dst is None or not hasattr(dst, "compact_table"):
                    return self._json(404, {"error": "unknown destination"})
                sort_cols = [
                    c.strip()
                    for c in params.get("sort_cols", "").split(",")
                    if c.strip()
                ]
                try:
                    return self._json(
                        200,
                        dst.compact_table(
                            m.group(1),
                            min_files=int(params.get("min_files", 8)),
                            sort_cols=sort_cols or None,
                        ),
                    )
                except KeyError:
                    return self._json(404, {"error": "unknown table"})
                except ValueError as err:  # unknown sort column
                    return self._json(400, {"error": str(err)})

            dest = self._auth(params)
            if dest is None:
                return self._json(401, {"error": "unauthorized"})

            m = re.match(r"^/api/data/insert/([A-Za-z_][A-Za-z0-9_]*)$", path)
            if m:
                try:
                    n = service.insert(
                        dest, m.group(1), self._body(), params.get("flatten", "horizontal")
                    )
                except ValueError as e:
                    return self._json(400, {"error": str(e)})
                return self._json(200, {"rows": n})

            if path == "/api/data/query":
                body = self._body().decode()
                q = params.get("query") or body
                try:
                    payload = json.loads(body)
                    if isinstance(payload, dict) and "query" in payload:
                        q = payload["query"]
                except json.JSONDecodeError:
                    pass
                if not q.strip():
                    return self._json(400, {"error": "missing query"})
                return self._run_query(
                    dest, q, params.get("format", "json"),
                    is_admin=self._is_admin(params),
                )

            if path == "/api/data/query/share":
                try:
                    body = json.loads(self._body())
                    uid = service.shares.create(
                        dest,
                        body.get("name", ""),
                        body["query"],
                        float(body.get("duration", 3600)),
                    )
                except (json.JSONDecodeError, KeyError) as e:
                    return self._json(400, {"error": f"bad request: {e}"})
                return self._json(200, {"id": uid})

            if path == "/api/data/copy":
                try:
                    body = json.loads(self._body())
                    job = service.copy(
                        dest,
                        body["query"],
                        body["destination_id"],
                        body["destination_table"],
                    )
                except (json.JSONDecodeError, KeyError) as e:
                    return self._json(400, {"error": f"bad request: {e}"})
                return self._json(200, {"job_id": job})

            return self._json(404, {"error": "not found"})

        def _run_query(self, dest: str, q: str, fmt: str, is_admin=False):
            # Maintenance statements are admin-gated like their HTTP
            # route twins: a plain query key must not trigger a
            # full-table rewrite + generation flip (which also retires
            # time-travel history). Checked against every statement of
            # a script, so a COMPACT can't hide mid-script.
            if not is_admin and _needs_admin(q):
                return self._json(
                    401, {"error": "admin key required for COMPACT TABLE"}
                )
            # Analyze first: errors still get a clean 4xx/5xx because no
            # header has been sent yet (plan-cached — not repeated work).
            try:
                service.validate_query(dest, q)
            except KeyError:
                return self._json(404, {"error": f"unknown destination {dest}"})
            except Exception as e:  # noqa: BLE001 — surface backend errors as 500
                return self._json(500, {"error": str(e).split("\n")[0][:500]})
            self.send_response(200)
            self.send_header(
                "Content-Type",
                CONTENT_TYPES.get((fmt or "").lower(), "application/json"),
            )
            self.send_header("Transfer-Encoding", "chunked")
            self.end_headers()
            out = _ChunkedOut(self.wfile)
            try:
                service.query(dest, q, fmt, out)
                out.close()
                self._resp_bytes = out.total_bytes
            except Exception:  # noqa: BLE001
                # headers are gone: a mid-stream failure can only abort
                # the connection (same contract as the reference's fifo)
                self.close_connection = True

    return Handler


class ApiServer:
    def __init__(self, service: Service, host: str = "127.0.0.1", port: int = 0):
        self.httpd = ThreadingHTTPServer((host, port), make_handler(service))
        self.port = self.httpd.server_address[1]
        self._thread: threading.Thread | None = None

    def start(self) -> None:
        self._thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self.httpd.shutdown()
        if self._thread:
            self._thread.join(timeout=5)

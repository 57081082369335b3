"""HTTP surface: POST /v1/query (+ /v1/query/<name> stored routes).

The reference engine serves dynamic queries over HTTP
(sdks/python/src/helixdb/client.py:14-15,170-196: ``POST {base}/v1/query``
with Bearer auth headers) and stored routes deployed from ``queries.json``
bundles (query_generator.rs:49-62, versions 4/5). This module reproduces
that lifecycle on the Spark engine with the stdlib HTTP server — the
request/response JSON is identical; auth headers are accepted and ignored
(local mode, like the CLI's local runtime).

Responses mirror the observed contract: 200 + JSON object keyed by the
batch's ``returns`` names (client.py:207-215); errors are
``{"error": message}`` with 400 (bad request) / 404 (unknown route) /
500 (execution failure).
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Dict, Optional

from .engine import HelixSparkEngine
from .plans.wire import WireError, parse_request, walk_steps

SUPPORTED_BUNDLE_VERSIONS = (4, 5)


class QueryBundle:
    """Stored routes loaded from a ``queries.json`` payload."""

    def __init__(self, read_routes: Dict[str, dict],
                 write_routes: Dict[str, dict],
                 read_parameters: Optional[dict] = None,
                 write_parameters: Optional[dict] = None):
        self.read_routes = read_routes
        self.write_routes = write_routes
        self.read_parameters = read_parameters or {}
        self.write_parameters = write_parameters or {}

    @classmethod
    def from_json(cls, payload: dict) -> "QueryBundle":
        version = payload.get("version")
        if version not in SUPPORTED_BUNDLE_VERSIONS:
            raise WireError(
                f"unsupported query bundle version {version} "
                f"(expected one of {SUPPORTED_BUNDLE_VERSIONS})")
        return cls(dict(payload.get("read_routes") or {}),
                   dict(payload.get("write_routes") or {}),
                   dict(payload.get("read_parameters") or {}),
                   dict(payload.get("write_parameters") or {}))

    def request_for(self, name: str,
                    parameters: Optional[dict] = None) -> dict:
        """Build a dynamic-request JSON for a stored route + param payload."""
        if name in self.read_routes:
            mode, query = "read", self.read_routes[name]
            declared = self.read_parameters.get(name, ())
        elif name in self.write_routes:
            mode, query = "write", self.write_routes[name]
            declared = self.write_parameters.get(name, ())
        else:
            raise KeyError(name)
        types = {p["name"]: p["ty"] for p in declared
                 if isinstance(p, dict) and isinstance(p.get("ty"), str)}
        return {"request_type": mode, "query_name": name, "query": query,
                "parameters": parameters or {},
                "parameter_types": types}


class HelixSparkServer:
    """Engine + optional stored-route bundle behind HTTP."""

    def __init__(self, engine: HelixSparkEngine,
                 bundle: Optional[QueryBundle] = None):
        self.engine = engine
        self.bundle = bundle
        self._httpd: Optional[ThreadingHTTPServer] = None
        self._thread: Optional[threading.Thread] = None
        # single-writer execution like the reference's engine container;
        # Spark driver-side mutation is not concurrency-safe
        self._lock = threading.Lock()

    # -- request handling (transport-independent, testable directly) -------

    def handle(self, path: str, body: dict,
               headers: Optional[dict] = None) -> tuple:
        """(status, response-json) for a POST.

        Honored header toggles (sdks/rust/src/lib.rs:278-298):
        - ``x-helix-warm: true`` — only execute if the query is already
          warm: every search step's index must be materialized in memory.
          Cold => 425 (Too Early) so the client can retry un-warmed.
        - ``x-helix-await-durable: true`` — after a write batch, eagerly
          checkpoint every mutated table before responding (the Spark
          analogue of awaiting WAL durability).
        """
        hdrs = {str(k).lower(): str(v) for k, v in (headers or {}).items()}
        try:
            if path == "/v1/query":
                request = body
            elif path.startswith("/v1/query/"):
                name = path[len("/v1/query/"):]
                if self.bundle is None:
                    return 404, {"error": "no query bundle deployed"}
                try:
                    request = self.bundle.request_for(
                        name, body.get("parameters", body))
                except KeyError:
                    return 404, {"error": f"unknown stored query {name!r}"}
            else:
                return 404, {"error": f"unknown path {path!r}"}
            with self._lock:
                if hdrs.get("x-helix-warm") == "true":
                    cold = self._cold_reason(request)
                    if cold is not None:
                        return 425, {"error": f"warm-only request: {cold}"}
                resp = self.engine.execute_json(request)
                if (hdrs.get("x-helix-await-durable") == "true"
                        and request.get("request_type") == "write"):
                    self.engine.catalog.checkpoint_durable()
                return 200, resp
        except (WireError, KeyError, ValueError, PermissionError) as ex:
            return 400, {"error": str(ex)}
        except Exception as ex:  # noqa: BLE001 — surface as 500, don't kill the server
            return 500, {"error": f"{type(ex).__name__}: {ex}"}

    def _cold_reason(self, request: dict) -> Optional[str]:
        """None if every search step's index is warm in the cache its
        probe reads, else a description of the first cold index. A
        registered disk layout (lsh_disk/ivf_disk) is probed first and
        builds nothing; disk-backed BM25 shares the in-memory key."""
        from .catalog import _ID
        from .operators.search import ivf_source
        from .operators.similarity import _IVF_CACHE, ivf_key

        batch = parse_request(request)
        mat = self.engine.catalog._materialized
        for step in walk_steps(batch.entries):
            name = type(step).__name__
            if name == "TextSearch":
                kind = "bm25"
            elif name == "VectorSearch":
                # the kind the step will actually probe (ADVICE r4)
                kind = {"lsh": "lsh", "ivf": "ivf"}.get(step.method,
                                                       "vecnorm")
            else:
                continue
            at = (step.target, step.label, step.property)
            disk = (kind + "_disk",) + at
            if disk in mat:
                warm = mat.warm(disk)
            elif kind == "ivf":
                base, iters = ivf_source(self.engine.catalog, *at)
                warm = _IVF_CACHE.warm(ivf_key(
                    base, _ID, step.property, refine_iters=iters))
            else:
                warm = mat.warm((kind,) + at)
            if not warm:
                return (f"index for ({step.label}, {step.property}) "
                        f"is not materialized ({kind})")
        return None

    # -- HTTP lifecycle -----------------------------------------------------

    def start(self, host: str = "127.0.0.1", port: int = 0) -> int:
        """Start serving on a background thread; returns the bound port."""
        server = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802 — stdlib API
                length = int(self.headers.get("Content-Length") or 0)
                raw = self.rfile.read(length) if length else b"{}"
                try:
                    body = json.loads(raw or b"{}")
                except json.JSONDecodeError as ex:
                    status, resp = 400, {"error": f"bad JSON: {ex}"}
                else:
                    status, resp = server.handle(self.path, body,
                                                 headers=dict(self.headers))
                data = json.dumps(resp).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def log_message(self, *args):  # quiet
                pass

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._thread = threading.Thread(target=self._httpd.serve_forever,
                                        daemon=True)
        self._thread.start()
        return self._httpd.server_address[1]

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None

    # -- readiness (local_runtime.rs:584-600 probes with a real query) ------

    def ready(self) -> bool:
        status, _ = self.handle("/v1/query", {
            "request_type": "read",
            "query": {"queries": [{"Query": {
                "name": "__ready__",
                "steps": [{"NWhere": {"Eq": ["$label",
                                             {"String": "__HelixReadiness__"}]}},
                          "Count"],
                "condition": None}}],
                "returns": ["__ready__"]},
        })
        return status == 200

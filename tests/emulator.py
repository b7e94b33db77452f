"""In-process Loki HTTP emulator for e2e tests (FIXTURES.md §3).

Substitutes the reference's dockerized Loki (integration-tests/testdata/
docker-compose.yaml + loki-config.yaml parquet encoding). Implements:

- GET  /loki/api/v1/status/buildinfo  → 200 JSON
- GET  /loki/api/v1/query_range       → parquet bytes (ns timestamps,
        map<string,string> labels, line), honoring LogQL stream selectors
        (k="v", k!="v", k=~"rx", k!~"rx"), line filters (|=, !=, |~, !~,
        (?i) prefix), start/end (start ≤ ts < end) and limit
- POST /loki/api/v1/push              → appends to the in-memory store

Records every query string in ``queries`` so tests can assert pushdown
actually happened (the reference asserts this indirectly via golden plans,
integration-tests/tests/table.rs:101-142).
"""

from __future__ import annotations

import io
import json
import re
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pyarrow as pa
import pyarrow.parquet as pq

_MATCHER_RE = re.compile(r'(\w+)\s*(=~|!~|!=|=)\s*"((?:[^"\\]|\\.)*)"')
_LINE_FILTER_RE = re.compile(r"(\|=|!=|\|~|!~)\s*`([^`]*)`")


def _selector_end(query: str) -> int:
    """Index of the selector's CLOSING brace — the first ``}`` outside a
    double-quoted matcher value. ``query.index('}')`` truncated the
    selector whenever a quoted value contained a brace (any regex
    quantifier like ``x{2,3}``), silently dropping every matcher and
    selecting all streams (round-9 review)."""
    in_quotes = escaped = False
    for i, ch in enumerate(query):
        if escaped:
            escaped = False
        elif ch == "\\" and in_quotes:
            escaped = True
        elif ch == '"':
            in_quotes = not in_quotes
        elif ch == "}" and not in_quotes:
            return i
    raise ValueError(f"unterminated stream selector: {query!r}")


def _matcher_ok(labels: dict, key: str, op: str, value: str) -> bool:
    actual = labels.get(key)
    if op == "=":
        return actual == value
    if op == "!=":
        return actual != value
    if op == "=~":
        return actual is not None and re.fullmatch(value, actual) is not None
    if op == "!~":
        return actual is None or re.fullmatch(value, actual) is None
    return False


def _line_ok(line: str, op: str, arg: str) -> bool:
    if op == "|=":
        return arg in line
    if op == "!=":
        return arg not in line
    if op == "|~":
        return re.search(arg, line) is not None
    if op == "!~":
        return re.search(arg, line) is None
    return False


class LokiEmulator:
    def __init__(self):
        # rows: (ns:int, labels:dict[str,str], line:str)
        self.rows: list[tuple[int, dict, str]] = []
        self.queries: list[str] = []
        # raw body of every push request, in arrival order
        self.pushes: list[bytes] = []
        # flattened single-value view of each query_range param set, so
        # tests can assert limit/direction/start/end pushdown
        self.params: list[dict] = []
        # fault injection: each query_range request decrements this and
        # fails with 500 while it is positive (tests of retry behavior)
        self.fail_next = 0
        self.lock = threading.Lock()
        emulator = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):
                pass

            def do_GET(self):
                parsed = urllib.parse.urlparse(self.path)
                if parsed.path == "/loki/api/v1/status/buildinfo":
                    body = json.dumps({"version": "emulator"}).encode()
                    self.send_response(200)
                    self.send_header("Content-Type", "application/json")
                    self.end_headers()
                    self.wfile.write(body)
                    return
                if parsed.path == "/loki/api/v1/query_range":
                    with emulator.lock:
                        if emulator.fail_next > 0:
                            emulator.fail_next -= 1
                            self.send_response(500)
                            self.end_headers()
                            return
                    params = urllib.parse.parse_qs(parsed.query)
                    body = emulator.handle_query_range(params)
                    self.send_response(200)
                    self.send_header("Content-Type", "application/vnd.apache.parquet")
                    self.end_headers()
                    self.wfile.write(body)
                    return
                self.send_response(404)
                self.end_headers()

            def do_POST(self):
                if self.path == "/loki/api/v1/push":
                    length = int(self.headers.get("Content-Length", "0"))
                    body = self.rfile.read(length)
                    with emulator.lock:
                        emulator.pushes.append(body)
                    emulator.handle_push(json.loads(body))
                    self.send_response(204)
                    self.end_headers()
                    return
                self.send_response(404)
                self.end_headers()

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)

    @property
    def endpoint(self) -> str:
        return f"http://127.0.0.1:{self.server.server_address[1]}"

    def start(self) -> "LokiEmulator":
        self.thread.start()
        return self

    def stop(self) -> None:
        self.server.shutdown()

    def seed(self, rows) -> None:
        with self.lock:
            self.rows.extend(rows)

    def handle_push(self, payload: dict) -> None:
        new_rows = []
        for stream in payload.get("streams", []):
            labels = dict(stream.get("stream", {}))
            for ns_str, line in stream.get("values", []):
                new_rows.append((int(ns_str), labels, line))
        self.seed(new_rows)

    def handle_query_range(self, params: dict) -> bytes:
        query = params["query"][0]
        start = int(params["start"][0])
        end = int(params["end"][0])
        limit = int(params["limit"][0]) if "limit" in params else None
        # faithful to real Loki: direction defaults to BACKWARD, where a hit
        # limit keeps the NEWEST rows — a client that forgets to send
        # direction=forward gets a different row set than it pinned
        direction = params.get("direction", ["backward"])[0]
        with self.lock:
            self.queries.append(query)
            self.params.append({k: v[0] for k, v in params.items()})
            rows = list(self.rows)

        # split selector {..} from trailing line filters. Matcher values
        # are Go-quoted string literals: real Loki strconv.Unquotes them,
        # so the emulator must too — comparing the ESCAPED text against
        # raw label values silently dropped every stream whose value
        # contains a backslash or double quote (found by the round-9
        # matcher-tuple fuzzer; \\ -> \ and \" -> " are the only escapes
        # the client's _quote_label_value emits)
        close = _selector_end(query)
        selector, rest = query[: close + 1], query[close + 1 :]
        matchers = [
            (k, op, re.sub(r"\\(.)", r"\1", v))
            for k, op, v in _MATCHER_RE.findall(selector)
        ]
        line_filters = _LINE_FILTER_RE.findall(rest)

        selected = []
        for ns, labels, line in rows:
            if not (start <= ns < end):
                continue
            if not all(_matcher_ok(labels, k, op, v) for k, op, v in matchers):
                continue
            if not all(_line_ok(line, op, arg) for op, arg in line_filters):
                continue
            selected.append((ns, labels, line))
        selected.sort(key=lambda r: r[0])
        if limit is not None:
            if direction == "backward":
                selected = selected[-limit:]
            else:
                selected = selected[:limit]

        table = pa.table(
            {
                "timestamp": pa.array([r[0] for r in selected], pa.timestamp("ns")),
                "labels": pa.array(
                    [list(r[1].items()) for r in selected],
                    pa.map_(pa.string(), pa.string()),
                ),
                "line": pa.array([r[2] for r in selected], pa.string()),
            }
        )
        buf = io.BytesIO()
        pq.write_table(table, buf)
        return buf.getvalue()

"""In-process OData v4 stub: serves generated entities over HTTP on
127.0.0.1 with Basic auth.

Supported requests: ``$metadata``; ``<Set>`` and ``<Set>/$count``; the
query options ``$filter`` (eq/ne/gt/ge/lt/le, and/or/not, parentheses,
null/true/false, numbers, 'strings', dates and ISO-8601 date-times),
``$orderby`` (asc/desc), ``$skip``, ``$top``, ``$select``,
``$expand=<CHILD>_SUBFORM`` and ``$count=true``. Property names are the
server's upper-case names. Unknown options, properties or sets answer
400/404 rather than being ignored.

Rendered bodies are cached by request target, so after the first request
of each page, serving is a dictionary lookup plus a socket write: the
numbers then measure the connector, not the stub. At most
``max_concurrency`` requests are served at once.

Counters (requests, bytes, errors, busy time, first-request and
last-response clock) are kept per :meth:`take_stats` window.
"""

from __future__ import annotations

import base64
import http.server
import json
import re
import sys
import threading
import time
import urllib.parse
from datetime import date, datetime, timezone

import pyarrow as pa

_EDM = {
    pa.int64(): "Edm.Int64", pa.int32(): "Edm.Int32", pa.float64(): "Edm.Double",
    pa.string(): "Edm.String", pa.timestamp("us"): "Edm.DateTimeOffset",
}


class ODataError(Exception):
    def __init__(self, status: int, message: str):
        super().__init__(message)
        self.status = status


# -- $filter ---------------------------------------------------------------

_TOKEN = re.compile(r"""
    \s*(?:
      (?P<str>'(?:[^']|'')*')
    | (?P<dt>\d{4}-\d{2}-\d{2}T\d{2}:\d{2}(?::\d{2}(?:\.\d+)?)?(?:Z|[+-]\d{2}:\d{2}))
    | (?P<date>\d{4}-\d{2}-\d{2})
    | (?P<num>[+-]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
    | (?P<paren>[()])
    | (?P<word>[A-Za-z_][A-Za-z0-9_]*)
    )""", re.X)
_CMP = {
    "eq": lambda a, b: a == b, "ne": lambda a, b: a != b,
    "gt": lambda a, b: a > b, "ge": lambda a, b: a >= b,
    "lt": lambda a, b: a < b, "le": lambda a, b: a <= b,
}
_CONST = {"null": None, "true": True, "false": False}


def _tokens(text: str) -> list[tuple[str, object]]:
    out, pos = [], 0
    text = text.rstrip()
    while pos < len(text):
        m = _TOKEN.match(text, pos)
        if not m or m.end() == pos:
            raise ODataError(400, f"bad $filter near {text[pos:pos + 20]!r}")
        pos = m.end()
        kind = m.lastgroup
        raw = m.group(kind)
        if kind == "str":
            out.append(("lit", raw[1:-1].replace("''", "'")))
        elif kind == "dt":
            dt = datetime.fromisoformat(raw.replace("Z", "+00:00"))
            out.append(("lit", dt.astimezone(timezone.utc).replace(tzinfo=None)))
        elif kind == "date":
            out.append(("lit", datetime.combine(date.fromisoformat(raw), datetime.min.time())))
        elif kind == "num":
            out.append(("lit", float(raw) if any(c in raw for c in ".eE") else int(raw)))
        elif kind == "paren":
            out.append((raw, raw))
        elif raw in _CONST:
            out.append(("lit", _CONST[raw]))
        else:
            out.append(("word", raw))
    return out


def parse_filter(text: str, properties: set[str], collections: set[str] = frozenset()):
    """Compile an OData ``$filter`` into a predicate over row dicts.

    ``collections`` names collection-valued navigation properties. The
    only comparison allowed on one is against null, matched without
    regard to case: an expanded collection is never null (it is ``[]``
    when empty), so ``ne null`` is true and ``eq null`` false. The
    ``odata_like`` connector pushes exactly this filter, in lower case,
    whenever a plan explodes the sub-form column."""
    toks = _tokens(text)
    pos = 0
    nav = {c.upper() for c in collections}

    def peek():
        return toks[pos] if pos < len(toks) else (None, None)

    def take():
        nonlocal pos
        pos += 1
        return toks[pos - 1]

    def operand():
        kind, val = take()
        if kind == "lit":
            return "lit", (lambda row, v=val: v), val
        if kind == "word" and val in properties:
            return "prop", (lambda row, k=val: row[k]), val
        if kind == "word" and val.upper() in nav:
            return "nav", None, val
        raise ODataError(400, f"bad $filter operand {val!r}")

    def primary():
        if peek()[0] == "(":
            take()
            inner = disjunction()
            if take()[0] != ")":
                raise ODataError(400, "unbalanced parentheses in $filter")
            return inner
        lkind, left, lval = operand()
        kind, op = take()
        if kind != "word" or op not in _CMP:
            raise ODataError(400, f"bad $filter operator {op!r}")
        rkind, right, rval = operand()
        cmp = _CMP[op]
        if "nav" in (lkind, rkind):
            other = (rkind, rval) if lkind == "nav" else (lkind, lval)
            if op not in ("eq", "ne") or other != ("lit", None):
                raise ODataError(400, f"collection {lval if lkind == 'nav' else rval!r} "
                                      "compares only to null")
            return lambda row, v=op == "ne": v

        def pred(row):
            a, b = left(row), right(row)
            if a is None or b is None:
                return cmp(a, b) if op in ("eq", "ne") else False
            return cmp(a, b)
        return pred

    def negation():
        if peek() == ("word", "not"):
            take()
            inner = negation()
            return lambda row: not inner(row)
        return primary()

    def conjunction():
        preds = [negation()]
        while peek() == ("word", "and"):
            take()
            preds.append(negation())
        return preds[0] if len(preds) == 1 else (lambda row: all(p(row) for p in preds))

    def disjunction():
        preds = [conjunction()]
        while peek() == ("word", "or"):
            take()
            preds.append(conjunction())
        return preds[0] if len(preds) == 1 else (lambda row: any(p(row) for p in preds))

    pred = disjunction()
    if pos != len(toks):
        raise ODataError(400, f"trailing tokens in $filter: {toks[pos:]}")
    return pred


# -- entity model ------------------------------------------------------------

class EntitySet:
    """One served entity set: upper-case property names, typed rows."""

    def __init__(self, name: str, table: pa.Table, key: list[str]):
        self.name = name.upper()
        self.props = [c.upper() for c in table.column_names]
        self.types = {c.upper(): _EDM[t] for c, t in zip(table.column_names, table.schema.types)}
        self.key = [k.upper() for k in key]
        self.rows = [
            {k.upper(): v for k, v in r.items()} for r in table.to_pylist()
        ]

    def edmx(self) -> str:
        keys = "".join(f'<PropertyRef Name="{k}"/>' for k in self.key)
        props = "".join(
            f'<Property Name="{p}" Type="{self.types[p]}"/>' for p in self.props)
        return f'<EntityType Name="{self.name}"><Key>{keys}</Key>{props}</EntityType>'


def _json_value(v):
    if isinstance(v, datetime):
        frac = f".{v.microsecond:06d}" if v.microsecond else ""
        return v.strftime("%Y-%m-%dT%H:%M:%S") + frac + "Z"
    return v


class ODataStub:
    """Serve ``parent`` with ``$expand`` of ``child`` rows joined on
    ``child_fk`` = the parent's single key column."""

    def __init__(self, parent: EntitySet, child: EntitySet, child_fk: str,
                 user: str, password: str, max_concurrency: int):
        self.sets = {parent.name: parent, child.name: child}
        self.parent, self.child = parent, child
        self.children: dict = {}
        fk = child_fk.upper()
        for r in child.rows:
            self.children.setdefault(r[fk], []).append(r)
        self.auth = "Basic " + base64.b64encode(f"{user}:{password}".encode()).decode()
        self.metadata = (
            '<?xml version="1.0" encoding="utf-8"?>'
            '<edmx:Edmx xmlns:edmx="http://docs.oasis-open.org/odata/ns/edmx" Version="4.0">'
            '<edmx:DataServices>'
            '<Schema xmlns="http://docs.oasis-open.org/odata/ns/edm" Namespace="Priority">'
            + parent.edmx() + child.edmx()
            + '<EntityContainer Name="Container">'
            + "".join(f'<EntitySet Name="{s}" EntityType="Priority.{s}"/>' for s in self.sets)
            + "</EntityContainer></Schema></edmx:DataServices></edmx:Edmx>"
        ).encode()
        self._cache: dict[str, tuple[int, str, bytes]] = {}
        self._lock = threading.Condition()
        self._inflight = 0
        self._gate = threading.BoundedSemaphore(max_concurrency)
        self.take_stats()
        self._httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), self._handler())
        self._httpd.daemon_threads = True
        self.uri = f"http://127.0.0.1:{self._httpd.server_port}"
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()

    def close(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join()

    def take_stats(self) -> dict:
        """Return the counters since the previous call and reset them.
        Waits for requests in flight: a client can see a response before
        its handler has counted it."""
        with self._lock:
            self._lock.wait_for(lambda: self._inflight == 0, timeout=5)
            prev = getattr(self, "_stats", None)
            self._stats = {"requests": 0, "errors": 0, "bytes": 0, "busy_s": 0.0,
                           "first": None, "last": None}
        return prev

    # -- request handling ----------------------------------------------------

    def render(self, target: str, authorization: str | None) -> tuple[int, str, bytes]:
        if authorization != self.auth:
            return 401, "application/json", b'{"error":{"code":"401","message":"unauthorized"}}'
        with self._lock:
            hit = self._cache.get(target)
        if hit is not None:
            return hit
        try:
            out = (200, *self._render(target))
        except ODataError as e:
            print(f"odata stub: {e.status} {target}: {e}", file=sys.stderr)
            out = (e.status, "application/json",
                   json.dumps({"error": {"code": str(e.status), "message": str(e)}}).encode())
        with self._lock:
            self._cache[target] = out
        return out

    def _render(self, target: str) -> tuple[str, bytes]:
        parsed = urllib.parse.urlsplit(target)
        if "+" in parsed.query:
            raise ODataError(400, "raw '+' in query; encode spaces as %20")
        params = {}
        for pair in parsed.query.split("&") if parsed.query else []:
            k, _, v = pair.partition("=")
            params[urllib.parse.unquote(k)] = urllib.parse.unquote(v)
        parts = [p for p in parsed.path.split("/") if p]
        if parts == ["$metadata"]:
            return "application/xml", self.metadata
        if not parts or parts[0] not in self.sets or len(parts) > 2 \
                or (len(parts) == 2 and parts[1] != "$count"):
            raise ODataError(404, f"no resource {parsed.path!r}")
        es = self.sets[parts[0]]
        known = {"$filter", "$orderby", "$skip", "$top", "$select", "$expand", "$count"}
        unknown = set(params) - known
        if unknown:
            raise ODataError(400, f"unsupported query options {sorted(unknown)}")
        rows = es.rows
        if "$filter" in params:
            nav = {f"{self.child.name}_SUBFORM"} if es is self.parent else set()
            pred = parse_filter(params["$filter"], set(es.props), nav)
            rows = [r for r in rows if pred(r)]
        if len(parts) == 2:
            return "text/plain", str(len(rows)).encode()
        total = len(rows)
        if "$orderby" in params:
            for item in reversed([s.strip() for s in params["$orderby"].split(",")]):
                name, _, direction = item.partition(" ")
                if name not in es.props or direction.strip() not in ("", "asc", "desc"):
                    raise ODataError(400, f"bad $orderby item {item!r}")
                rows = sorted(rows, key=lambda r, n=name: (r[n] is not None, r[n]),
                              reverse=direction.strip() == "desc")
        skip = self._int(params, "$skip", 0)
        top = self._int(params, "$top", None)
        rows = rows[skip:] if top is None else rows[skip:skip + top]
        props = es.props
        if "$select" in params:
            props = [p.strip() for p in params["$select"].split(",")]
            if any(p not in es.props for p in props):
                raise ODataError(400, f"bad $select {params['$select']!r}")
        expand = None
        if "$expand" in params:
            if es is not self.parent or params["$expand"] != f"{self.child.name}_SUBFORM":
                raise ODataError(400, f"bad $expand {params['$expand']!r}")
            expand = params["$expand"]
        key = self.parent.key[0]
        value = []
        for r in rows:
            doc = {p: _json_value(r[p]) for p in props}
            if expand:
                doc[expand] = [{k: _json_value(v) for k, v in c.items()}
                               for c in self.children.get(r[key], [])]
            value.append(doc)
        body = {"@odata.context": f"$metadata#{es.name}", "value": value}
        if params.get("$count") == "true":
            body["@odata.count"] = total
        elif params.get("$count") not in (None, "false"):
            raise ODataError(400, "bad $count")
        return "application/json", json.dumps(body).encode()

    @staticmethod
    def _int(params: dict, name: str, default):
        raw = params.get(name)
        if raw is None:
            return default
        if not raw.isdigit():
            raise ODataError(400, f"bad {name} {raw!r}")
        return int(raw)

    def _handler(self):
        stub = self

        class Handler(http.server.BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *args):
                pass

            def do_GET(self):
                with stub._lock:
                    stub._inflight += 1
                try:
                    with stub._gate:
                        t0 = time.perf_counter()
                        status, ctype, body = stub.render(
                            self.path, self.headers.get("Authorization"))
                        self.send_response(status)
                        self.send_header("Content-Type", ctype)
                        self.send_header("Content-Length", str(len(body)))
                        self.end_headers()
                        self.wfile.write(body)
                        t1 = time.perf_counter()
                    with stub._lock:
                        s = stub._stats
                        s["requests"] += 1
                        s["errors"] += status >= 400
                        s["bytes"] += len(body)
                        s["busy_s"] += t1 - t0
                        s["first"] = t0 if s["first"] is None else min(s["first"], t0)
                        s["last"] = t1 if s["last"] is None else max(s["last"], t1)
                finally:
                    with stub._lock:
                        stub._inflight -= 1
                        stub._lock.notify_all()

        return Handler

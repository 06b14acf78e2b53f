"""OData-shaped custom data source (Spark 4 Python DataSource API).

The reference's extractor is one HTTP GET per entity with a hand-built
``$filter=<field> ge <ts>`` and no paging/parallelism
(reference resources/priorityDataSource.py:639-746). This connector models that
protocol on the DataSource V2 surface and fixes its structural gaps
(SURVEY.md §4):

- **Filter pushdown** (``pushFilters``): comparison/equality predicates are
  accepted and evaluated source-side — the engine-level analog of the
  hand-built ``$filter`` string, except Catalyst derives it from the query.
- **Partitioned parallel scan** (``partitions``): the entity is served as
  slices (``$skip``/``$top`` pages over HTTP, row ranges over parquet),
  so N executors fetch concurrently instead of the reference's single
  unbounded request.
- **Column pruning** (``$select`` — absent from the reference, SURVEY §4):
  the ``select`` option narrows both the declared schema and the bytes
  fetched per slice (``$select=`` on HTTP, ``columns=`` on the parquet
  reader).
- **Source-level ``$expand``**: the ``expand`` option inlines child rows
  as an ``ArrayType(StructType)`` ``<child>_subform`` column per parent
  row — the response shape the reference gets from
  ``$expand=X_SUBFORM`` (reference resources/priorityDataSource.py:696-703).

Two interchangeable backends, selected by option:

- ``uri`` — REAL HTTP transport: ``GET <uri>/<entity>?$filter=...&
  $skip=o&$top=n[&$select=...][&$expand=X_SUBFORM]`` with Basic auth
  (reference resources/priorityDataSource.py:246-256 builds the same
  header) and bounded exponential-backoff retry on 5xx/connection
  errors. Schema comes from ``<uri>/$metadata`` EDMX (same discovery
  order as the reference: metadata before any data pull). Page count
  comes from OData ``<uri>/<entity>/$count``; only a service without
  that endpoint (HTTP 404/501, or a body that is not an integer) falls
  back, with a logged warning, to one unbounded pull.
- ``path`` — parquet fixture backend (the driver default): the entity's
  parquet file read via pyarrow, serving the same slice contract.

Reads yield Arrow RecordBatches, so rows never pass through Python
object conversion on the engine side.
"""

from __future__ import annotations

import logging
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType

FORMAT_NAME = "odata_like"


@dataclass
class RowRangeSlice(InputPartition):
    """One parallel pull: ``$skip``/``$top`` paging over HTTP, a
    contiguous row range over the parquet backend. ``length=None`` means
    an unbounded tail pull (single-page fallback when $count is
    unsupported)."""

    offset: int
    length: int | None


# ---------------------------------------------------------------------------
# HTTP plumbing (reference resources/priorityDataSource.py:246-256, :727-731)
# ---------------------------------------------------------------------------

def basic_auth_header(user: str, password: str) -> dict[str, str]:
    """The reference's authHeader: base64 Basic credentials."""
    import base64

    cred = base64.b64encode(f"{user}:{password}".encode()).decode()
    return {"Authorization": f"Basic {cred}"}


def http_get(
    url: str,
    params: dict | None = None,
    headers: dict | None = None,
    max_retries: int = 3,
    backoff_s: float = 0.2,
    timeout_s: float = 30.0,
) -> bytes:
    """GET with bounded exponential-backoff retry.

    Retries connection errors, 5xx (transient server side), AND 429
    throttling — honoring a sane Retry-After when the server sends one
    (round-11 protocol review: N executors pulling pages concurrently is
    exactly what triggers throttling on real services; raising on the
    first 429 failed the whole stage). Other 4xx raise immediately
    (caller bug — retrying would mask it). The reference has no retry at
    all and logs-and-continues on error status
    (priorityDataSource.py:255-259); failing loudly is the fix SURVEY §4
    calls for.

    Query strings percent-encode spaces as %20 (quote, not quote_plus):
    per RFC 3986 — which the OData URL conventions normatively require —
    '+' in a query is a LITERAL plus, so a '+'-separated $filter reads
    as one garbage token to a strict parser (round-11 protocol review;
    the old form-encoding only worked because the test server decoded
    with the same HTML-form convention).
    """
    import time
    import urllib.error
    import urllib.parse
    import urllib.request

    full = url + (
        "?" + urllib.parse.urlencode(params, quote_via=urllib.parse.quote)
        if params else ""
    )
    attempt = 0
    while True:
        retry_after = None
        try:
            req = urllib.request.Request(full, headers=headers or {})
            with urllib.request.urlopen(req, timeout=timeout_s) as r:
                return r.read()
        except urllib.error.HTTPError as e:
            if (e.code < 500 and e.code != 429) or attempt >= max_retries:
                raise
            ra = e.headers.get("Retry-After") if e.headers else None
            if ra and ra.isdigit():
                retry_after = min(float(ra), 30.0)
        except (urllib.error.URLError, OSError, TimeoutError):
            if attempt >= max_retries:
                raise
        attempt += 1
        time.sleep(retry_after if retry_after is not None
                   else backoff_s * (2 ** (attempt - 1)))


def _odata_renderable(value) -> bool:
    """Can this filter value be rendered as an OData literal? pushFilters
    gates acceptance on this: a filter we accept but render wrong is
    NOT re-evaluated by Spark (it trusts the source served it), so an
    unrenderable value must be yielded back, never repr()'d into the URL.

    Non-finite floats yield back too (round-11 protocol review):
    str(float('inf')) is 'inf' but OData's doubleValue ABNF admits only
    INF/-INF/NaN case-sensitively — and NaN comparisons are false in
    Spark anyway, so letting Spark evaluate them is both safe and
    simpler than special-casing the spellings."""
    import datetime as _dt
    import decimal as _dec
    import math

    if isinstance(value, float) and not math.isfinite(value):
        return False
    return isinstance(
        value, (bool, int, float, str, _dt.datetime, _dt.date, _dec.Decimal)
    )


def odata_filter_string(
    accepted: list[tuple[str, str, object]],
    namemap: dict[str, str] | None = None,
) -> str | None:
    """Render accepted Catalyst filters as an OData v4 ``$filter`` string
    (the machine-built analog of the reference's hand-built
    ``FIELD ge <ts>``, priorityDataSource.py:670-675). ``namemap``
    restores the server's original property casing from the engine's
    lowercased column names (OData property names are case-sensitive;
    the reference server's are uppercase — the same mapping $expand
    always applied)."""
    import datetime as _dt
    import decimal as _dec

    nm = namemap or {}
    ops = {
        "EqualTo": "eq", "GreaterThan": "gt", "GreaterThanOrEqual": "ge",
        "LessThan": "lt", "LessThanOrEqual": "le",
    }
    parts = []
    for col, op, value in accepted:
        col = nm.get(col.lower(), col)
        if op == "IsNotNull":
            parts.append(f"{col} ne null")
            continue
        if isinstance(value, _dt.datetime):
            v = value.astimezone(_dt.timezone.utc).replace(tzinfo=None).isoformat() + "Z" \
                if value.tzinfo is not None else value.isoformat() + "Z"
        elif isinstance(value, str):
            v = "'" + value.replace("'", "''") + "'"
        elif isinstance(value, bool):
            v = "true" if value else "false"
        elif isinstance(value, _dec.Decimal):
            # plain decimal notation — repr() would render Decimal('10.5')
            v = format(value, "f")
        elif isinstance(value, _dt.date):
            v = value.isoformat()
        elif isinstance(value, (int, float)):
            v = str(value)
        else:  # unreachable: pushFilters gates on _odata_renderable
            raise ValueError(f"unrenderable OData literal: {value!r}")
        parts.append(f"{col} {ops[op]} {v}")
    return " and ".join(parts) if parts else None


_SUBFORM_SUFFIX = "_subform"


def _subform_field(child: str) -> str:
    """Reference naming: $expand param and response key are
    ``<CHILD>_SUBFORM`` (priorityDataSource.py:699-701); the engine
    lowercases identifiers (O9)."""
    return f"{child.lower()}{_SUBFORM_SUFFIX}"


class ODataLikeDataSource(DataSource):
    """``spark.read.format("odata_like")`` with options:

    - ``entity`` (required), and ``path`` (parquet dir) or ``uri`` (HTTP
      service root)
    - ``select``: comma list — column pruning ($select)
    - ``expand``: comma list of child entities inlined as
      ``<child>_subform`` array<struct> columns ($expand)
    - ``expandkeys``: ``parent_col:child_col`` FK pair for the parquet
      backend's expand emulation (an HTTP server resolves this itself)
    - ``user`` / ``password``: Basic auth (HTTP)
    - ``pagesize`` (HTTP, default 10000), ``numpartitions`` (parquet,
      default 8), ``maxretries`` (HTTP, default 3)
    - ``edmx``: inline EDMX XML overriding schema discovery
    """

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    # -- schema discovery (O2: $metadata EDMX before any data pull) ---------

    def _edmx_entities(self) -> dict | None:
        from ..catalog import parse_edmx

        # memoized per DataSource instance (round-11 review): schema()
        # and reader() both need the parsed EDMX, and $metadata is often
        # a real service's slowest endpoint — one round-trip, not two+
        if getattr(self, "_ents_cache", None) is not None:
            return self._ents_cache or None
        edmx = self.options.get("edmx")
        if not edmx and self.options.get("uri"):
            headers = self._auth(self.options)
            edmx = http_get(
                self.options["uri"].rstrip("/") + "/$metadata", headers=headers,
                max_retries=int(self.options.get("maxretries", 3)),
            ).decode()
        self._ents_cache = (
            {e["_id"].lower(): e for e in parse_edmx(edmx)} if edmx else {}
        )
        return self._ents_cache or None

    def schema(self) -> str | StructType:
        from pyspark.sql import types as T

        from ..catalog import struct_type_from_metadata

        entity = self.options.get("entity", "")
        ents = self._edmx_entities()
        if ents is not None:
            if entity.lower() not in ents:
                raise ValueError(
                    f"entity {entity!r} not in $metadata; has: {sorted(ents)}"
                )
            base = struct_type_from_metadata(ents[entity.lower()]["Fields"])
        else:
            import pyarrow.parquet as pq

            from pyspark.sql.pandas.types import from_arrow_schema

            f = pq.ParquetFile(self._entity_path(self.options))
            base = from_arrow_schema(f.schema_arrow)

        select = self.options.get("select")
        if select:
            keep = [c.strip().lower() for c in select.split(",") if c.strip()]
            missing = [c for c in keep if c not in {f.name.lower() for f in base.fields}]
            if missing:
                raise ValueError(f"select columns not in {entity!r}: {missing}")
            base = T.StructType([f for f in base.fields if f.name.lower() in keep])

        for child in self._expand_list(self.options):
            if ents is not None:
                if child.lower() not in ents:
                    raise ValueError(f"expand entity {child!r} not in $metadata")
                child_schema = struct_type_from_metadata(ents[child.lower()]["Fields"])
            else:
                import pyarrow.parquet as pq

                from pyspark.sql.pandas.types import from_arrow_schema

                cf = pq.ParquetFile(
                    os.path.join(self.options["path"], f"{child}.parquet")
                )
                child_schema = from_arrow_schema(cf.schema_arrow)
            base = base.add(_subform_field(child), T.ArrayType(child_schema), True)
        return base

    # -- helpers ------------------------------------------------------------

    @staticmethod
    def _expand_list(options) -> list[str]:
        expand = options.get("expand", "")
        return [c.strip() for c in expand.split(",") if c.strip()]

    @staticmethod
    def _auth(options) -> dict[str, str]:
        user = options.get("user")
        return basic_auth_header(user, options.get("password", "")) if user else {}

    @staticmethod
    def _entity_path(options) -> str:
        path = options.get("path")
        entity = options.get("entity")
        if not path or not entity:
            raise ValueError("odata_like requires options: entity, and path or uri")
        return os.path.join(path, f"{entity}.parquet")

    def reader(self, schema: StructType) -> "ODataLikeReader":
        opts = dict(self.options)
        # OData guarantees no stable ordering across independent requests,
        # so N parallel $skip/$top page pulls can duplicate or drop rows
        # unless every page is pinned with $orderby. Resolve the sort key
        # from the EDMX <Key> (driver-side, once) unless the caller set one.
        if opts.get("uri"):
            ents = self._edmx_entities()
            ent = (ents or {}).get(opts.get("entity", "").lower())
            if ent:
                # lowercase engine name -> the server's ORIGINAL property
                # casing, for $filter/$select rendering (OData property
                # names are case-sensitive; the engine lowercases all
                # identifiers at O9, so pushed names must be mapped back
                # — the same restoration $expand always applied)
                opts["_namemap"] = {
                    f["fieldName"].lower(): f["fieldName"]
                    for f in ent.get("Fields", [])
                    if f.get("fieldName")
                }
                if not opts.get("orderby") and ent.get("EntityPk"):
                    opts["orderby"] = ",".join(ent["EntityPk"])
        return ODataLikeReader(opts, schema)


_SUPPORTED = (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, IsNotNull)


class ODataLikeReader(DataSourceReader):
    def __init__(self, options: dict, schema: StructType):
        self.options = options
        self.schema = schema
        self.uri = options.get("uri")
        self.entity = options.get("entity", "")
        self.path = None if self.uri else ODataLikeDataSource._entity_path(options)
        self.num_partitions = int(options.get("numpartitions", 8))
        self.page_size = int(options.get("pagesize", 10000))
        self.max_retries = int(options.get("maxretries", 3))
        self.accepted: list[tuple[str, str, object]] = []

    # -- pushdown ($filter analog) ------------------------------------------

    def pushFilters(self, filters: list[Filter]):
        """Accept simple comparisons (served source-side); yield back the
        rest for Spark to evaluate. Filters on an expanded
        ``<child>_subform`` column always yield back: it is the
        connector's rendering of ``$expand``, not a property of the
        entity set, so a strict service answers 400 to ``$filter`` on it
        (Catalyst infers ``IsNotNull`` on it below every explode)."""
        for f in filters:
            if (isinstance(f, _SUPPORTED) and len(f.attribute) == 1
                    and not f.attribute[0].lower().endswith(_SUBFORM_SUFFIX)):
                op = type(f).__name__
                value = getattr(f, "value", None)
                # only accept values we can render as OData literals —
                # an accepted filter is NOT re-checked by Spark, so a
                # bad rendering would silently return wrong rows
                if op != "IsNotNull" and not _odata_renderable(value):
                    yield f
                    continue
                self.accepted.append((f.attribute[0], op, value))
            else:
                yield f

    # -- partition planning (paged parallel pulls) --------------------------

    def partitions(self) -> list[RowRangeSlice]:
        if self.uri:
            # no sort key to pin the pages (keyless EDMX entity, no
            # caller orderby): parallel $skip/$top pulls would window
            # over an ordering OData does not guarantee stable across
            # requests — rows silently duplicated in one page, dropped
            # from another. Fall back to ONE unbounded pull: slower,
            # never wrong.
            if not self.options.get("orderby"):
                return [RowRangeSlice(0, None)]
            # OData $count endpoint. The pushed $filter applies to the
            # count too — otherwise a filtered scan plans pages from the
            # unfiltered row count (harmless empty tail pulls, but
            # wasted round-trips). Only a service WITHOUT the endpoint
            # (404/501, or a non-integer body) falls back to one
            # unbounded pull; any other error — auth, a 400 for a bad
            # $filter, an exhausted retry — is a real failure and raises.
            import urllib.error

            url = f"{self.uri.rstrip('/')}/{self.entity}/$count"
            filt = odata_filter_string(
                self.accepted, namemap=self.options.get("_namemap")
            )
            why = None
            try:
                body = http_get(
                    url, params={"$filter": filt} if filt else None,
                    headers=ODataLikeDataSource._auth(self.options),
                    max_retries=self.max_retries,
                ).strip()
                if not body.isdigit():
                    why = f"non-integer body {body[:80]!r}"
            except urllib.error.HTTPError as e:
                if e.code not in (404, 501):
                    raise
                why = f"HTTP {e.code}"
            if why is not None:
                logging.getLogger(__name__).warning(
                    "%s unusable (%s): planning one unbounded pull", url, why)
                return [RowRangeSlice(0, None)]
            n_rows = int(body)
            per = self.page_size
            return [
                RowRangeSlice(off, min(per, n_rows - off))
                for off in range(0, n_rows, per)
            ] or [RowRangeSlice(0, 0)]
        import pyarrow.parquet as pq

        n_rows = pq.ParquetFile(self.path).metadata.num_rows
        per = max(1, -(-n_rows // self.num_partitions))
        return [
            RowRangeSlice(off, min(per, n_rows - off))
            for off in range(0, n_rows, per)
        ] or [RowRangeSlice(0, 0)]

    # -- the fetch ----------------------------------------------------------

    def read(self, partition: RowRangeSlice):
        if self.uri:
            yield from self._read_http(partition)
        else:
            yield from self._read_parquet(partition)

    def _read_http(self, partition: RowRangeSlice):
        """One page: GET <uri>/<entity>?$filter&$skip&$top[&$select][&$expand],
        Basic auth, retry/backoff — the reference's request shape
        (priorityDataSource.py:727-731) plus the paging/pruning it lacks."""
        import json

        import pyarrow as pa

        from pyspark.sql.pandas.types import to_arrow_schema

        params: dict[str, str] = {}
        nm = self.options.get("_namemap") or {}
        filt = odata_filter_string(self.accepted, namemap=nm)
        if filt:
            params["$filter"] = filt
        select = self.options.get("select")
        if select:
            params["$select"] = ",".join(
                nm.get(c.strip().lower(), c.strip())
                for c in select.split(",") if c.strip()
            )
        expand = ODataLikeDataSource._expand_list(self.options)
        if expand:
            # reference naming: X -> X_SUBFORM (priorityDataSource.py:699-701)
            params["$expand"] = ",".join(f"{c.upper()}_SUBFORM" for c in expand)
        # every paged pull pins $orderby (entity key, resolved in reader())
        # — without it $skip/$top windows over an unstable ordering can
        # duplicate or drop rows across parallel partitions
        orderby = self.options.get("orderby")
        if orderby:
            params["$orderby"] = orderby
        if partition.offset:
            params["$skip"] = str(partition.offset)
        if partition.length is not None:
            params["$top"] = str(partition.length)
        if partition.length == 0:
            return
        # follow @odata.nextLink (round-11 protocol review): a v4 service
        # MAY apply server-driven paging to ANY response regardless of
        # $top (maxpagesize et al.), and the unbounded fallback pull is
        # paginated by virtually every production service — reading only
        # the first page silently dropped every row after it. The link
        # is an opaque absolute-or-relative URL carrying its own
        # continuation state; fetch it verbatim until the requested
        # budget is filled or the server stops linking.
        import urllib.parse as _up

        headers = ODataLikeDataSource._auth(self.options)
        url = f"{self.uri.rstrip('/')}/{self.entity}"
        budget = partition.length  # None = until exhausted
        rows: list[dict] = []
        body = http_get(url, params=params, headers=headers,
                        max_retries=self.max_retries)
        while True:
            doc = json.loads(body.decode())
            rows.extend(doc.get("value", []))
            link = doc.get("@odata.nextLink")
            if not link or (budget is not None and len(rows) >= budget):
                break
            # resolve against the REQUEST URL itself (RFC 3986): with the
            # trailing slash appended, a document-relative link like
            # 'nation?$skiptoken=...' resolved to .../nation/nation?...
            # (404 on a real service); absolute and absolute-path links
            # resolve identically either way.
            body = http_get(_up.urljoin(url, link), params=None,
                            headers=headers, max_retries=self.max_retries)
        if budget is not None:
            rows = rows[:budget]
        arrow_schema = to_arrow_schema(self.schema)
        rows = [_normalize_row(r, self.schema) for r in rows]
        table = pa.Table.from_pylist(rows, schema=arrow_schema)
        yield from table.to_batches(max_chunksize=1 << 16)

    def _read_parquet(self, partition: RowRangeSlice):
        """Serve one slice as Arrow batches with accepted filters applied —
        the local stand-in for the HTTP page pull.

        Locally this re-reads the overlapping row groups and slices (read
        amplification a real server avoids by paging server-side); the
        Spark-facing contract — independent partitions, source-side filter,
        pruned columns — is what matters."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        if partition.length is not None and partition.length <= 0:
            return
        f = pq.ParquetFile(self.path)
        length = partition.length if partition.length is not None \
            else f.metadata.num_rows - partition.offset
        lo, hi = partition.offset, partition.offset + length
        groups, base = [], 0
        for g in range(f.num_row_groups):
            n = f.metadata.row_group(g).num_rows
            if base < hi and base + n > lo:
                groups.append((g, base))
            base += n
        if not groups:
            return
        expand = ODataLikeDataSource._expand_list(self.options)
        select = self.options.get("select")
        columns = None
        if select:
            # $select analog: prune at the reader — bytes for dropped
            # columns are never materialized (tested: pruned Arrow schema)
            keep = {c.strip().lower() for c in select.split(",") if c.strip()}
            columns = [c for c in f.schema_arrow.names if c.lower() in keep]
        table = f.read_row_groups([g for g, _ in groups], columns=columns)
        first_base = groups[0][1]
        table = table.slice(lo - first_base, length)
        # Spark's Arrow bridge accepts only µs timestamps — normalize units
        fields = [
            pa.field(fld.name, pa.timestamp("us", fld.type.tz))
            if pa.types.is_timestamp(fld.type) else fld
            for fld in table.schema
        ]
        table = table.cast(pa.schema(fields), safe=False)  # ns→µs truncates
        mask = None
        for col, op, value in self.accepted:
            # Spark hands tz-aware datetimes (session tz = UTC); the parquet
            # columns are naive UTC — strip tzinfo for a like-for-like compare
            import datetime as _dt

            if isinstance(value, _dt.datetime) and value.tzinfo is not None:
                value = value.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            c = pc.field(col)
            expr = {
                "EqualTo": c == value,
                "GreaterThan": c > value,
                "GreaterThanOrEqual": c >= value,
                "LessThan": c < value,
                "LessThanOrEqual": c <= value,
                "IsNotNull": c.is_valid(),
            }[op]
            mask = expr if mask is None else (mask & expr)
        if mask is not None:
            table = table.filter(mask)
        for child in expand:
            table = self._attach_subform(table, child)
        yield from table.to_batches(max_chunksize=1 << 16)

    def _attach_subform(self, table, child: str):
        """Parquet-backend $expand emulation: inline the child entity's
        rows as a list<struct> column keyed by the ``expandkeys``
        ``parent_col:child_col`` FK pair — producing exactly the nested
        response shape an OData server returns for ``$expand=X_SUBFORM``.
        Childless parents get [] (the OData shape), not null."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        keys = self.options.get("expandkeys", "")
        if ":" not in keys:
            raise ValueError(
                "parquet-backend expand requires expandkeys='parent_col:child_col'"
            )
        pcol, ccol = (k.strip() for k in keys.split(":", 1))
        child_tbl = pq.read_table(os.path.join(self.options["path"], f"{child}.parquet"))
        groups: dict = {}
        for row in child_tbl.to_pylist():
            groups.setdefault(row[ccol], []).append(row)
        sub = [groups.get(v, []) for v in table.column(pcol).to_pylist()]
        field = _subform_field(child)
        child_struct = pa.struct(
            [pa.field(f.name, f.type) for f in child_tbl.schema]
        )
        return table.append_column(
            pa.field(field, pa.list_(child_struct)),
            pa.array(sub, type=pa.list_(child_struct)),
        )


def _normalize_row(row: dict, schema: StructType) -> dict:
    """Lowercase JSON keys and parse ISO timestamps to datetimes so
    ``pa.Table.from_pylist`` can build typed columns from an OData JSON
    payload (recursing into expand sub-form lists)."""
    import datetime as _dt

    from pyspark.sql import types as T

    def parse_ts(v):
        if isinstance(v, str):
            dt = _dt.datetime.fromisoformat(v.replace("Z", "+00:00"))
            if dt.tzinfo is not None:
                # CONVERT to UTC before dropping tzinfo — the reference
                # server emits local-offset ISO stamps (priorityTimeZone),
                # and the filter-rendering side (odata_filter_string)
                # already converts; storing the naive wall clock unshifted
                # would disagree with it by the offset
                dt = dt.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return dt
        return v

    import decimal as _dec

    lowered = {k.lower(): v for k, v in row.items()}
    out = {}
    for fld in schema.fields:
        v = lowered.get(fld.name.lower())
        if isinstance(fld.dataType, T.TimestampType) or isinstance(
            fld.dataType, getattr(T, "TimestampNTZType", ())
        ):
            v = parse_ts(v)
        elif isinstance(fld.dataType, T.DecimalType) and v is not None:
            # OData v4 JSON serializes Edm.Decimal as a JSON NUMBER
            # (without IEEE754Compatible), which json.loads hands back
            # as float — and pyarrow REJECTS float for decimal128
            # columns, so any real decimal entity crashed every
            # partition (round-11 protocol review). str() first: the
            # shortest-repr round trip preserves the serialized value;
            # IEEE754Compatible string payloads take the same path.
            v = _dec.Decimal(str(v))
        elif isinstance(fld.dataType, T.DateType) and isinstance(v, str):
            v = _dt.date.fromisoformat(v)
        elif isinstance(fld.dataType, T.ArrayType) and isinstance(
            fld.dataType.elementType, T.StructType
        ) and v is not None:
            v = [_normalize_row(item, fld.dataType.elementType) for item in v]
        out[fld.name] = v
    return out


def register(spark) -> None:
    # pushFilters() requires this conf; it is runtime-settable, and a vanilla
    # SparkSession (e.g. the correctness driver's) won't have it — the reader
    # hard-errors with DATA_SOURCE_PUSHDOWN_DISABLED otherwise.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ODataLikeDataSource)

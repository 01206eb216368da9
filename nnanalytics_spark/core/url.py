"""URL contract — the reference's REST query strings compiled to Query.

The reference's public surface is query strings like

    /histogram?set=files&filters=fileSize:gt:0,user:eq:hdfs&type=user
        &sum=diskspaceConsumed&top=10&sortDescending=true

This module parses that exact grammar into the engine's ``Query`` IR and
dispatches the endpoint to the matching ``INodeEngine`` method, mirroring
the reference's handler parameter-by-parameter:

- ``filters`` is a comma list of ``field:op:value`` triplets; the field
  half and the op:value half are split exactly like ``Helper.parseFilters``
  / ``Helper.parseFilterOps`` (analytics/Helper.java:235-280).
- histogram parameter names + defaults (``sum`` -> "count", ``timeRange``
  -> "weekly", null top/bottom/sort) follow
  NamenodeAnalyticsMethods.java:1540-1579; ``type=a,b`` on /histogram2
  splits into the two grouping levels (histogram2 handler,
  NamenodeAnalyticsMethods.java:1746-1762).
- ``transformConditions`` / ``transformFields`` / ``transformOutputs``
  triples follow Transforms.getAttributeTransforms
  (analytics/Transforms.java:58-92): conditions split on ';', fields and
  outputs on ',', position-aligned.
- /divide takes the two parameter sets ``filters1``/``sum1`` and
  ``filters2``/``sum2`` (NamenodeAnalyticsMethods.java:1304-1345).

Email / lock / output-format parameters are accepted here and ignored by
the QUERY builder; the email leg is consumed by the web layer
(web/server.py:_maybe_email → inode/mail.py, the MailOutput analog) and
locks don't exist — Spark queries don't serialize.
"""

from __future__ import annotations

from urllib.parse import parse_qs, urlsplit

from pyspark.sql import DataFrame

from nnanalytics_spark.core.ir import Query, parse_filter_triplets

ENDPOINTS = ("filter", "histogram", "histogram2", "histogram3", "divide", "dump")

# parameters the QUERY grammar tolerates but does not consume (the email
# sink reads emailTo/emailConditions/... in the web layer; lock semantics
# and rendering are handled elsewhere;
# `proxy` is consumed by the security layer before query execution —
# SecurityContext.java:152-157 — so the grammar must tolerate it)
_IGNORED = {
    "emailTo", "emailCC", "emailFrom", "emailHost", "emailConditions",
    "useLock", "histogramOutput", "rawTimestamps", "useQueryLock", "proxy",
}

_KNOWN = _IGNORED | {
    "set", "filters", "type", "sum", "find", "histogramConditions",
    "top", "bottom", "sortAscending", "sortDescending", "parentDirDepth",
    "timeRange", "transformConditions", "transformFields",
    "transformOutputs", "limit", "path",
    "filters1", "filters2", "sum1", "sum2", "set1", "set2",
}


def _single(params: dict[str, list[str]], name: str) -> str | None:
    vals = params.get(name)
    return vals[-1] if vals else None


def _build_query(params: dict[str, list[str]], now_ms: int | None, *, suffix: str = "") -> Query:
    """One parameter set -> Query (suffix '1'/'2' for the /divide pairs)."""
    g = lambda n: _single(params, n + suffix) if suffix else _single(params, n)  # noqa: E731
    q = Query(now_ms=now_ms)
    if g("set"):
        q.set = g("set")
    filters = g("filters")
    if filters:
        q.filters = parse_filter_triplets(filters)
    type_str = _single(params, "type")
    if type_str:
        types = type_str.split(",")
        q.type = types[0]
        if len(types) > 1:
            q.type2 = types[1]
    sum_str = g("sum")
    find = _single(params, "find")
    if find:
        q.finds = find.split(",")
    # sum defaults to "count" (NamenodeAnalyticsMethods.java:1563) except
    # when a find is the requested aggregate — the invoker dispatches on
    # find and the reference never adds the implicit count next to it.
    q.sums = sum_str.split(",") if sum_str else ([] if find else ["count"])
    having = _single(params, "histogramConditions")
    if having:
        q.having = having
    top = _single(params, "top")
    if top is not None:
        q.top = int(top)
    bottom = _single(params, "bottom")
    if bottom is not None:
        q.bottom = int(bottom)
    if q.top and q.bottom:
        raise ValueError("Please choose only one type of slice.")
    asc = _single(params, "sortAscending")
    desc = _single(params, "sortDescending")
    if asc is not None and desc is not None:
        raise ValueError("Please choose one type of sort.")
    if asc is not None and asc.lower() == "true":
        q.sort = "asc"
    elif desc is not None and desc.lower() == "true":
        q.sort = "desc"
    depth = _single(params, "parentDirDepth")
    if depth is not None:
        q.parent_dir_depth = int(depth)
    time_range = _single(params, "timeRange")
    if time_range:
        q.time_range = time_range
    limit = _single(params, "limit")
    if limit is not None:
        q.limit = int(limit)
    t_cond = _single(params, "transformConditions")
    t_fields = _single(params, "transformFields")
    t_outputs = _single(params, "transformOutputs")
    if t_cond is not None and t_fields is not None and t_outputs is not None:
        conds = t_cond.split(";")
        fields = t_fields.split(",")
        outputs = t_outputs.split(",")
        if not (len(conds) == len(fields) == len(outputs)):
            raise ValueError("transform parameter lists must be position-aligned")
        for cond, fld, out in zip(conds, fields, outputs):
            trips = parse_filter_triplets(cond)
            # canonical aligned form (each condition keeps ITS output)...
            q.transforms.append((trips, fld, int(out)))
            # ...plus the legacy single-transform mirror for callers that
            # construct Query directly
            q.transform_conditions.extend(trips)
            q.transform_outputs[fld] = int(out)
    return q


def parse_url(url: str, now_ms: int | None = None) -> tuple[str, Query]:
    """``/histogram?...`` -> (endpoint, Query). Unknown parameters raise —
    a typo'd parameter silently changing the answer is the failure mode
    this layer exists to prevent."""
    parts = urlsplit(url)
    endpoint = parts.path.rstrip("/").rsplit("/", 1)[-1]
    if endpoint not in ENDPOINTS:
        raise ValueError(f"unknown endpoint {endpoint!r}; expected one of {ENDPOINTS}")
    params = parse_qs(parts.query, keep_blank_values=True)
    unknown = set(params) - _KNOWN
    if unknown:
        raise ValueError(f"unknown query parameters: {sorted(unknown)}")
    return endpoint, _build_query(params, now_ms)


def run_url(engine, url: str, now_ms: int | None = None) -> DataFrame:
    """Parse + dispatch one reference-shaped URL against an INodeEngine."""
    endpoint, query = parse_url(url, now_ms)
    if endpoint == "filter":
        sum_given = _single(parse_qs(urlsplit(url).query), "sum")
        if sum_given or query.finds:
            if query.finds and not sum_given:
                return engine.find_extremum(query)
            return engine.filter_sum(query)
        return engine.dump_paths(query)
    if endpoint == "histogram" or endpoint == "histogram3":
        # /histogram3's K sums + finds merged per key
        # (NamenodeAnalyticsMethods.java:1890-1944) is ONE groupBy().agg()
        return engine.histogram(query)
    if endpoint == "histogram2":
        return engine.histogram2(query)
    if endpoint == "divide":
        params = parse_qs(urlsplit(url).query, keep_blank_values=True)
        q1 = _build_query(params, now_ms, suffix="1")
        q2 = _build_query(params, now_ms, suffix="2")
        return engine.divide(q1, q2)
    if endpoint == "dump":
        raise ValueError("/dump returns a dict — call engine.dump_inode(path) directly")
    raise AssertionError("unreachable")

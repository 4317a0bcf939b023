"""ES-query-body AST → DataFrame compiler (SURVEY.md Q4).

The reference passes an arbitrary ES query body (`config_param :query`,
default ``{"sort": ["_doc"]}``, in_elasticsearch.rb:33) straight to the
cluster. ``compile_query`` is the one front door from such a body to the
engine:

    {"query": {"ids"/"term"/"range"/"terms"/"bool"/...}}  (filter pushdown)
    {"sort": ["_doc"] | [{"field": {"order": "desc"}}]}   (Q2/S4)
    {"size": n, "from": m, "_source": false | [cols]}     (Q3)
    {"query": {"match"/"multi_match"/"span_near"/...}}    (scored hits)
    {"retriever": {"rrf"/"linear": ...}}, {"knn": ...}    (fusion, vectors)

Filter queries compile to scan + filter on the docs table — Catalyst
pushes the filters into the parquet/Iceberg scan. Scored queries compile
to a top-k (doc_id, score) frame, served from the inverted index where
one covers the field, joined back onto the docs. Every body kind (filter,
scored, knn, percolate) then takes one tail for min_score, post_filter,
_source, search_after, sort and from/size.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.bm25 import fuse_scores, quantize_scores


class UnsupportedQuery(ValueError):
    pass


# the complete `now`-anchored date-math grammar resolve_date_math accepts:
# ±N unit operations and /unit truncations in any order after the anchor
import re as _re_dm

_DATE_MATH_RE = _re_dm.compile(r"^now([+-]\d+[yMwdhHms]|/[yMwdhHms])*$")


def _resolve_index(index, field: str):
    """`index` may be a single InvertedIndex (legacy: serves whatever
    field it was built on) or a dict registry {field: InvertedIndex,
    "combined::<sig>": InvertedIndex} — the multi-field shape ES has
    natively (one Lucene index per field). Returns the index for `field`
    or None."""
    if index is None:
        return None
    if isinstance(index, dict):
        return index.get(field)
    return index


def render_search_template(source: Any, params: dict[str, Any]) -> Any:
    """ES _search/template (mustache-lite): substitute {{var}} through a
    query-body tree. A string that is EXACTLY one placeholder takes the
    raw parameter value (numbers/lists/dicts stay typed — how ES renders
    `"size": "{{n}}"` into an integer); placeholders inside longer
    strings substitute textually. Missing params render as empty string
    (mustache behavior). The reference forwards template bodies like any
    search body (in_elasticsearch.rb:94-99)."""
    import re as _re

    if isinstance(source, dict):
        return {k: render_search_template(v, params) for k, v in source.items()}
    if isinstance(source, list):
        return [render_search_template(v, params) for v in source]
    if isinstance(source, str):
        m = _re.fullmatch(r"\{\{\s*(\w+)\s*\}\}", source)
        if m:
            return params.get(m.group(1), "")
        return _re.sub(r"\{\{\s*(\w+)\s*\}\}",
                       lambda mm: str(params.get(mm.group(1), "")), source)
    return source


def _compile_clause(q: dict[str, Any], col=F.col) -> Column:
    """Compile one query clause to a boolean Column. `col` resolves a field
    name to a Column — F.col for top-level rows; inside a `nested` clause
    it resolves against the current array element (lambda variable), which
    is what gives ES nested semantics: ALL sub-clauses of the inner query
    must match within a SINGLE element of the array-of-structs."""
    if len(q) != 1:
        raise UnsupportedQuery(f"clause must have one key: {q}")
    kind, body = next(iter(q.items()))
    if kind == "wrapper":
        # ES wrapper query: the inner query as base64(JSON) — decode and
        # recurse (used by clients that pre-serialize query fragments)
        import base64
        import json as _json

        return _compile_clause(_json.loads(base64.b64decode(body["query"])), col)
    if kind == "ids":
        return col("doc_id").isin([int(v) for v in body["values"]])
    if kind == "term":
        ((field, value),) = body.items()
        ci = False
        if isinstance(value, dict):
            ci = bool(value.get("case_insensitive"))
            value = value["value"]
        if ci:  # ES 7.10+ term option
            return F.lower(col(field)) == F.lit(str(value).lower())
        return col(field) == F.lit(value)
    if kind == "range":
        ((field, conds),) = body.items()
        c = F.lit(True)
        ops = {"gt": "__gt__", "gte": "__ge__", "lt": "__lt__", "lte": "__le__"}
        now = conds.get("_now")  # deterministic anchor for date math (tests/oracles)
        for op, v in conds.items():
            if op not in ops:  # format/time_zone/boost/_now — not bounds
                continue
            # date-math only when the string matches the FULL date-math
            # grammar — a prefix test would misroute plain string bounds
            # like {"gte": "nowhere"} into the date-math parser (ADVICE r5)
            if isinstance(v, str) and (_DATE_MATH_RE.match(v.strip()) or "||" in v):
                v = resolve_date_math(v, now=now)
            c = c & getattr(col(field), ops[op])(F.lit(v))
        return c
    if kind == "exists":
        return col(body["field"]).isNotNull()
    if kind == "terms":  # multi-value membership: {"terms": {"field": [v...]}}
        ((field, values),) = body.items()
        return col(field).isin(list(values))
    if kind == "prefix":  # {"prefix": {"field": "val"}} or {"field": {"value": v}}
        ((field, value),) = body.items()
        ci = False
        if isinstance(value, dict):
            ci = bool(value.get("case_insensitive"))
            value = value["value"]
        if ci:
            return F.lower(col(field)).startswith(str(value).lower())
        return col(field).startswith(str(value))
    if kind == "wildcard":  # ES wildcard: * = any run, ? = any single char
        ((field, value),) = body.items()
        ci = False
        if isinstance(value, dict):
            ci = bool(value.get("case_insensitive"))
            value = value["value"]
        import re as _re

        pat = "^" + "".join(
            ".*" if ch == "*" else "." if ch == "?" else _re.escape(ch)
            for ch in str(value)
        ) + "$"
        if ci:
            return F.lower(col(field)).rlike(pat.lower())
        return col(field).rlike(pat)
    if kind == "fuzzy":  # {"fuzzy": {"field": {"value": v, "fuzziness": n}}}
        ((field, spec),) = body.items()
        if isinstance(spec, dict):
            value = spec["value"]
            fuzz = int(spec.get("fuzziness", 2))
        else:
            value, fuzz = spec, 2
        # term-level edit distance, JVM-side levenshtein (ES AUTO defaults
        # to ≤2 edits; we take an explicit integer fuzziness)
        return F.levenshtein(col(field), F.lit(str(value))) <= fuzz
    if kind == "regexp":  # ES regexp: pattern must match the WHOLE value
        ((field, value),) = body.items()
        if isinstance(value, dict):
            value = value["value"]
        return col(field).rlike(f"^(?:{value})$")
    if kind == "terms_set":
        # {"terms_set": {field: {"terms": [...], "minimum_should_match": m}}}
        # — at least m DISTINCT provided terms present in the array column
        ((field, spec),) = body.items()
        terms = [F.lit(t) for t in spec["terms"]]
        m = int(spec.get("minimum_should_match", 1))
        return F.size(F.array_intersect(col(field), F.array(*terms))) >= m
    if kind == "bool":
        c = F.lit(True)
        for must in body.get("must", []) + body.get("filter", []):
            c = c & _compile_clause(must, col)
        for mnot in body.get("must_not", []):
            c = c & ~_compile_clause(mnot, col)
        should = body.get("should", [])
        if should:
            sc = F.lit(False)
            for s in should:
                sc = sc | _compile_clause(s, col)
            c = c & sc
        return c
    if kind == "nested":
        # ES nested query: {"nested": {"path": p, "query": {...}}} — true
        # when at least ONE element of the array-of-structs at `path`
        # satisfies the whole inner query (fields addressed as "p.field").
        # Compiles to F.exists over the array with the inner clause tree
        # resolved against the element — a JVM higher-order function, so it
        # stays in codegen and never explodes the array. score_mode is a
        # filter-context no-op here (matches compile to boolean predicates).
        path, inner = body["path"], body["query"]
        prefix = path + "."

        def elem_resolver(x):
            def r(field: str) -> Column:
                name = field[len(prefix):] if field.startswith(prefix) else field
                return x.getField(name)
            return r

        return F.exists(col(path), lambda x: _compile_clause(inner, elem_resolver(x)))
    if kind == "geo_bounding_box":
        # {"geo_bounding_box": {field: {"top_left": {"lat","lon"},
        #   "bottom_right": {...}}}} — field is a geo_point struct
        # (lat, lon). Pure range predicates → pushdown-friendly. A box
        # whose left lon > right lon wraps the antimeridian (ES semantics):
        # it splits into the disjunction [left, 180] ∪ [-180, right] —
        # still two pushdown-friendly ranges.
        ((field, spec),) = body.items()
        tl, br = spec["top_left"], spec["bottom_right"]
        lat = col(field).getField("lat")
        lon = col(field).getField("lon")
        lat_ok = (lat <= F.lit(float(tl["lat"]))) & (lat >= F.lit(float(br["lat"])))
        left, right = float(tl["lon"]), float(br["lon"])
        if left > right:  # dateline wrap
            lon_ok = (lon >= F.lit(left)) | (lon <= F.lit(right))
        else:
            lon_ok = (lon >= F.lit(left)) & (lon <= F.lit(right))
        return lat_ok & lon_ok
    if kind == "geo_distance":
        # {"geo_distance": {"distance": "10km", field: {"lat","lon"}}} —
        # haversine on a mean-earth-radius sphere (ES arc distance).
        # Written in a FIXED op order mirrored by geo_distance_sql so the
        # two engines agree to the last ulp away from the boundary.
        spec = dict(body)
        dist_m = parse_distance(spec.pop("distance"))
        ((field, center),) = spec.items()
        return haversine_m_col(col(field), float(center["lat"]),
                               float(center["lon"])) <= F.lit(dist_m)
    if kind == "geo_shape":
        # {"geo_shape": {field: {"shape": {"type": "polygon"|"envelope",
        #   "coordinates": ...}, "relation": "intersects"}}} over
        # geo_point docs. For points, intersects == within == a
        # point-in-shape test. Polygon: GeoJSON [lon, lat] outer ring
        # (holes raise), even-odd ray cast unrolled over the LITERAL
        # edges — one boolean-XOR codegen chain, op order mirrored
        # exactly by geo_shape_polygon_sql. Envelope reduces to the
        # bounding-box ranges.
        ((field, spec),) = body.items()
        relation = spec.get("relation", "intersects")
        if relation not in ("intersects", "within"):
            raise UnsupportedQuery(
                f"geo_shape relation {relation!r} (points support "
                "intersects/within)")
        shape = spec["shape"]
        stype = str(shape["type"]).lower()
        lat = col(field).getField("lat")
        lon = col(field).getField("lon")
        if stype == "envelope":
            # GeoJSON-style [[min_lon, max_lat], [max_lon, min_lat]]
            (x1, y1), (x2, y2) = shape["coordinates"]
            return ((lat <= F.lit(float(y1))) & (lat >= F.lit(float(y2)))
                    & (lon >= F.lit(float(x1))) & (lon <= F.lit(float(x2))))
        if stype != "polygon":
            raise UnsupportedQuery(f"geo_shape type {shape['type']!r}")
        rings = shape["coordinates"]
        if len(rings) != 1:
            raise UnsupportedQuery("geo_shape polygon holes")
        inside = F.lit(False)
        for (x1, y1), (x2, y2) in _polygon_edges(rings[0]):
            crosses = ((F.lit(y1) > lat) != (F.lit(y2) > lat)) & (
                lon < (lat - F.lit(y1)) * F.lit(x2 - x1) / F.lit(y2 - y1)
                + F.lit(x1))
            inside = inside != crosses  # boolean != == XOR (parity)
        return inside
    if kind == "match_all":
        return F.lit(True)
    raise UnsupportedQuery(f"unsupported query kind: {kind}")


def _polygon_edges(ring) -> list[tuple[tuple[float, float],
                                       tuple[float, float]]]:
    """GeoJSON ring → literal edge list (closes the ring if the input
    didn't repeat the first vertex)."""
    pts = [(float(x), float(y)) for x, y in ring]
    if len(pts) < 3:
        raise UnsupportedQuery("geo_shape polygon needs >= 3 vertices")
    if pts[0] != pts[-1]:
        pts.append(pts[0])
    return list(zip(pts[:-1], pts[1:]))


def geo_shape_polygon_sql(lat_expr: str, lon_expr: str, ring) -> str:
    """DuckDB mirror of the geo_shape polygon ray cast — identical
    literals, identical op order ((lat - y1) * (x2 - x1) / (y2 - y1) +
    x1), XOR parity chain."""
    expr = "FALSE"
    for (x1, y1), (x2, y2) in _polygon_edges(ring):
        part = (f"(({y1!r} > {lat_expr}) <> ({y2!r} > {lat_expr}) AND "
                f"{lon_expr} < ({lat_expr} - {y1!r}) * {x2 - x1!r} / "
                f"{y2 - y1!r} + {x1!r})")
        expr = f"(({expr}) <> ({part}))"  # explicit left fold: <> is
        # a comparison operator, not associative in SQL
    return expr


def resolve_date_math(expr: str, now=None):
    """ES date math → datetime, resolved DRIVER-side into a literal (ES
    resolves on the coordinating node the same way; a per-row expression
    would defeat predicate pushdown). Supports the full grammar:
    anchor `now` or `<date>||`, then ±N{y|M|w|d|h|H|m|s} operations,
    then an optional /unit truncation. `now=None` anchors to the current
    UTC time (serving behavior); pass a datetime for deterministic
    plans/tests."""
    import datetime as _dt
    import re as _re

    txt = expr.strip()
    if txt.startswith("now"):
        anchor = now or _dt.datetime.utcnow()
        rest = txt[3:]
    elif "||" in txt:
        datepart, rest = txt.split("||", 1)
        fmts = ("%Y-%m-%dT%H:%M:%S", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d",
                "%Y-%m", "%Y")
        anchor = None
        for f in fmts:
            try:
                anchor = _dt.datetime.strptime(datepart, f)
                break
            except ValueError:
                continue
        if anchor is None:
            raise UnsupportedQuery(f"unparseable date-math anchor: {datepart}")
    else:
        raise UnsupportedQuery(f"not a date-math expression: {expr}")

    def add_months(d: _dt.datetime, n: int) -> _dt.datetime:
        mo = d.month - 1 + n
        y, m = d.year + mo // 12, mo % 12 + 1
        import calendar
        day = min(d.day, calendar.monthrange(y, m)[1])
        return d.replace(year=y, month=m, day=day)

    pos = 0
    while pos < len(rest):
        if rest[pos] == "/":  # truncation must be last
            unit = rest[pos + 1:]
            if unit == "y":
                anchor = anchor.replace(month=1, day=1, hour=0, minute=0,
                                        second=0, microsecond=0)
            elif unit == "M":
                anchor = anchor.replace(day=1, hour=0, minute=0, second=0,
                                        microsecond=0)
            elif unit == "w":
                anchor = (anchor - _dt.timedelta(days=anchor.weekday())).replace(
                    hour=0, minute=0, second=0, microsecond=0)
            elif unit == "d":
                anchor = anchor.replace(hour=0, minute=0, second=0, microsecond=0)
            elif unit in ("h", "H"):
                anchor = anchor.replace(minute=0, second=0, microsecond=0)
            elif unit == "m":
                anchor = anchor.replace(second=0, microsecond=0)
            elif unit == "s":
                anchor = anchor.replace(microsecond=0)
            else:
                raise UnsupportedQuery(f"bad date-math rounding unit: /{unit}")
            return anchor
        m = _re.match(r"([+-])(\d+)([yMwdhHms])", rest[pos:])
        if not m:
            raise UnsupportedQuery(f"bad date-math op at '{rest[pos:]}' in {expr}")
        sign = 1 if m.group(1) == "+" else -1
        n = sign * int(m.group(2))
        u = m.group(3)
        if u == "y":
            anchor = add_months(anchor, 12 * n)
        elif u == "M":
            anchor = add_months(anchor, n)
        else:
            secs = {"w": 604800, "d": 86400, "h": 3600, "H": 3600,
                    "m": 60, "s": 1}[u]
            anchor = anchor + _dt.timedelta(seconds=secs * n)
        pos += m.end()
    return anchor


_DIST_UNITS_M = {"mm": 0.001, "cm": 0.01, "m": 1.0, "km": 1000.0,
                 "in": 0.0254, "ft": 0.3048, "yd": 0.9144,
                 "mi": 1609.344, "nmi": 1852.0, "nm": 1852.0}
EARTH_RADIUS_M = 6_371_000.0  # ES GeoUtils.EARTH_MEAN_RADIUS


def parse_distance(s: str | float | int) -> float:
    """ES distance string → meters ('10km', '500m', '3.1mi'; bare number
    = meters)."""
    if isinstance(s, (int, float)):
        return float(s)
    txt = s.strip().lower()
    for unit in sorted(_DIST_UNITS_M, key=len, reverse=True):
        if txt.endswith(unit):
            return float(txt[: -len(unit)]) * _DIST_UNITS_M[unit]
    return float(txt)


def haversine_m_col(point: Column, lat2_deg: float, lon2_deg: float) -> Column:
    """Great-circle distance (meters) from a geo_point struct column to a
    fixed center. The center's trig values are PRE-COMPUTED python floats
    (the SQL mirror embeds the same literals), so both engines evaluate
    the identical expression tree over the row's lat/lon only."""
    import math

    rlat2 = math.radians(lat2_deg)
    rlon2 = math.radians(lon2_deg)
    lat1 = F.radians(point.getField("lat"))
    lon1 = F.radians(point.getField("lon"))
    sin_dlat = F.sin((lat1 - F.lit(rlat2)) / 2)
    sin_dlon = F.sin((lon1 - F.lit(rlon2)) / 2)
    a = sin_dlat * sin_dlat + F.cos(lat1) * F.lit(math.cos(rlat2)) * sin_dlon * sin_dlon
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))


def haversine_m_sql(lat_expr: str, lon_expr: str,
                    lat2_deg: float, lon2_deg: float) -> str:
    """DuckDB mirror of haversine_m_col — same op order, same precomputed
    center literals."""
    import math

    rlat2 = repr(math.radians(lat2_deg))
    rlon2 = repr(math.radians(lon2_deg))
    cos2 = repr(math.cos(math.radians(lat2_deg)))
    return (
        f"(2.0 * {EARTH_RADIUS_M!r}) * asin(sqrt("
        f"sin((radians({lat_expr}) - {rlat2}) / 2) * sin((radians({lat_expr}) - {rlat2}) / 2)"
        f" + cos(radians({lat_expr})) * {cos2}"
        f" * sin((radians({lon_expr}) - {rlon2}) / 2) * sin((radians({lon_expr}) - {rlon2}) / 2)))"
    )


def _compile_sub_retriever(docs: DataFrame, r: dict[str, Any], window: int,
                           *, index=None) -> DataFrame:
    """One node of an ES 8.16 retriever TREE: a standard retriever
    (compiled through the query compiler) or a nested rrf/linear
    retriever (compiled recursively — ES retriever trees compose, e.g.
    rrf over a linear over standards). Returns the node's top `window`
    (doc_id, score_u): the engine-wide quantized long, score desc /
    doc_id asc deterministic."""
    if "standard" in r:
        body = {"query": r["standard"]["query"]}
    elif "rrf" in r or "linear" in r:
        body = {"retriever": r}
    else:
        raise UnsupportedQuery(
            "retriever nodes must be standard, rrf, or linear")
    if not _is_scored(body):  # a filter query: only constant_score scores
        sub = compile_query(docs, {**body, "size": window}, index=index)
        if "score_u" not in sub.columns:
            raise UnsupportedQuery("retrievers must produce scored results")
        return sub.select("doc_id", "score_u")
    topk, score = _scored_hits(docs, docs, body, window, index)
    if score == "score":  # index-served float form
        return quantize_scores(topk)
    return topk.select("doc_id", F.col(score).alias("score_u"))


def _compile_rrf_retriever(docs: DataFrame, rrf: dict[str, Any], k: int,
                           *, index=None) -> DataFrame:
    """ES 8.x retriever tree, rrf form: reciprocal rank fusion over N
    sub-retrievers — score(d) = Σᵢ 1/(rank_constant + rankᵢ(d)) over the
    retrievers that returned d in their top rank_window_size. Each
    standard retriever compiles through this same compiler; ranks are
    deterministic (score desc, doc_id asc — the engine-wide tie-break),
    so the fused score is engine-independent: contributions are added
    in retriever order and quantized once (floor ×1e9 for resolution —
    the raw values are O(1/rank_constant)). Returns the top k
    (doc_id, rrf_u)."""
    from pyspark.sql import Window as _W

    retrievers = rrf.get("retrievers") or []
    if len(retrievers) < 2:
        raise UnsupportedQuery("rrf needs >= 2 retrievers")
    rk = int(rrf.get("rank_constant", 60))
    window = int(rrf.get("rank_window_size", 100))
    w = _W.partitionBy(F.lit(0)).orderBy(F.desc("score_u"), F.asc("doc_id"))
    fused = None
    for i, r in enumerate(retrievers):
        if not isinstance(r, dict):
            raise UnsupportedQuery("rrf retriever entries must be dicts")
        sub = _compile_sub_retriever(docs, r, window, index=index)
        ranked = (sub.select("doc_id", "score_u").limit(window)
                  .withColumn(f"r{i}", F.row_number().over(w))
                  .select("doc_id", f"r{i}"))
        fused = ranked if fused is None else fused.join(
            ranked, "doc_id", "full_outer")
    contrib = None
    for i in range(len(retrievers)):
        c = F.when(F.col(f"r{i}").isNotNull(),
                   1.0 / (rk + F.col(f"r{i}"))).otherwise(F.lit(0.0))
        contrib = c if contrib is None else contrib + c
    return (fused.select("doc_id",
                         F.floor(contrib * 1e9).cast("long").alias("rrf_u"))
            .orderBy(F.desc("rrf_u"), F.asc("doc_id")).limit(k))


def _compile_linear_retriever(docs: DataFrame, lin: dict[str, Any],
                              k: int, *, index=None) -> DataFrame:
    """ES 8.16 linear retriever: score(d) = Σᵢ wᵢ · normᵢ(sᵢ(d)) over the
    sub-retrievers whose top rank_window_size contains d (absent → 0
    contribution). Normalizers per ES's ScoreNormalizer set: "minmax"
    ((s-min)/(max-min) over that retriever's retrieved window; degenerate
    max==min window → 1.0 for positive scores, ES's MinMaxScoreNormalizer
    contract), "l2_norm" (s/‖s‖₂ over the window; all-zero → 0), "none"
    (raw score). Each sub-result is window-bounded (≤ rank_window_size
    rows), so the per-retriever min/max/‖·‖ single-partition window agg
    is bounded the same way as the pipeline aggs — never corpus-sized.
    The fused sum is quantized once (floor ×1e9, column linear_u) so
    Spark and the DuckDB mirror compare bit-exactly. Returns the top k
    (doc_id, linear_u).
    Reference: the plugin delegates search bodies verbatim
    (out_elasticsearch.rb:957 client.search); the retriever tree is the
    ES 8.x server-side surface for that body."""
    from pyspark.sql import Window as _W

    retrievers = lin.get("retrievers") or []
    if len(retrievers) < 2:
        raise UnsupportedQuery("linear retriever needs >= 2 retrievers")
    window = int(lin.get("rank_window_size", 100))
    wall = _W.partitionBy(F.lit(0))
    fused = None
    weights, norms = [], []
    for i, r in enumerate(retrievers):
        if not isinstance(r, dict) or "retriever" not in r:
            raise UnsupportedQuery(
                "linear retriever entries need a nested 'retriever'")
        inner = r["retriever"]
        norm = r.get("normalizer", "none")
        if norm not in ("minmax", "l2_norm", "none"):
            raise UnsupportedQuery(f"linear normalizer {norm!r}")
        weights.append(float(r.get("weight", 1.0)))
        norms.append(norm)
        sub = _compile_sub_retriever(docs, inner, window, index=index)
        sub = sub.select("doc_id", "score_u").limit(window)
        s = F.col("score_u").cast("double") / 1e6
        if norm == "minmax":
            mn = F.min(s).over(wall)
            mx = F.max(s).over(wall)
            nv = (F.when(mx == mn, F.when(s > 0, F.lit(1.0))
                         .otherwise(F.lit(0.0)))
                  .otherwise((s - mn) / (mx - mn)))
        elif norm == "l2_norm":
            l2 = F.sqrt(F.sum(s * s).over(wall))
            nv = F.when(l2 == 0, F.lit(0.0)).otherwise(s / l2)
        else:
            nv = s
        ranked = sub.select("doc_id", nv.alias(f"n{i}"))
        fused = ranked if fused is None else fused.join(
            ranked, "doc_id", "full_outer")
    contrib = None
    for i, w in enumerate(weights):
        c = F.coalesce(F.col(f"n{i}"), F.lit(0.0)) * F.lit(w)
        contrib = c if contrib is None else contrib + c
    return (fused.select("doc_id",
                         F.floor(contrib * 1e9).cast("long").alias("linear_u"))
            .orderBy(F.desc("linear_u"), F.asc("doc_id")).limit(k))


def _knn_top(docs: DataFrame, spec: dict[str, Any], size) -> tuple:
    """ES 8 kNN search body: {"knn": {"field": f, "query_vector": [...],
    "k": n, "filter": {...}}} → brute-force cosine top-k
    (similarity.cosine_topk plans TakeOrderedAndProject for the single
    query); at scale swap in the LSH/IVF variants behind the same
    contract. ``k`` defaults to the body's ``size`` (10 when it is absent
    or 0), as in ES, and is taken before any post_filter. The knn-level
    "filter" is ES's PRE-filter: compiled and applied to the candidate
    set before the top-k, so k survivors are returned. Returns
    (candidates, top (vec_id, cosine, rank))."""
    from ..operators.similarity import cosine_topk

    field, qv = spec["field"], [float(x) for x in spec["query_vector"]]
    k = int(spec.get("k", size or 10))
    cand = docs.filter(F.col(field).isNotNull())  # only docs with a vector
    if spec.get("filter"):
        cand = cand.filter(_compile_clause(spec["filter"]))
    spark = docs.sparkSession
    qdf = spark.createDataFrame([(0, qv)], f"query_id long, {field} array<double>")
    emb = cand.withColumn(field, F.transform(field, lambda x: x.cast("double")))
    # single literal query vector: n_queries=1 skips the probe job
    top = cosine_topk(emb, qdf, k=k, id_col="doc_id", vec_col=field,
                      n_queries=1)
    if spec.get("similarity") is not None:
        # ES 8.8 knn `similarity` cutoff: hits below the minimum cosine
        # are dropped from the k nearest (fewer than k rows may return —
        # the ES contract)
        top = top.filter(F.col("cosine") >= float(spec["similarity"]))
    return cand, top


# Query kinds that rank: each compiles to a top-k (doc_id, score column)
# frame and takes compile_query's one hits tail.
_SPAN_KINDS = ("span_near", "span_first", "span_or", "span_not", "span_term",
               "span_containing", "span_within", "span_multi", "intervals")
_SCORED_KINDS = frozenset(_SPAN_KINDS + (
    "match", "multi_match", "combined_fields", "query_string",
    "sparse_vector", "text_expansion", "simple_query_string",
    "more_like_this", "match_phrase", "match_phrase_prefix",
    "match_bool_prefix", "script_score", "distance_feature"))
# min_score is given on the float scale; each score column's own scale
_SCORE_SCALE = {"score": 1, "score_u": 1e6, "rrf_u": 1e9, "linear_u": 1e9}


def _is_scored(body: dict[str, Any]) -> bool:
    query = body.get("query")
    return ("retriever" in body or ("knn" in body and bool(query))
            or bool(query) and not _SCORED_KINDS.isdisjoint(query))


def _scored_hits(docs: DataFrame, out: DataFrame, body: dict[str, Any],
                 k: int, index) -> tuple[DataFrame, str]:
    """The top k of a scored body (``_is_scored``) as (frame, score
    column), the frame holding doc_id and that column. ``docs`` feeds
    the DataFrame scorers, ``out`` (docs plus any runtime fields) the
    row-script scorers."""
    query = body.get("query")
    if "retriever" in body:
        ret = body["retriever"]
        if "linear" in ret:
            return _compile_linear_retriever(docs, ret["linear"], k,
                                             index=index), "linear_u"
        if "rrf" not in ret:
            raise UnsupportedQuery("retriever supports rrf and linear forms")
        return _compile_rrf_retriever(docs, ret["rrf"], k,
                                      index=index), "rrf_u"
    if "knn" in body:
        # Hybrid knn+query (ES 8.4+ additive score combination) is
        # supported when the query section is a SELF-CONTAINED scorer
        # (multi_match / combined_fields / query_string — each returns a
        # quantized score_u with a DuckDB-mirrorable formula); other
        # query kinds raise instead of silently dropping the query.
        # score = query score_u + floor(cosine·boost·1e6) over the UNION
        # of the two top-k hit sets (both bounded, broadcast-sized).
        _HYBRID_OK = {"multi_match", "combined_fields", "query_string"}
        if not set(query) <= _HYBRID_OK:
            raise UnsupportedQuery(
                "hybrid knn+query supports only self-contained scorers"
                f" {sorted(_HYBRID_OK)}; got {sorted(query)} — use"
                " knn.filter for pre-filtering")
        spec = body["knn"]
        _, top = _knn_top(docs, spec, body.get("size"))
        knn_boost = float(spec.get("boost", 1.0))
        knn_scores = top.select(
            F.col("vec_id").alias("doc_id"),
            F.floor(F.col("cosine") * 1e6 * knn_boost).cast("long").alias("score_u"))
        q_scores, _ = _scored_hits(docs, docs, {"query": query}, k, index)
        return fuse_scores([q_scores, knn_scores], k, "sum"), "score_u"
    if any(kq in query for kq in _SPAN_KINDS):
        return _span_hits(docs, query, k, index), "score_u"

    if "match" in query:
        ((_field, text),) = query["match"].items()
        f_index = _resolve_index(index, _field)
        if isinstance(text, dict) and text.get("fuzziness") not in (None, 0, "0"):
            # match with fuzziness: dictionary-expanded weighted BM25 —
            # postings-served when the field has an index, else the
            # vocabulary-expansion DataFrame scorer (identical contract)
            from ..textproc import tokenize_simple

            if (text.get("operator", "or").lower() != "or"
                    or int(text.get("minimum_should_match", 1)) != 1):
                # fuzzy scoring is bool-should (OR); an AND/msm gate over
                # expanded clauses is not implemented — raise rather than
                # silently ignore the option
                raise UnsupportedQuery(
                    "match fuzziness supports operator=or, "
                    "minimum_should_match=1 only")
            fz = text["fuzziness"]
            if fz != "AUTO":
                fz = int(fz)
            mx = int(text.get("max_expansions", 50))
            if f_index is not None:
                from ..operators.search import fuzzy_match_topk

                return fuzzy_match_topk(f_index, text["query"], fuzziness=fz,
                                        max_expansions=mx, k=k), "score_u"
            from ..operators.relevance import fuzzy_match_df

            return fuzzy_match_df(docs, tokenize_simple(text["query"]),
                                  fuzziness=fz, max_expansions=mx, k=k,
                                  text_col=_field), "score_u"
        if f_index is None:
            raise UnsupportedQuery("match query needs an InvertedIndex")
        if isinstance(text, dict):
            # ES match options: {"query": ..., "operator": "and"|"or"
            # (any case, as ES parses it), "minimum_should_match": m} —
            # forwarded to the index path
            return f_index.search(
                text["query"], k=k,
                operator=text.get("operator", "or").lower(),
                minimum_should_match=int(text.get("minimum_should_match", 1))), "score"
        return f_index.search(text, k=k), "score"

    if "multi_match" in query:
        from ..operators.bm25 import multi_match_df
        from ..textproc import tokenize_simple

        spec = query["multi_match"]
        terms = tokenize_simple(spec["query"])
        fields = list(spec["fields"])
        per_field = {f: _resolve_index(index if isinstance(index, dict) else None, f)
                     for f in fields}
        mtype = spec.get("type", "best_fields")
        if mtype in ("phrase", "phrase_prefix"):
            # phrase types: per-field phrase scorer, best_fields MAX
            # combine — served from POSITIONAL per-field indexes when
            # every field has one, else the DataFrame composition
            from ..operators.relevance import multi_match_phrase_df

            is_pref = mtype == "phrase_prefix"
            if all(ix is not None and ix.meta.get("with_positions")
                   for ix in per_field.values()):
                from ..operators.search import multi_match_phrase_topk

                return multi_match_phrase_topk(
                    per_field, spec["query"], k=k, prefix=is_pref,
                    max_expansions=int(spec.get("max_expansions", 1024))), "score_u"
            return multi_match_phrase_df(docs, terms, fields, k=k,
                                         prefix=is_pref), "score_u"
        if all(per_field.values()):
            # every requested field has its own index → serve from
            # postings only (ES shape: one Lucene index per field);
            # rank/score-identical to multi_match_df
            from ..operators.search import multi_match_topk

            return multi_match_topk(per_field, terms, k=k,
                                    match_type=mtype), "score_u"
        # DataFrame fallback (per-field BM25 statistics, full scan)
        return multi_match_df(docs, terms, fields, k=k,
                              match_type=mtype), "score_u"

    if "combined_fields" in query:
        # ES combined_fields: fields blended into ONE BM25 field (shared
        # statistics) — see operators/bm25.combined_fields_df
        from ..operators.bm25 import combined_fields_df
        from ..operators.index_build import combined_index_key
        from ..textproc import tokenize_simple

        spec = query["combined_fields"]
        fields = []
        weights = {}
        for f in spec["fields"]:
            if "^" in f:
                name, w = f.split("^", 1)
                fields.append(name)
                weights[name] = int(float(w))
            else:
                fields.append(f)
        ck = combined_index_key(fields, weights)
        c_idx = index.get(ck) if isinstance(index, dict) else None
        if c_idx is not None:
            # an index over this exact weighted concatenation exists →
            # postings-only serving, bit-identical to the DF scorer
            from ..operators.search import combined_fields_topk

            return combined_fields_topk(
                c_idx, tokenize_simple(spec["query"]), k=k), "score_u"
        return combined_fields_df(docs, tokenize_simple(spec["query"]),
                                  fields, k=k, weights=weights), "score_u"

    if "query_string" in query:
        from ..operators.bm25 import query_string_df

        spec = query["query_string"]
        field = spec.get("default_field", "text")
        qs_idx = index.get(field) if isinstance(index, dict) else None
        if qs_idx is not None:
            # boolean gate + scoring inside the shard kernel over the
            # query terms' postings only — no corpus scan
            from ..operators.search import query_string_topk

            return query_string_topk(qs_idx, spec["query"], k=k), "score_u"
        return query_string_df(docs, spec["query"], k=k,
                               text_col=field), "score_u"

    if "sparse_vector" in query or "text_expansion" in query:
        # ES 8.15 sparse_vector (legacy text_expansion): weighted-token
        # dot product against a rank_features doc field or a BoW-tf
        # featurized text field (operators/relevance.py). Only the
        # pre-computed query_vector form is servable here — model
        # inference (inference_id / model_id expansion) needs an ML node
        # and raises loudly, like every other environment-blocked path.
        from ..operators.relevance import sparse_vector_df

        if "text_expansion" in query:
            raise UnsupportedQuery(
                "text_expansion needs model inference; precompute the "
                "expansion and use sparse_vector with query_vector")
        spec = query["sparse_vector"]
        if "inference_id" in spec or "query_vector" not in spec:
            raise UnsupportedQuery(
                "sparse_vector supports the pre-computed query_vector "
                "form (inference is not available in this engine)")
        fld = spec.get("field", "text")
        f_index = _resolve_index(index, fld)
        if f_index is not None:
            # postings-bounded serving: same integer contract as the
            # DataFrame scorer, work proportional to the query terms'
            # posting data (search.InvertedIndex.sparse_vector_scores)
            return (f_index.sparse_vector_scores(spec["query_vector"])
                    .orderBy(F.desc("score_u"), F.asc("doc_id"))
                    .limit(int(k))), "score_u"
        return sparse_vector_df(docs, spec["query_vector"], k=k,
                                field=fld), "score_u"

    if "simple_query_string" in query:
        # ES simple_query_string: the lenient end-user grammar, compiled
        # to a flat bool of term/phrase/prefix clauses and scored in two
        # corpus passes (operators/simple_query.py). Reference contract:
        # the plugin ships the body verbatim to ES (out_elasticsearch.rb
        # client.search); ES's SimpleQueryParser is this grammar.
        from ..operators.simple_query import simple_query_string_df

        spec = query["simple_query_string"]
        if "flags" in spec:
            raise UnsupportedQuery("simple_query_string flags")
        fields = spec.get("fields", ["text"])
        if len(fields) != 1:
            raise UnsupportedQuery(
                "simple_query_string supports one field (use multi_match "
                "for cross-field scoring)")
        return simple_query_string_df(
            docs, spec["query"], k=k,
            default_operator=spec.get("default_operator", "or").lower(),
            text_col=fields[0].split("^")[0]), "score_u"

    if "more_like_this" in query:
        # ES more_like_this (single liked doc by _id): seed-term
        # selection + BM25 over the selected terms — postings-served
        # when the field has an index (seed lookup is a one-row
        # pushdown filter), else the two-pass DataFrame scorer
        spec = query["more_like_this"]
        fields = list(spec.get("fields", ["text"]))
        if len(fields) != 1:
            raise UnsupportedQuery("more_like_this supports exactly one field")
        like = spec.get("like")
        if isinstance(like, list):
            if len(like) != 1:
                raise UnsupportedQuery("more_like_this supports one liked doc")
            like = like[0]
        if not isinstance(like, dict) or "_id" not in like:
            raise UnsupportedQuery('more_like_this needs like {"_id": ...}')
        like_id = int(like["_id"])
        mqt = int(spec.get("max_query_terms", 10))
        mwl = int(spec.get("min_word_length", 3))
        mlt_index = _resolve_index(index, fields[0])
        if mlt_index is not None:
            from ..operators.search import more_like_this_topk

            return more_like_this_topk(mlt_index, docs, like_id,
                                       max_query_terms=mqt, k=k,
                                       text_col=fields[0],
                                       min_term_len=mwl), "score_u"
        from ..operators.relevance import more_like_this_df

        return more_like_this_df(docs, like_id, max_query_terms=mqt, k=k,
                                 text_col=fields[0],
                                 min_term_len=mwl), "score_u"

    if "match_phrase" in query:
        ((_field, text),) = query["match_phrase"].items()
        if isinstance(text, dict) and int(text.get("slop", 0)) != 0:
            # sloppy phrase matching (Lucene SloppyPhraseScorer) is not
            # implemented — raise rather than silently score slop as 0
            raise UnsupportedQuery("match_phrase slop != 0 is not supported")
        p_index = _resolve_index(index, _field)
        if p_index is None:
            raise UnsupportedQuery("match_phrase query needs an InvertedIndex")
        return p_index.match_phrase(
            text if isinstance(text, str) else text["query"], k=k), "score"

    if "match_phrase_prefix" in query:
        # ES match_phrase_prefix: served from a POSITIONAL index when one
        # is registered for the field (dictionary expansion of the last
        # term + the same adjacency kernel as match_phrase), else the
        # DataFrame scorer. Quantized either way so both paths emit the
        # same (doc_id, score_u) shape.
        from ..operators.relevance import match_phrase_prefix_df
        from ..textproc import tokenize_simple

        ((_field, spec),) = query["match_phrase_prefix"].items()
        if isinstance(spec, dict) and int(spec.get("slop", 0)) != 0:
            raise UnsupportedQuery(
                "match_phrase_prefix slop != 0 is not supported")
        text = spec if isinstance(spec, str) else spec["query"]
        max_exp = (spec.get("max_expansions", 1024)
                   if isinstance(spec, dict) else 1024)
        pp_index = _resolve_index(index, _field)
        if pp_index is not None and pp_index.meta.get("with_positions"):
            return quantize_scores(pp_index.match_phrase_prefix(
                text, k=k, max_expansions=max_exp)), "score_u"
        return match_phrase_prefix_df(docs, tokenize_simple(text), k=k,
                                      text_col=_field), "score_u"

    if "match_bool_prefix" in query:
        # ES match_bool_prefix (search-as-you-type): served from the
        # field's index when one is registered (dictionary expansion +
        # postings), else the DataFrame scorer
        from ..operators.bm25 import match_bool_prefix_df
        from ..textproc import tokenize_simple

        ((_field, text),) = query["match_bool_prefix"].items()
        terms = tokenize_simple(text if isinstance(text, str) else text["query"])
        bp_index = _resolve_index(index, _field)
        if bp_index is not None:
            from ..operators.search import match_bool_prefix_topk

            return match_bool_prefix_topk(bp_index, terms, k=k), "score_u"
        return match_bool_prefix_df(docs, terms, k=k,
                                    text_col=_field), "score_u"

    if "script_score" in query:
        # ES script_score: filter by the inner query, score = script over
        # the row's fields — the SAFE ast-parsed arithmetic grammar (same
        # parser as runtime_mappings/bucket_script; per-row painless is
        # the reference's T13 anti-pattern). Quantized like every score.
        from .aggs import _script_expr

        spec = query["script_score"]
        script = spec["script"]
        if isinstance(script, dict):
            script = script.get("source")
        inner_q = spec.get("query", {"match_all": {}})
        matched = out.filter(F.coalesce(_compile_clause(inner_q), F.lit(False)))
        score = _script_expr(str(script), {c: c for c in matched.columns})
    else:
        # ES distance_feature: boost by closeness to an origin —
        # score = boost * pivot / (pivot + |field - origin|), for date or
        # numeric origins (geo origins route through haversine_m_col).
        spec = query["distance_feature"]
        field, boost = spec["field"], float(spec.get("boost", 1.0))
        origin, pivot = spec["origin"], spec["pivot"]
        if isinstance(origin, dict):  # geo point origin
            dist = haversine_m_col(F.col(field), float(origin["lat"]),
                                   float(origin["lon"]))
            pivot_v = parse_distance(pivot)
        elif isinstance(origin, str):  # date origin; pivot like "7d"
            import datetime as _dt

            o = _dt.datetime.fromisoformat(origin)
            if o.tzinfo is None:  # anchor naive origins in UTC — the field
                # side (cast('timestamp').cast('double')) and the DuckDB
                # oracle are UTC epoch; a local-tz .timestamp() would shift
                # every score by the driver's offset (ADVICE r4)
                o = o.replace(tzinfo=_dt.timezone.utc)
            dist = F.abs(F.col(field).cast("timestamp").cast("double")
                         - F.lit(o.timestamp()))
            unit_s = {"s": 1, "m": 60, "h": 3600, "d": 86400}
            pivot_v = float(pivot[:-1]) * unit_s[pivot[-1]]
        else:
            dist = F.abs(F.col(field) - F.lit(float(origin)))
            pivot_v = float(pivot)
        matched = out
        score = F.lit(boost) * F.lit(pivot_v) / (F.lit(pivot_v) + dist)
    return (matched.select("doc_id", F.floor(score * 1e6).cast("long").alias("score_u"))
            .orderBy(F.desc("score_u"), F.asc("doc_id")).limit(int(k))), "score_u"


def _span_hits(docs: DataFrame, query: dict[str, Any], k: int,
               index) -> DataFrame:
    """ES span/intervals queries (Lucene span family): single-term
    clauses, served from a POSITIONAL index when one is registered for
    the field (span_or needs only tf postings), else the DataFrame span
    scorers. Both paths emit the top k (doc_id, score_u)."""
    from ..operators import relevance as _rel

    def _span_term(clause):
        if not isinstance(clause, dict) or "span_term" not in clause:
            raise UnsupportedQuery("span clauses must be span_term")
        ((f_, v),) = clause["span_term"].items()
        return f_, (v["value"] if isinstance(v, dict) else v)

    kq = next(iter(set(query) & set(_SPAN_KINDS)))
    spec = query[kq]
    if kq == "span_multi":
        # ES span_multi: a prefix/wildcard inner query wrapped as a
        # span clause — dictionary expansion (term-asc, capped), then
        # the span_or contract with an order-free integer-quantized
        # idf sum. Postings-served from the tf index when present.
        m = spec.get("match")
        inner_kinds = set(m or ()) & {"prefix", "wildcard"}
        if not isinstance(m, dict) or not inner_kinds:
            raise UnsupportedQuery(
                "span_multi supports a prefix or wildcard match")
        ik = next(iter(inner_kinds))
        ((f_, v),) = m[ik].items()
        val = v["value"] if isinstance(v, dict) else v
        mx = int(v.get("max_expansions", 50)) if isinstance(v, dict) else 50
        sm_index = _resolve_index(index, f_)
        if sm_index is not None:
            return quantize_scores(sm_index.span_multi(
                val, kind=ik, max_expansions=mx, k=k))
        return _rel.span_multi_df(docs, val, kind=ik, max_expansions=mx,
                                  k=k, text_col=f_)
    if kq == "intervals":
        ((_field, ispec),) = spec.items()
        from ..textproc import tokenize_simple

        def _single_terms(subs, rule):
            # any_of/all_of combinators over SINGLE-TERM match
            # sub-rules lower onto existing kernels; richer nesting
            # (prefix/wildcard/fuzzy sub-rules, recursive combos)
            # raises rather than approximating
            out_ = []
            for s_ in subs:
                if set(s_) != {"match"}:
                    raise UnsupportedQuery(
                        f"intervals {rule} supports match sub-rules")
                ts = tokenize_simple(s_["match"]["query"])
                if len(ts) != 1:
                    raise UnsupportedQuery(
                        f"intervals {rule} sub-rules must be one term")
                out_.append(ts[0])
            return out_

        sp_index = _resolve_index(index, _field)
        if "any_of" in ispec:
            # union of single-term intervals: interval freq = summed
            # occurrences — exactly the span_or contract
            aterms = _single_terms(
                ispec["any_of"].get("intervals", []), "any_of")
            if not aterms:
                raise UnsupportedQuery("intervals any_of needs intervals")
            if sp_index is not None:
                return quantize_scores(sp_index.span_or(aterms, k=k))
            return _rel.span_or_df(docs, terms=aterms, k=k, text_col=_field)
        if "all_of" in ispec:
            # conjunction of single-term intervals under the
            # combinator's own ordered/max_gaps — the match chain
            aspec = ispec["all_of"]
            iterms = _single_terms(aspec.get("intervals", []), "all_of")
            if len(iterms) < 2:
                raise UnsupportedQuery(
                    "intervals all_of needs >= 2 intervals")
            mg = int(aspec.get("max_gaps", -1))
            ordered = bool(aspec.get("ordered", False))
        elif "match" in ispec:
            m = ispec["match"]
            iterms = tokenize_simple(m["query"])
            mg = int(m.get("max_gaps", -1))
            ordered = bool(m.get("ordered", False))
        else:
            raise UnsupportedQuery(
                "intervals supports the match/any_of/all_of rules")
        return _intervals_hits(docs, sp_index, _field, iterms, mg, ordered, k)
    if kq == "span_near":
        pairs = [_span_term(c) for c in spec["clauses"]]
        if len(pairs) < 2:
            raise UnsupportedQuery("span_near needs >= 2 clauses")
        if len({f_ for f_, _t in pairs}) != 1:
            raise UnsupportedQuery("span clauses must share a field")
        _field = pairs[0][0]
        sn_terms = [t for _f, t in pairs]
        sn_slop = int(spec.get("slop", 0))
        # ES SpanNearQueryBuilder.DEFAULT_IN_ORDER = true
        in_order = bool(spec.get("in_order", True))
        if not in_order and len(sn_terms) > 2:
            raise UnsupportedQuery(
                "unordered span_near supports exactly 2 clauses")
        if not (in_order and len(sn_terms) == 2):
            # n-clause ordered / 2-clause unordered lower to the
            # intervals chain: span_near's slop IS the intervals
            # max_gaps bound ((span width - n) <= slop), so the
            # positional kernel and DF scorer serve both shapes
            return _intervals_hits(docs, _resolve_index(index, _field),
                                   _field, sn_terms, sn_slop, in_order, k)
        args = dict(first=sn_terms[0], second=sn_terms[1], slop=sn_slop)
    elif kq == "span_first":
        _field, t = _span_term(spec["match"])
        args = dict(term=t, end=int(spec["end"]))
    elif kq in ("span_or", "span_term"):
        pairs = ([_span_term(c) for c in spec["clauses"]]
                 if kq == "span_or"
                 else [_span_term({"span_term": spec})])
        if len({f_ for f_, _t in pairs}) != 1:
            raise UnsupportedQuery("span clauses must share a field")
        _field = pairs[0][0]
        args = dict(terms=[t for _f, t in pairs])
    elif kq in ("span_containing", "span_within"):
        # supported shape: big = ordered two-clause span_near,
        # little = one span_term (all on one field)
        big, little = spec.get("big"), spec.get("little")
        if not isinstance(big, dict) or "span_near" not in big:
            raise UnsupportedQuery(f"{kq} big must be a span_near")
        bn = big["span_near"]
        pairs = [_span_term(c) for c in bn.get("clauses", [])]
        if len(pairs) != 2:
            raise UnsupportedQuery(f"{kq} big supports two clauses")
        if not bn.get("in_order", True):
            raise UnsupportedQuery(f"{kq} big supports in_order=true")
        fl, tl = _span_term(little)
        if {pairs[0][0], pairs[1][0], fl} != {fl}:
            raise UnsupportedQuery("span clauses must share a field")
        _field = fl
        args = dict(first=pairs[0][1], second=pairs[1][1],
                    little=tl, slop=int(bn.get("slop", 0)))
    else:  # span_not
        fi, ti = _span_term(spec["include"])
        fx, tx = _span_term(spec["exclude"])
        if fi != fx:
            raise UnsupportedQuery("span_not clauses must share a field")
        _field = fi
        args = dict(include=ti, exclude=tx,
                    pre=int(spec.get("pre", 0)),
                    post=int(spec.get("post", 0)))
    sp_index = _resolve_index(index, _field)
    needs_pos = kq in ("span_near", "span_first", "span_not",
                       "span_containing", "span_within")
    if sp_index is not None and (
            not needs_pos or sp_index.meta.get("with_positions")):
        fn = {"span_near": sp_index.span_near,
              "span_first": sp_index.span_first,
              "span_or": sp_index.span_or,
              "span_term": sp_index.span_or,
              "span_not": sp_index.span_not,
              "span_containing": sp_index.span_containing,
              "span_within": sp_index.span_within}[kq]
        return quantize_scores(fn(**args, k=k))
    dfn = {"span_near": _rel.span_near_df,
           "span_first": _rel.span_first_df,
           "span_or": _rel.span_or_df,
           "span_term": _rel.span_or_df,
           "span_not": _rel.span_not_df,
           "span_containing": _rel.span_containing_df,
           "span_within": _rel.span_within_df}[kq]
    return dfn(docs, **args, k=k, text_col=_field)


def _intervals_hits(docs, sp_index, field, terms, max_gaps, ordered, k):
    """The intervals match chain (and span_near shapes lowered onto it):
    the positional kernel when the field's index has positions, else
    relevance.intervals_match_df."""
    if sp_index is not None and sp_index.meta.get("with_positions"):
        return quantize_scores(sp_index.intervals_match(
            terms, max_gaps=max_gaps, ordered=ordered, k=k))
    from ..operators import relevance as _rel

    return _rel.intervals_match_df(docs, terms, max_gaps=max_gaps,
                                   ordered=ordered, k=k, text_col=field)


def compile_query(docs: DataFrame, body: dict[str, Any], *,
                  index=None) -> DataFrame:
    """Compile an ES-style search body over the docs DataFrame.

    Each body kind builds its rows (from the docs plus any
    ``runtime_mappings`` fields), its score column (or none), the columns
    ``_source`` always keeps and its default order:

    * filter queries (ids, term(s), range, exists, prefix, wildcard,
      fuzzy, regexp, terms_set, bool, nested, geo_*, match_all): the
      filtered docs, unscored and unordered; Catalyst pushes the filters
      into the scan;
    * ``constant_score``: its filter's docs with a literal ``score_u``;
    * scored queries — match (fuzzy too), multi_match (phrase types too),
      combined_fields, query_string, sparse_vector, simple_query_string,
      the span family and intervals, more_like_this, match_phrase,
      match_phrase_prefix, match_bool_prefix, script_score,
      distance_feature, the rrf/linear retrievers and hybrid knn+query:
      their top ``from + size`` hits (the whole ranking under a
      ``post_filter``) joined back onto the docs, ordered (score desc,
      doc_id asc). The hits come from ``index`` (an InvertedIndex, or a
      {field: InvertedIndex} registry) when it covers the field, else
      from a DataFrame scorer. The score column is float ``score`` for
      index-served match/match_phrase, ``rrf_u``/``linear_u`` (×1e9) for
      the retrievers and ``score_u`` (×1e6) otherwise. Their hits are
      score-ordered: ``sort`` or ``search_after`` raises
      UnsupportedQuery;
    * pure ``knn``: its k nearest (see ``_knn_top``) with ``cosine`` and
      ``rank``, in rank order; ``sort`` reorders them, rank breaking ties;
    * ``percolate``: the matching rows of a stored-query registry with
      ``query_id`` and ``matched_terms``, in query_id order.

    Then one tail, in this order:

    * ``min_score`` (on the float scale) drops rows below it, compared at
      the score column's scale; a kind without a score column raises
      (pure knn reports cosine, so ``knn.similarity`` is its cutoff);
    * ``post_filter`` prunes the rows (after scoring, before paging);
    * ``_source`` projects them (false, a list, or includes/excludes),
      keeping doc_id and the kind's columns;
    * ``search_after`` keeps the rows after its cursor in ``sort`` order;
    * ``sort``, then the kind's default order as tie-break;
    * ``from`` skips that many rows, then ``size`` cuts the page.

    An absent ``size`` means 10 for scored and post_filter bodies, k for
    knn and every row for filter and percolate bodies; ``size: 0``
    returns no rows."""
    body = dict(body or {})
    query = body.get("query")
    size = body.get("size")
    page = 10 if size is None else int(size)  # ES default size
    frm = int(body.get("from") or 0)
    min_score = body.get("min_score")
    post_filter = body.get("post_filter")
    out = docs

    rt = body.get("runtime_mappings")
    if rt:
        # ES 8 runtime fields: computed columns available to query/sort/
        # _source like mapped fields. The script is the engine's SAFE
        # vectorized arithmetic subset (same ast-parsed grammar as
        # bucket_script — fields, + - * /, comparisons, and/or; no
        # painless emit loops): a per-row painless interpreter would be
        # the row-at-a-time anti-pattern (reference T13) — this compiles
        # to one Catalyst projection instead.
        from .aggs import _script_expr

        for rname, spec in rt.items():
            script = spec.get("script") if isinstance(spec, dict) else spec
            if isinstance(script, dict):
                script = script.get("source")
            paths = {c: c for c in out.columns}
            expr = _script_expr(str(script), paths)
            rtype = spec.get("type") if isinstance(spec, dict) else None
            casts = {"long": "long", "double": "double", "integer": "int",
                     "keyword": "string", "boolean": "boolean"}
            if rtype in casts:
                expr = expr.cast(casts[rtype])
            out = out.withColumn(rname, expr)

    score = None  # the kind's score column
    keep: list[str] = []  # columns _source keeps after doc_id
    kind_order: list[Column] = []  # the kind's default order
    pure_knn = "knn" in body and not query and "retriever" not in body
    if pure_knn:
        # ES 8: the k NEAREST hits are retrieved by similarity; sort
        # changes their presentation, never the candidate set
        cand, top = _knn_top(out, body["knn"], size)
        out = cand.join(F.broadcast(top.select(
            F.col("vec_id").alias("doc_id"), "cosine", "rank")), "doc_id")
        keep, kind_order = ["cosine", "rank"], [F.asc("rank")]

    elif _is_scored(body):
        if body.get("sort") or body.get("search_after") is not None:
            raise UnsupportedQuery(
                "scored queries are score-ordered; explicit sort and "
                "search_after are unsupported")
        # a post_filter pages the filtered ranking, so every doc may be a hit
        k = docs.count() if post_filter else frm + page
        topk, score = _scored_hits(docs, out, body, k, index)
        out = out.join(F.broadcast(topk), "doc_id")
        keep, kind_order = [score], [F.desc(score), F.asc("doc_id")]

    elif query and "percolate" in query:
        # ES percolate query — REVERSE search: `docs` is the REGISTRY of
        # stored queries (query_id, terms, msm — operators/percolate.py's
        # model) and the body carries ONE inline document; matching
        # registry rows come back. The single-doc form is a pure filter
        # over the registry (the doc's distinct terms are a literal
        # array; matched-term count = array_intersect size) — no join,
        # no shuffle; the registry scan is the whole plan. For STREAMS of
        # documents use operators/percolate.percolate(_stream), the
        # reverse-index join.
        from ..textproc import tokenize_simple

        spec = query["percolate"]
        doc = spec.get("document")
        if not isinstance(doc, dict):
            raise UnsupportedQuery('percolate needs an inline "document"')
        dfield = spec.get("document_field", "text")
        if dfield not in doc:
            raise UnsupportedQuery(
                f"percolate document lacks field {dfield!r}")
        for c in ("terms", "msm", "query_id"):
            if c not in out.columns:
                raise UnsupportedQuery(
                    "percolate runs against a stored-query registry "
                    "(query_id, terms, msm)")
        doc_terms = sorted(set(tokenize_simple(str(doc[dfield]))))
        lit_arr = F.array(*[F.lit(t) for t in doc_terms]) if doc_terms \
            else F.array().cast("array<string>")
        hits = F.size(F.array_intersect(F.array_distinct("terms"), lit_arr))
        out = (out.withColumn("matched_terms", hits)
               .filter(F.col("matched_terms") >= F.col("msm")))
        keep, kind_order = ["query_id", "matched_terms"], [F.asc("query_id")]

    elif query and "constant_score" in query:
        # ES constant_score: the wrapped filter selects, scoring is a
        # constant boost (no BM25 statistics touched — pure filter plan
        # with a literal column; quantized like every score here)
        spec = query["constant_score"]
        score = "score_u"
        out = out.filter(_compile_clause(spec["filter"])).withColumn(
            score, F.lit(int(float(spec.get("boost", 1.0)) * 1e6)).cast("long"))
        keep = [score]

    elif query:
        out = out.filter(_compile_clause(query))

    if min_score is not None:  # ES min_score: drop hits below the bar
        if score is None:
            raise UnsupportedQuery(
                "min_score on a pure knn body: its hits carry cosine, not "
                "a _score; cut them with knn.similarity" if pure_knn else
                "min_score needs a scored query or constant_score; a "
                "filter body has no score to cut")
        bar = float(min_score) * _SCORE_SCALE[score]
        out = out.filter(F.col(score) >= (bar if score == "score" else int(bar)))

    if post_filter:
        # ES post_filter: filters the HITS after scoring, before from/size
        # (aggs — compiled separately by plans.aggs — intentionally don't
        # see it, the faceted-navigation contract)
        out = out.filter(_compile_clause(post_filter))

    src = body.get("_source")
    # the _id lead column only when the table has one (events-style tables
    # address rows by their own keys)
    id_lead = ["doc_id"] if "doc_id" in out.columns else []
    skip = {"doc_id", *keep}
    if src is False:
        if not (id_lead or keep):
            raise UnsupportedQuery("_source: false needs a doc_id column")
        out = out.select(*id_lead, *keep)
    elif isinstance(src, list):
        out = out.select(*id_lead, *[c for c in src if c not in skip], *keep)
    elif isinstance(src, dict):
        # ES object form: {"includes": [...], "excludes": [...]} with
        # * / ? wildcards per pattern
        import re as _re

        def match(col: str, pats: list[str]) -> bool:
            for p_ in pats:
                rx = "".join(".*" if ch == "*" else "." if ch == "?"
                             else _re.escape(ch) for ch in p_)
                if _re.fullmatch(rx, col):
                    return True
            return False

        inc = src.get("includes")
        exc = src.get("excludes") or []
        cols = [c for c in out.columns
                if (inc is None or match(c, inc)) and not match(c, exc)]
        out = out.select(*id_lead, *[c for c in cols if c not in skip], *keep)

    sort_cols = []
    sort_keys: list[tuple[str, bool]] = []  # (field, ascending) for search_after
    for s in body.get("sort") or []:
        if s == "_doc":  # index order: no sort (S4, in_elasticsearch.rb:33)
            continue
        if isinstance(s, str):
            sort_cols.append(F.col(s))
            sort_keys.append((s, True))
        else:
            ((field, spec),) = s.items()
            order = spec.get("order", "asc") if isinstance(spec, dict) else spec
            field = "index_name" if field == "_index" else field
            sort_cols.append(F.col(field).desc() if order == "desc" else F.col(field).asc())
            sort_keys.append((field, order != "desc"))

    after = body.get("search_after")
    if after is not None:
        # ES search_after: keyset pagination — rows STRICTLY after the
        # cursor tuple in the sort order. Unlike from/size this is
        # stateless and sargable (the leading-key bound pushes into the
        # scan), so deep pagination costs O(page) not O(offset) — the
        # at-scale replacement for scroll the reference's scan relies on.
        if len(sort_keys) != len(after):
            raise UnsupportedQuery(
                "search_after needs one cursor value per explicit sort key")
        cond = F.lit(False)
        eq = F.lit(True)
        for (field, asc), v in zip(sort_keys, after):
            fc, vc = F.col(field), F.lit(v)
            cond = cond | (eq & ((fc > vc) if asc else (fc < vc)))
            eq = eq & (fc == vc)
        out = out.filter(cond)

    if sort_cols or kind_order:  # one orderBy — chained orderBy calls would replace each other
        out = out.orderBy(*sort_cols, *kind_order)

    if frm:
        # ES from/size offset pagination. Spark plans Offset under the sort
        # (GlobalLimit-style merge of from+size rows from the partition
        # heaps), so a page deep in the order still costs O(from+size)
        # driver merge — fine for UI paging; deep pagination should use
        # search_after (sargable keyset, O(page)) like ES recommends.
        out = out.offset(frm)
    # without a size, knn rows are at most k and scored hits at most
    # from + 10, so only a post_filtered body needs the default cut
    if size is not None or post_filter:
        out = out.limit(page)
    return out

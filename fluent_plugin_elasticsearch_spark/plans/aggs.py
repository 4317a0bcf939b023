"""ES aggregations-body compiler (the `aggs` half of the search API the
reference forwards to the cluster) → Catalyst group-bys.

`compile_aggs` dispatches each agg kind — bucket, multi-bucket, metric,
pipeline and sibling-pipeline aggs, one branch each — onto a few rules,
each defined once here:

  * `_bucket_agg`: the bucket aggregate, groupBy(keys) → doc_count plus
    the metric sub-aggs' columns (`_metric_cols`); no keys, one bucket.
  * `_filtered_buckets`: buckets that are independent filters (a doc may
    land in several) — one filtered bucket aggregate each, unioned:
    `filters`, `adjacency_matrix` and the range family (`_range_buckets`,
    with the one `{from}-{to}` key rule).
  * `_split_subs`: a bucket agg's sub-aggs split into plain metrics
    (inside the groupBy), pipelines and cumulative_cardinality (over the
    bucket frame, gap-filled or not).
  * `_compile_bucket_path`: nested bucket levels (terms in date_histogram
    in terms, …) as ONE multi-key groupBy, windows for parent doc_counts,
    per-level `size` and order.
  * `_level_options`: the terms options (include regex or partition,
    exclude, order) of any bucket level, single or nested.

Buckets are ordered ES-style: doc_count desc, key asc; `size` applies
LIMIT. Everything compiles to scan → filter (the body's `query` via
query_ast) → hash aggregate: partial aggregation, pushdown, AQE all come
free, and the shuffle key is the bucket key — the same plan shape at any
corpus size.
"""

from __future__ import annotations

import datetime as dt
import math
from functools import reduce
from typing import Any

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec

from .query_ast import _DIST_UNITS_M, UnsupportedQuery, _compile_clause, haversine_m_col

_CAL = {
    "second": "second", "minute": "minute", "hour": "hour", "day": "day",
    "week": "week", "month": "month", "quarter": "quarter", "year": "year",
    "1s": "second", "1m": "minute", "1h": "hour", "1d": "day",
    "1w": "week", "1M": "month", "1q": "quarter", "1y": "year",
}

_METRICS = {
    "avg": F.avg, "min": F.min, "max": F.max, "sum": F.sum,
    "value_count": F.count,
}


def _bucket_key(kind: str, spec: dict[str, Any]) -> Column:
    field = spec["field"]
    if kind == "terms":
        # ES `missing`: docs with a null field land in a named bucket
        # instead of being dropped
        if "missing" in spec:
            return F.coalesce(F.col(field), F.lit(spec["missing"]))
        return F.col(field)
    if kind == "date_histogram":
        unit = spec.get("calendar_interval") or spec.get("fixed_interval")
        if unit not in _CAL:
            raise UnsupportedQuery(f"unsupported interval: {unit}")
        return F.date_trunc(_CAL[unit], F.col(field))
    if kind == "histogram":
        w = float(spec["interval"])
        return (F.floor(F.col(field) / w) * w)
    if kind == "geotile_grid":
        # ES geotile_grid: web-mercator tile key "z/x/y" at `precision`
        # zoom — pure column math (radians/tan/log), one groupBy like any
        # bucket agg. Poles clamped to the valid tile range like ES.
        z = int(spec.get("precision", 7))
        n = 2 ** z
        lat = F.col(field).getField("lat")
        lon = F.col(field).getField("lon")
        lat_r = F.radians(lat)
        x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n)).cast("long")
        y = F.floor(
            (F.lit(1.0) - F.log(F.tan(lat_r) + F.lit(1.0) / F.cos(lat_r)) / F.lit(math.pi))
            / F.lit(2.0) * F.lit(n)).cast("long")
        x = F.least(F.greatest(x, F.lit(0)), F.lit(n - 1))
        y = F.least(F.greatest(y, F.lit(0)), F.lit(n - 1))
        return F.concat_ws("/", F.lit(str(z)), x, y)
    if kind == "geohash_grid":
        # ES geohash_grid: base32 geohash cell key at `precision` chars.
        # A geohash is the bit-interleave of the binary expansions of
        # (lon+180)/360 and (lat+90)/180 — computed CLOSED-FORM: the two
        # fractions scale to integers with ONE floor each, then every
        # output bit is a shift/mask and every char an indexed lookup —
        # pure long arithmetic inside whole-stage codegen, no per-row
        # Python, no iterative bisection. ±90/±180 edges clamp into the
        # last cell (ES behavior). Mirrored exactly by geohash_grid_sql.
        p = int(spec.get("precision", 5))
        if not 1 <= p <= 12:
            raise UnsupportedQuery("geohash_grid precision must be 1..12")
        lonbits = (5 * p + 1) // 2
        latbits = 5 * p // 2
        lat = F.col(field).getField("lat")
        lon = F.col(field).getField("lon")
        lon_i = F.floor((lon + F.lit(180.0)) / F.lit(360.0)
                        * F.lit(float(2 ** lonbits))).cast("long")
        lat_i = F.floor((lat + F.lit(90.0)) / F.lit(180.0)
                        * F.lit(float(2 ** latbits))).cast("long")
        lon_i = F.least(F.greatest(lon_i, F.lit(0)), F.lit(2 ** lonbits - 1))
        lat_i = F.least(F.greatest(lat_i, F.lit(0)), F.lit(2 ** latbits - 1))
        total = 5 * p
        v = F.lit(0).cast("long")
        for i in range(total):  # even interleave positions ← lon MSB-first
            src, shift = ((lon_i, lonbits - 1 - i // 2) if i % 2 == 0
                          else (lat_i, latbits - 1 - (i - 1) // 2))
            v = v + F.shiftleft(
                F.shiftright(src, shift).bitwiseAND(F.lit(1)), total - 1 - i)
        alpha = F.array(*[F.lit(c) for c in _GEOHASH32])
        chars = [
            F.element_at(alpha, (F.shiftright(v, 5 * (p - 1 - j))
                                 .bitwiseAND(F.lit(31)) + 1).cast("int"))
            for j in range(p)
        ]
        return F.concat(*chars)
    raise UnsupportedQuery(f"unsupported bucket agg: {kind}")


_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_grid_sql(source_sql: str, lat: str, lon: str, precision: int,
                     size: int = 10000) -> str:
    """DuckDB mirror of the geohash_grid bucket agg: the identical
    closed-form scale-floor-interleave construction over a relation
    (``source_sql``) exposing ``lat``/``lon`` expressions."""
    p = int(precision)
    lonbits = (5 * p + 1) // 2
    latbits = 5 * p // 2
    total = 5 * p
    li = (f"least(greatest(CAST(floor(({lon} + 180.0) / 360.0 * "
          f"{2 ** lonbits}.0) AS BIGINT), 0), {2 ** lonbits - 1})")
    la = (f"least(greatest(CAST(floor(({lat} + 90.0) / 180.0 * "
          f"{2 ** latbits}.0) AS BIGINT), 0), {2 ** latbits - 1})")
    terms = []
    for i in range(total):
        src, shift = (("li", lonbits - 1 - i // 2) if i % 2 == 0
                      else ("la", latbits - 1 - (i - 1) // 2))
        terms.append(f"(((({src} >> {shift})) & 1) << {total - 1 - i})")
    key = " || ".join(
        f"substr('{_GEOHASH32}', CAST(((v >> {5 * (p - 1 - j)}) & 31) "
        f"AS INTEGER) + 1, 1)"
        for j in range(p)
    )
    return f"""
WITH src AS ({source_sql}),
idx AS (SELECT {li} AS li, {la} AS la FROM src),
vv AS (SELECT ({' + '.join(terms)}) AS v FROM idx),
keyed AS (SELECT {key} AS key FROM vv)
SELECT key, count(*) AS doc_count FROM keyed GROUP BY key
ORDER BY doc_count DESC, key ASC LIMIT {size}
"""


ES_DEFAULT_PERCENTS = [1.0, 5.0, 25.0, 50.0, 75.0, 95.0, 99.0]


def _kind_of(spec: dict[str, Any]) -> tuple[str, Any]:
    """An agg spec's (kind, body): its one key besides `aggs`."""
    ((kind, inner),) = ((k, v) for k, v in spec.items() if k != "aggs")
    return kind, inner


def _pct_label(v) -> str:
    """Column-name label of a percent or value: 50 → '50', 99.9 → '99_9',
    -1.5 → 'm1_5'."""
    return f"{float(v):g}".replace(".", "_").replace("-", "m")


def _stats_cols(name: str, field: str) -> list[Column]:
    """ES stats members of `field`: count, min, max, sum, avg."""
    return [F.count(field).alias(f"{name}_count"),
            F.min(field).alias(f"{name}_min"),
            F.max(field).alias(f"{name}_max"),
            F.sum(field).alias(f"{name}_sum"),
            F.avg(field).alias(f"{name}_avg")]


def _sample_cov(s_i: Column, s_j: Column, q_ij: Column, n: Column) -> Column:
    """Sample covariance from EXACT decimal moments (Σxᵢ, Σxⱼ, Σxᵢxⱼ, n):
    the product Σxᵢ·Σxⱼ is exact in decimal and converts to double ONCE,
    then a fixed float op order — the DuckDB mirrors' arithmetic."""
    return (q_ij.cast("double") - (s_i * s_j).cast("double") / n) / (n - 1)


def _metric_cols(aggs: dict[str, Any]) -> list[Column]:
    cols: list[Column] = []
    for name, spec in aggs.items():
        kind, body = _kind_of(spec)
        if kind == "weighted_avg":
            # ES weighted_avg: {"value": {"field": v}, "weight": {"field": w}}
            # → sum(v*w)/sum(w), one partial-aggregated pass
            v, w = body["value"]["field"], body["weight"]["field"]
            cols.append(
                (F.sum(F.col(v) * F.col(w)) / F.sum(F.col(w))).alias(name)
            )
            continue
        field = body.get("field")  # optional for `rate` (doc-count form)
        if kind == "percentiles":
            # exact linear-interpolation percentiles (identical to DuckDB's
            # quantile_cont — cross-engine-verified). ES itself serves
            # t-digest APPROXIMATIONS; pass approximate=True for Spark's
            # percentile_approx when an exact global sort-agg is too much.
            percents = body.get("percents", ES_DEFAULT_PERCENTS)
            fn = "percentile_approx" if body.get("approximate") else "percentile"
            extra = ", 10000" if body.get("approximate") else ""
            for p in percents:
                cols.append(F.expr(f"{fn}({field}, {float(p) / 100.0}{extra})")
                            .alias(f"{name}_p{_pct_label(p)}"))
        elif kind == "cardinality":
            # ES cardinality is an HLL approximation; approximate=True maps
            # to approx_count_distinct (HLL++), default is exact countDistinct
            if body.get("approximate"):
                cols.append(F.approx_count_distinct(field).alias(name))
            else:
                cols.append(F.countDistinct(field).alias(name))
        elif kind == "stats":
            cols += _stats_cols(name, field)
        elif kind == "extended_stats":
            # ES extended_stats: stats + sum_of_squares + POPULATION
            # variance/std_deviation (ES divides by N, not N-1)
            cols += _stats_cols(name, field) + [
                F.sum(F.col(field) * F.col(field)).alias(f"{name}_sum_of_squares"),
                F.var_pop(field).alias(f"{name}_variance"),
                F.stddev_pop(field).alias(f"{name}_std_deviation"),
            ]
        elif kind == "boxplot":
            # ES boxplot: min/q1/q2/q3/max (exact linear-interpolation
            # quantiles, like the percentiles agg; quantized for the oracle)
            cols += [F.min(field).alias(f"{name}_min"),
                     F.max(field).alias(f"{name}_max")]
            for q, lbl in ((0.25, "q1"), (0.5, "q2"), (0.75, "q3")):
                cols.append(
                    F.floor(F.expr(f"percentile({field}, {q})") * 1e6)
                    .cast("long").alias(f"{name}_{lbl}_u"))
        elif kind == "string_stats":
            # ES string_stats: count / min_length / max_length / avg_length.
            # (The entropy member needs a character-distribution pass — a
            # different plan shape than a groupBy column — and is served by
            # the TOP-LEVEL string_stats dispatch in compile_aggs.)
            ln = F.length(field)
            cols += [F.count(field).alias(f"{name}_count"),
                     F.min(ln).alias(f"{name}_min_length"),
                     F.max(ln).alias(f"{name}_max_length"),
                     F.floor(F.avg(ln) * 1e2).cast("long")
                     .alias(f"{name}_avg_length_u")]
        elif kind == "geo_bounds":
            # ES geo_bounds: the bounding box of a geo_point column
            cols += [F.max(F.col(field).getField("lat")).alias(f"{name}_top"),
                     F.min(F.col(field).getField("lat")).alias(f"{name}_bottom"),
                     F.min(F.col(field).getField("lon")).alias(f"{name}_left"),
                     F.max(F.col(field).getField("lon")).alias(f"{name}_right")]
        elif kind == "rate":
            # ES rate (inside a date_histogram): doc_count or field sum per
            # `unit` — here as events-per-unit using a fixed caller-supplied
            # bucket span (the histogram's own interval), one more column in
            # the same groupBy: rate = sum(field)/span_units (or count/span).
            # A real ES body carries {"unit": "day"} and derives the span
            # from the ENCLOSING date_histogram — this engine doesn't, so
            # accepting it and silently computing span 1 would be wrong
            # (ADVICE r5): raise loudly instead.
            if "unit" in body:
                raise UnsupportedQuery(
                    "rate: ES-style 'unit' is not derived from the enclosing "
                    "date_histogram here — pass 'bucket_span_units' (the "
                    "histogram interval expressed in the target unit)")
            if "bucket_span_units" not in body:
                raise UnsupportedQuery(
                    "rate requires explicit 'bucket_span_units'")
            span = float(body["bucket_span_units"])
            if body.get("field"):
                cols.append(F.floor(F.sum(body["field"]) / span * 1e2)
                            .cast("long").alias(f"{name}_u"))
            else:
                cols.append(F.floor(F.count(F.lit(1)) / span * 1e2)
                            .cast("long").alias(f"{name}_u"))
        elif kind == "percentile_ranks":
            # ES percentile_ranks: for each given value v, the percentage
            # of field values <= v. Exact (count ratio), quantized to
            # 1e-4 % so the cross-engine hash is stable:
            # {name}_rank_u columns are floor(pct · 1e4) per value.
            for v in body["values"]:
                cols.append(
                    F.floor(F.avg(F.when(F.col(field) <= float(v), 1.0)
                                  .otherwise(0.0)) * 1e6).cast("long")
                    .alias(f"{name}_rank_{_pct_label(v)}_u"))
        elif kind == "geo_centroid":
            # ES geo_centroid: arithmetic mean of lat/lon over the bucket
            cols += [
                F.avg(F.col(field).getField("lat")).alias(f"{name}_lat"),
                F.avg(F.col(field).getField("lon")).alias(f"{name}_lon"),
            ]
        elif kind in _METRICS:
            cols.append(_METRICS[kind](field).alias(name))
        else:
            raise UnsupportedQuery(f"unsupported agg kind: {kind}")
    return cols


def _bucket_agg(df: DataFrame, sub: dict[str, Any] | None, *keys) -> DataFrame:
    """The bucket aggregate: one row per distinct `keys` (no keys: one
    row for all of `df`) with its doc_count and the metric sub-aggs'
    columns."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("doc_count"),
                                 *_metric_cols(sub or {}))


def _filtered_buckets(base: DataFrame, kind: str,
                      parts: list[tuple[list[Column], Column]],
                      sub: dict[str, Any] | None, order: str) -> DataFrame:
    """Buckets that are independent filters (they may overlap, so a doc
    can count in several): a union of small filtered aggregates, not a
    groupBy. Each part is (its leading literal columns, its filter);
    buckets come back ordered by the `order` column ascending."""
    if not parts:
        raise UnsupportedQuery(f"{kind} agg: empty list of ranges or filters")
    return reduce(DataFrame.unionByName, [
        _bucket_agg(base.filter(cond), sub).select(*lead, "*")
        for lead, cond in parts]).orderBy(F.asc(order))


def _range_buckets(base: DataFrame, kind: str, x: Column,
                   ranges: list[dict[str, Any]], bound,
                   sub: dict[str, Any] | None) -> DataFrame:
    """ES range-family buckets (range, date_range, ip_range,
    geo_distance): each range an independent [from, to) filter on `x`,
    `bound` mapping a from/to value to the Column `x` compares with.
    Buckets come back in the given order (`bucket_idx`), keyed by the
    range's `key` or ES-style `{from}-{to}` with `*` for an open end."""
    parts = []
    for idx, r in enumerate(ranges):
        frm, to = r.get("from"), r.get("to")
        cond = F.lit(True)
        if frm is not None:
            cond = cond & (x >= bound(frm))
        if to is not None:
            cond = cond & (x < bound(to))
        key = r.get("key") or (
            f"{'*' if frm is None else frm}-{'*' if to is None else to}")
        parts.append(([F.lit(idx).alias("bucket_idx"),
                       F.lit(str(key)).alias("key")], cond))
    return _filtered_buckets(base, kind, parts, sub, "bucket_idx")


def _split_subs(sub: dict[str, Any] | None):
    """A bucket agg's sub-aggs → (plain, pipelines, cumulative_cardinality):
    plain ones compile into the bucket aggregate, the others run over its
    bucket frame."""
    plain: dict[str, Any] = {}
    pipes: dict[str, Any] = {}
    cc: dict[str, Any] = {}
    for n, s in (sub or {}).items():
        k = _kind_of(s)[0]
        (cc if k == "cumulative_cardinality"
         else pipes if k in _PIPELINE_KINDS else plain)[n] = s
    return plain, pipes, cc


def _sort_spec(spec) -> list[tuple[str, Column]]:
    """ES sort spec — a field name, {field: "asc"|"desc"}, {field:
    {"order": …}}, or a list of them — as (field, order Column) pairs."""
    out = []
    for s in spec if isinstance(spec, list) else [spec]:
        if isinstance(s, str):
            out.append((s, F.col(s).asc()))
            continue
        ((field, o),) = s.items()
        d = o.get("order", "asc") if isinstance(o, dict) else o
        out.append((field, F.col(field).desc() if d == "desc" else F.col(field).asc()))
    return out


def _series() -> WindowSpec:
    """The window over a REDUCED bucket series: one partition, as ES's
    coordinating-node reduce phase is one sequence (bucket count ≪ doc
    count, so this is the operator's design, not a corpus funnel).
    partitionBy(lit(0)) plans like an unpartitioned window but keeps
    Spark's "No Partition Defined" warning out of the logs, so a real
    accidental unpartitioned window elsewhere stays visible."""
    return Window.partitionBy(F.lit(0))


def _key_series() -> WindowSpec:
    """`_series` in bucket key order."""
    return _series().orderBy(F.asc("key"))


_BUCKET_KINDS = ("terms", "date_histogram", "histogram", "geotile_grid",
                 "geohash_grid")


def _level_options(df: DataFrame, inner: dict[str, Any], key: str, count: str,
                   leaf: bool) -> tuple[DataFrame, list[Column]]:
    """ES terms options of ONE bucket level, whose buckets are the rows of
    `df` keyed by column `key`, doc counts in `count`: `include` (an
    anchored regex, or a key partition) and `exclude` drop the level's
    buckets; returns the filtered frame and the level's ES order — by
    `order` (_key, _count, or on the `leaf` level a metric sub-agg),
    default doc count desc — with the key ascending as the tie-break."""
    k = F.col(key)
    inc = inner.get("include")
    if isinstance(inc, dict):
        # ES key partitioning for huge-cardinality terms paging:
        # {"include": {"partition": p, "num_partitions": n}} — each
        # request sees the keys whose hash lands in its partition.
        # The engine-independent hash contract is the first 8 hex
        # chars of md5(key) mod n (ES's own hash is Lucene-internal;
        # md5 is the documented cross-engine contract, mirrored in
        # the DuckDB oracle).
        p, np_ = int(inc["partition"]), int(inc["num_partitions"])
        if not 0 <= p < np_:
            raise UnsupportedQuery("terms include.partition out of range")
        bucket = F.conv(F.substring(F.md5(k.cast("string")), 1, 8),
                        16, 10).cast("long") % np_
        df = df.filter(bucket == p)
    elif inc:
        df = df.filter(k.cast("string").rlike(f"^(?:{inc})$"))
    exc = inner.get("exclude")
    if exc:
        df = df.filter(~k.cast("string").rlike(f"^(?:{exc})$"))
    lead = F.col(count).desc()
    if inner.get("order"):
        ((ocol, odir),) = inner["order"].items()
        ocol = key if ocol == "_key" else (count if ocol == "_count" else ocol)
        if ocol not in (key, count):
            if not leaf:  # metrics are computed on the leaf level only
                raise UnsupportedQuery(
                    f"order by a metric ({ocol}) is supported on the leaf "
                    "bucket level only")
            if ocol not in df.columns:
                raise UnsupportedQuery(f"order references unknown agg: {ocol}")
        lead = F.col(ocol).desc() if odir == "desc" else F.col(ocol).asc()
    return df, [lead, k.asc()]


def _compile_bucket_path(base: DataFrame, name: str, kind: str,
                         inner: dict[str, Any],
                         sub: dict[str, Any] | None) -> DataFrame:
    """Compile one bucket agg, possibly with NESTED bucket sub-aggs
    (terms inside date_histogram inside terms, …), to ONE multi-key
    groupBy over the leaf path — the flattened-bucket-tree plan: one
    aggregation on the composite bucket key regardless of depth, then
    window functions over the (already tiny) aggregated bucket rows for
    parent doc_counts, per-level options, `size` and ES bucket ordering.
    The windows add exchanges: for terms>terms `explain()` shows three —
    a hash on both keys (the aggregation), a hash on the parent key (its
    doc_count window), then `SinglePartition` (the top level's size
    rank); the deeper windows and the final sort run in that partition.

    Output columns: `<level>_key` per bucket level, `doc_count` (leaf),
    `<level>_doc_count` per NON-leaf level, plus leaf metric columns.
    Rows are ordered ES-style — each level by its order (default doc_count
    desc), then key asc, within its parent — and each level's `size`
    keeps its top-N buckets (dense_rank over bucket totals: every row of
    a bucket shares the rank, so whole subtrees survive or drop
    together). Each level's include/exclude drops its own buckets after
    the shallower levels' counts are taken, and a size cut comes after
    the level's own count: ES counts ALL docs in a bucket regardless of
    which child buckets are returned. (A parent whose child buckets are
    all dropped has no row left in the flattened frame.)"""
    levels: list[tuple[str, Column, dict[str, Any]]] = []
    while True:
        if kind not in _BUCKET_KINDS:
            raise UnsupportedQuery(f"unsupported bucket agg: {kind}")
        levels.append((name, _bucket_key(kind, inner).alias(f"{name}_key"), inner))
        bucket_subs = {n: s for n, s in (sub or {}).items()
                       if _kind_of(s)[0] in _BUCKET_KINDS}
        metrics = {n: s for n, s in (sub or {}).items() if n not in bucket_subs}
        if len(bucket_subs) > 1:
            raise UnsupportedQuery(
                "at most one nested bucket agg per level (issue sibling"
                " buckets as separate top-level aggs)")
        if not bucket_subs:
            break
        if metrics:
            raise UnsupportedQuery(
                "metrics alongside a nested bucket are unsupported —"
                " attach metrics to the leaf or issue a separate agg")
        ((name, spec),) = bucket_subs.items()
        kind, inner = _kind_of(spec)
        sub = spec.get("aggs")

    key_names = [f"{lv[0]}_key" for lv in levels]
    df = _bucket_agg(base, metrics, *[lv[1] for lv in levels])
    if len(levels) == 1:  # historical single-level shape: key/doc_count,
        # TakeOrderedAndProject instead of a single-partition window
        inner = levels[0][2]
        df, order = _level_options(df.withColumnRenamed(key_names[0], "key"),
                                   inner, "key", "doc_count", True)
        df = df.orderBy(*order)
        return df.limit(int(inner["size"])) if inner.get("size") else df
    # per level, shallow → deep: its options, its doc_count, its size cut
    # (a filter or size cut drops whole subtrees, so deeper counts
    # computed later are unaffected)
    order: list[Column] = []
    for depth, (lname, _, linner) in enumerate(levels):
        prefix = key_names[:depth]
        leaf = depth == len(levels) - 1
        cnt_col = "doc_count" if leaf else f"{lname}_doc_count"
        df, lorder = _level_options(df, linner, key_names[depth], cnt_col, leaf)
        if not leaf:
            df = df.withColumn(
                cnt_col,
                F.sum("doc_count").over(Window.partitionBy(*prefix, key_names[depth])),
            )
        if linner.get("size"):
            rw = Window.partitionBy(*prefix).orderBy(*lorder)
            df = (
                df.withColumn("__rank", F.dense_rank().over(rw))
                .filter(F.col("__rank") <= int(linner["size"]))
                .drop("__rank")
            )
        order += lorder
    return df.orderBy(*order)


_CAL_INTERVAL = {
    "second": "interval 1 second", "minute": "interval 1 minute",
    "hour": "interval 1 hour", "day": "interval 1 day",
    "week": "interval 7 days", "month": "interval 1 month",
    "quarter": "interval 3 months", "year": "interval 1 year",
}


_UNIT_SECONDS = [("second", 1), ("minute", 60), ("hour", 3600),
                 ("day", 86400), ("week", 604800), ("month", 2592000),
                 ("quarter", 7776000), ("year", 31536000)]


def _auto_date_histogram(base: DataFrame, inner: dict[str, Any],
                         sub: dict[str, Any] | None) -> DataFrame:
    """ES auto_date_histogram: pick the smallest calendar interval whose
    dense bucket count fits the `buckets` target (default 10), then
    behave like a gap-filled date_histogram at that interval. The chosen
    interval rides along as a literal `interval` column (ES returns it in
    the response). Bounds are one collected row, like the gap filler."""
    field = inner["field"]
    target = int(inner.get("buckets", 10))
    row = base.agg(F.min(field).alias("lo"), F.max(field).alias("hi")).collect()[0]
    lo, hi = row["lo"], row["hi"]
    if lo is None:
        return _bucket_agg(base, None).limit(0).select(
            F.lit(None).cast("timestamp").alias("key"),
            F.lit(0).alias("doc_count"), F.lit("day").alias("interval"))
    span_s = max((hi - lo).total_seconds(), 1.0)
    unit = _UNIT_SECONDS[-1][0]
    for u, secs in _UNIT_SECONDS:
        if span_s / secs + 1 <= target:
            unit = u
            break
    filled = _gap_filled_histogram(
        base, "date_histogram",
        {"field": field, "calendar_interval": unit, "min_doc_count": 0}, sub)
    return filled.withColumn("interval", F.lit(unit))


def _gap_filled_histogram(base: DataFrame, kind: str, inner: dict[str, Any],
                          sub: dict[str, Any] | None) -> DataFrame:
    """ES min_doc_count=0 histogram semantics: EVERY bucket between the
    (data or extended_bounds) min and max key appears, empty ones with
    doc_count 0 — the shape every ES dashboard relies on (gaps render as
    zeros, not missing points). Buckets in key order, ES histogram
    natural order.

    Plan: the normal partial-aggregated groupBy for the non-empty
    buckets; bounds = ONE collected row (coordinating-node-sized, like
    ES); the dense key axis is a generated sequence joined LEFT against
    the buckets. Metrics on empty buckets are null (ES renders null/0
    per metric kind — the envelope layer's concern)."""
    agg = _bucket_agg(base, sub, _bucket_key(kind, inner).alias("key"))
    spark = base.sparkSession
    eb = inner.get("extended_bounds") or {}
    row = agg.agg(F.min("key").alias("lo"), F.max("key").alias("hi")).collect()[0]
    lo, hi = row["lo"], row["hi"]
    if lo is None and not eb:
        return agg.orderBy(F.asc("key"))  # no data, no bounds → empty
    if kind == "histogram":
        # bucket indexes: the data's keys are index·w already (round
        # recovers the index), extended_bounds are raw values (floor).
        # The axis key is `_bucket_key`'s own index·w from the integer
        # index — a key built another way (lo + i·w) can miss a real
        # bucket's key by an ulp and drop its docs in the LEFT join.
        w = float(inner["interval"])
        idx = ([round(k / w) for k in (lo, hi) if k is not None]
               + [math.floor(float(eb[b]) / w) for b in ("min", "max")
                  if eb.get(b) is not None])
        axis = spark.range(max(idx) - min(idx) + 1).select(
            ((F.lit(min(idx)) + F.col("id")) * w).alias("key"))
    else:
        unit = _CAL[inner.get("calendar_interval") or inner.get("fixed_interval")]

        def as_dt(v):
            return dt.datetime.fromisoformat(v) if isinstance(v, str) else v

        cands_lo = [x for x in (lo, as_dt(eb.get("min"))) if x is not None]
        cands_hi = [x for x in (hi, as_dt(eb.get("max"))) if x is not None]
        lo, hi = min(cands_lo), max(cands_hi)
        axis = spark.createDataFrame([(lo, hi)], "lo timestamp, hi timestamp").select(
            F.explode(F.expr(
                f"sequence(date_trunc('{unit}', lo), date_trunc('{unit}', hi),"
                f" {_CAL_INTERVAL[unit]})")).alias("key"))
    filled = (
        axis.join(agg, "key", "left")
        .withColumn("doc_count", F.coalesce(F.col("doc_count"), F.lit(0)))
    )
    return filled.orderBy(F.asc("key"))


def compile_aggs(docs: DataFrame, body: dict[str, Any]) -> dict[str, DataFrame]:
    """Compile the body's `aggs` over docs (after its `query` filter).
    Returns {agg_name: DataFrame} — bucket aggs yield (key, doc_count,
    <sub-metrics...>) ordered (doc_count desc, key asc), nested bucket
    aggs a flattened (<level>_key..., doc_count, <level>_doc_count...,
    metrics) frame (see _compile_bucket_path); top-level metric aggs a
    single row; `filters` aggs one row per named filter."""
    out: dict[str, DataFrame] = {}
    base = docs
    query = body.get("query")
    if query:
        base = base.filter(_compile_clause(query))
    specs = body.get("aggs") or {}
    # sibling pipeline aggs (avg_bucket & co.) read a SIBLING bucket
    # agg's compiled frame — defer them past the main pass
    siblings = {n: s for n, s in specs.items() if _kind_of(s)[0] in _SIBLING_KINDS}
    for name, spec in specs.items():
        if name in siblings:
            continue
        sub = spec.get("aggs")
        kind, inner = _kind_of(spec)
        if kind in _BUCKET_KINDS:
            plain, pipes, cc = _split_subs(sub)
            if (kind in ("date_histogram", "histogram")
                    and inner.get("min_doc_count", 1) == 0
                    and not any(_kind_of(s)[0] in _BUCKET_KINDS for s in plain.values())):
                # pipeline subs (derivative over a gap-filled series is THE
                # canonical ES pairing with min_doc_count:0) run over the
                # filled bucket frame, not inside the groupBy
                frame = _gap_filled_histogram(base, kind, inner, plain)
            elif any(_kind_of(s)[0] == "top_hits" for s in plain.values()):
                if len(sub) > 1:
                    raise UnsupportedQuery(
                        "top_hits cannot be mixed with sibling sub-aggs")
                ((_, th_spec),) = plain.items()
                out[name] = _top_hits(base, kind, inner, th_spec["top_hits"])
                continue
            else:
                frame = _compile_bucket_path(base, name, kind, inner, plain)
            if cc:  # first: later pipes may reference the cc column
                frame = _apply_cumulative_cardinality(
                    frame, base, kind, _bucket_key(kind, inner), cc, plain)
            out[name] = _apply_pipeline_aggs(frame, pipes) if pipes else frame
        elif kind == "multi_terms":
            # ES multi_terms: bucket on a TUPLE of fields — one multi-key
            # groupBy (single shuffle), ES order doc_count desc then keys
            # asc, `size` cut. Key rendered as the ES-style joined string
            # alongside the per-field columns.
            fields = [t["field"] for t in inner["terms"]]
            df = (_bucket_agg(base, sub, *[F.col(f) for f in fields])
                  .withColumn("key", F.concat_ws("|", *[F.col(f).cast("string")
                                                        for f in fields])))
            out[name] = df.orderBy(
                F.desc("doc_count"), *[F.asc(f) for f in fields]
            ).limit(int(inner.get("size", 10))).select(
                "key", *fields, "doc_count",
                *[c for c in df.columns if c not in fields + ["key", "doc_count"]])
        elif kind == "rare_terms":
            # ES rare_terms: the LONG TAIL — buckets with doc_count <=
            # max_doc_count (default 1), ordered doc_count asc then key asc
            # (no size cut in ES; bounded by the cap instead)
            out[name] = (
                _bucket_agg(base, sub, F.col(inner["field"]).alias("key"))
                .filter(F.col("doc_count") <= int(inner.get("max_doc_count", 1)))
                .orderBy(F.asc("doc_count"), F.asc("key"))
            )
        elif kind == "global":
            # ES global agg: escape the query filter — metrics over the
            # WHOLE index regardless of the body's query
            out[name] = _bucket_agg(docs, sub)
        elif kind == "filter":
            # ES single-filter agg: one bucket for the clause's matches
            out[name] = _bucket_agg(base.filter(_compile_clause(inner)), sub)
        elif kind == "filters":
            # ES filters agg: {"filters": {"filters": {name: clause, ...}}}
            # — each filter counts independently. Bucket order: key asc.
            fs = inner["filters"]
            out[name] = _filtered_buckets(
                base, kind, [([F.lit(f).alias("key")], _compile_clause(fs[f]))
                             for f in sorted(fs)], sub, "key")
        elif kind == "adjacency_matrix":
            # ES adjacency_matrix: one bucket per named filter plus one per
            # pair intersection (key "a&b", names sorted) — like the
            # filters agg; empty intersections are kept with doc_count 0
            # (ES drops them, but a stable row set hashes deterministically).
            fs = inner["filters"]
            names_sorted = sorted(fs)
            combos: list[tuple[str, Any]] = [(n, _compile_clause(fs[n])) for n in names_sorted]
            for i, na in enumerate(names_sorted):
                for nb in names_sorted[i + 1:]:
                    combos.append((f"{na}&{nb}",
                                   _compile_clause(fs[na]) & _compile_clause(fs[nb])))
            out[name] = _filtered_buckets(
                base, kind, [([F.lit(c).alias("key")], clause) for c, clause in combos],
                sub, "key")
        elif kind == "categorize_text":
            # ES categorize_text: cluster semi-structured log messages by
            # token pattern. Documented contract (ES's own algorithm is a
            # drain-tree heuristic): lowercase tokens, each all-digit token
            # replaced by '*', first `similarity_threshold`-independent K
            # tokens (`max_matched_tokens`, default 5) joined as the
            # category key — one projection + one groupBy, ES bucket order.
            toks = F.split(F.lower(F.col(inner["field"])), r"[^a-z0-9]+")
            toks = F.filter(toks, lambda t: t != F.lit(""))
            patt = F.transform(
                toks, lambda t: F.when(t.rlike("^[0-9]+$"), F.lit("*")).otherwise(t))
            key = F.concat_ws(" ", F.slice(patt, 1, int(inner.get("max_matched_tokens", 5))))
            out[name] = (_bucket_agg(base, sub, key.alias("key"))
                         .orderBy(F.desc("doc_count"), F.asc("key"))
                         .limit(int(inner.get("size", 10))))
        elif kind in ("sampler", "diversified_sampler"):
            # ES sampler agg (deterministic variant): the `shard_size` docs
            # with the smallest md5(doc_id) — an engine-independent uniform
            # sample (same stratified_sample trick), then the sub-aggs over
            # just the sample. ES samples per-shard by score; a hash-keyed
            # global cut is the deterministic, cluster-invariant analogue.
            # diversified_sampler adds a DIVERSITY cap: at most
            # max_docs_per_value docs sharing `field` enter the sample,
            # ranked per value by the same md5 — a window partitioned by
            # the diversity field (bounded per-value state), never the
            # whole corpus.
            id_c = inner.get("id_field", "doc_id")
            sampled = base.withColumn("__smp", F.md5(F.col(id_c).cast("string")))
            if kind == "diversified_sampler":
                wd = Window.partitionBy(inner["field"]).orderBy(F.asc("__smp"))
                sampled = (sampled.withColumn("__rank", F.row_number().over(wd))
                           .filter(F.col("__rank") <= int(inner.get("max_docs_per_value", 1))))
            sampled = (sampled.orderBy(F.asc("__smp"))
                       .limit(int(inner.get("shard_size", 100))).drop("__smp", "__rank"))
            out[name] = _bucket_agg(sampled, sub)
        elif kind == "random_sampler":
            # ES random_sampler agg (8.2, x-pack): probabilistic sample of
            # the corpus with results scaled back — the speed-vs-accuracy
            # knob for huge aggs. Deterministic variant: keep a doc iff
            # the md5(seed|id) 60-bit uniform falls below p·2^60 (the
            # stratified_sample idiom), so the SAME docs are sampled on
            # any engine/partitioning. doc_count is the scaled estimate
            # floor(n_sampled / p). Sub-aggs must be scale-INVARIANT
            # (avg/min/max/percentiles...); count-proportional sub-aggs
            # (sum, value_count, cardinality) would need ES's internal
            # scaling and raise loudly instead of returning unscaled
            # numbers.
            p = float(inner["probability"])
            if not 0.0 < p <= 1.0:
                raise UnsupportedQuery("random_sampler probability in (0,1]")
            seed = int(inner.get("seed", 0))
            id_c = inner.get("id_field", "doc_id")
            scale_dependent = {"sum", "value_count", "cardinality"}
            for sname, sspec in (sub or {}).items():
                kinds = set(sspec) & scale_dependent
                if kinds:
                    raise UnsupportedQuery(
                        f"random_sampler sub-agg {sname!r}: {sorted(kinds)} "
                        "are count-proportional (need scaling); use "
                        "scale-invariant metrics")
            thr = int(p * float(1 << 60))
            u = F.conv(F.substring(F.md5(F.concat(
                F.lit(f"{seed}|"), F.col(id_c).cast("string"))), 1, 15),
                16, 10).cast("decimal(20,0)")
            sampled = base.filter(u < F.lit(thr).cast("decimal(20,0)"))
            out[name] = sampled.agg(
                F.floor(F.count(F.lit(1)) / F.lit(p)).cast("long")
                .alias("doc_count"), *_metric_cols(sub or {}))
        elif kind in ("range", "date_range"):
            conv = ((lambda v: F.to_timestamp(F.lit(v))) if kind == "date_range"
                    else (lambda v: F.lit(float(v))))
            out[name] = _range_buckets(base, kind, F.col(inner["field"]),
                                       inner["ranges"], conv, sub)
        elif kind == "geo_distance":
            # ES geo_distance agg: range buckets over the haversine distance
            # from `origin` in `unit`, the fixed-op-order haversine of the
            # geo_distance query, so a SQL mirror stays value-exact
            origin, unit_m = inner["origin"], _DIST_UNITS_M[inner.get("unit", "m")]
            dist = haversine_m_col(F.col(inner["field"]),
                                   float(origin["lat"]), float(origin["lon"]))
            out[name] = _range_buckets(base, kind, dist, inner["ranges"],
                                       lambda v: F.lit(float(v) * unit_m), sub)
        elif kind == "ip_range":
            # ES ip_range agg: [from, to) buckets and CIDR masks over an IPv4
            # string column — bounds parsed driver-side to uint32 (a mask
            # becomes its [network, network + block) range), the row side
            # one split/cast projection
            ranges = []
            for r in inner["ranges"]:
                if "mask" in r:
                    net, bits = r["mask"].split("/")
                    block = 1 << (32 - int(bits))
                    lo = ip_to_long(net) & (~(block - 1) & 0xFFFFFFFF)
                    r = {"key": r["mask"], "from": lo, "to": lo + block}
                ranges.append(r)
            out[name] = _range_buckets(
                base, kind, ip_col_to_long(F.col(inner["field"])), ranges,
                lambda v: F.lit(ip_to_long(v) if isinstance(v, str) else v), sub)
        elif kind == "ip_prefix":
            out[name] = _ip_prefix_agg(base, inner, sub)
        elif kind == "auto_date_histogram":
            out[name] = _auto_date_histogram(base, inner, sub)
        elif kind == "missing":
            # ES missing agg: one bucket counting docs where the field is
            # null — a single partial-aggregated scan, no shuffle key
            out[name] = base.agg(
                F.sum(F.when(F.col(inner["field"]).isNull(), 1).otherwise(0))
                .cast("long").alias("doc_count")
            )
        elif kind in ("significant_terms", "significant_text"):
            out[name] = _significant(docs, base, kind, inner)
        elif kind == "composite":
            out[name] = _composite(base, inner, sub)
        elif kind == "variable_width_histogram":
            out[name] = _variable_width_histogram(base, inner)
        elif kind == "t_test":
            # ES t_test (Welch's / heteroscedastic): two filtered
            # populations of `field`, t = (m1−m2)/√(v1/n1 + v2/n2).
            # Moments come from EXACT integer aggregates (n, Σx, Σx²) in
            # one conditional-aggregation pass — never var_samp, whose
            # Welford accumulation is partitioning-order-sensitive; the
            # final float formula is a fixed op order both engines share.
            # Works on integer-quantized fields (quantize upstream).
            f = inner["field"]
            ca = _compile_clause(inner["a"]["filter"])
            cb = _compile_clause(inner["b"]["filter"])
            # Σx and Σx² accumulate as decimal(38,0): a long Σx² silently
            # wraps (non-ANSI Spark) once |x|·√rows nears 2⁶³ (ADVICE r5);
            # decimal either holds 38 digits or raises loudly.
            xd = F.col(f).cast("decimal(19,0)")

            def side(c, tag):
                return [F.count(F.when(c, F.lit(1))).alias(f"n{tag}"),
                        F.sum(F.when(c, xd)).alias(f"s{tag}"),
                        F.sum(F.when(c, xd * xd)).alias(f"q{tag}")]

            mom = base.agg(*side(ca, "1"), *side(cb, "2"))
            # exact integer moments → fixed-op-order FLOAT formula (both
            # engines share it from here; s·s exact to 38 digits, past the
            # mirror's int64 raise bound)
            n1, n2 = F.col("n1"), F.col("n2")
            m1 = F.col("s1").cast("double") / n1
            m2 = F.col("s2").cast("double") / n2
            v1 = _sample_cov(F.col("s1"), F.col("s1"), F.col("q1"), n1)
            v2 = _sample_cov(F.col("s2"), F.col("s2"), F.col("q2"), n2)
            t = (m1 - m2) / F.sqrt(v1 / n1 + v2 / n2)
            out[name] = mom.select(
                F.col("n1"), F.col("n2"),
                F.floor(t * 1e6).cast("long").alias(f"{name}_t_u"))
        elif kind == "geo_line":
            # ES geo_line: the docs' points as a line ordered by the sort
            # field, truncated to `size` (ES keeps the first `size` in
            # sort order). Coordinates render as integer micro-degrees
            # (floor(x·1e6)) — float-to-string formatting differs across
            # engines, integers don't. The ordered fold is an
            # array_sort(collect_list(struct)) — order-independent
            # aggregation, deterministic under any partitioning; the
            # size cut is a global sort+limit (the agg's contract is an
            # ordered line, so the sort is the operator, not overhead).
            if "point" not in inner or "sort" not in inner:
                raise UnsupportedQuery(
                    "geo_line needs point.field and sort.field")
            pf = inner["point"]["field"]
            sfld = inner["sort"]["field"]
            gl_n = int(inner.get("size", 10000))
            pts = base.select(
                F.col(sfld).alias("__s"),
                F.floor(F.col(pf).getField("lon") * 1e6).cast("long")
                .alias("__lon_u"),
                F.floor(F.col(pf).getField("lat") * 1e6).cast("long")
                .alias("__lat_u"),
            ).orderBy(F.asc("__s"), F.asc("__lon_u"), F.asc("__lat_u")) \
             .limit(gl_n)
            line = F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct("__s", "__lon_u", "__lat_u"))),
                    lambda x: F.concat_ws(
                        " ", x.getField("__lon_u"), x.getField("__lat_u"))),
                ",")
            out[name] = pts.agg(
                line.alias(f"{name}_line"),
                F.count(F.lit(1)).alias("doc_count"))
        elif kind == "frequent_item_sets":
            # ES frequent_item_sets (8.x): itemsets of field:value items
            # by document support. Deterministic subset: set sizes 1 and
            # 2 over scalar fields (each doc's transaction = its distinct
            # field:value pairs); larger sets raise rather than silently
            # truncate. Plan: one explode for singletons, one
            # ordered-pair explode for pairs (bounded by |fields|² per
            # doc), each a partial-aggregated groupBy on the itemset —
            # the word-count shape, no apriori candidate loop needed at
            # max size 2.
            fi_fields = [f["field"] for f in inner["fields"]]
            min_sup = float(inner.get("minimum_support", 0.1))
            min_size = int(inner.get("minimum_set_size", 1))
            max_size = int(inner.get("maximum_set_size", 2))
            if max_size > 2:
                raise UnsupportedQuery(
                    "frequent_item_sets supports maximum_set_size <= 2")
            fi_size = int(inner.get("size", 10))
            items = F.array_sort(F.array_distinct(F.array(*[
                F.concat_ws(":", F.lit(f), F.col(f).cast("string"))
                for f in fi_fields])))
            sel = base.select(items.alias("items"))
            n_tx = sel.agg(F.count(F.lit(1)).alias("n"))
            parts = []
            if min_size <= 1:
                parts.append(sel.select(
                    F.explode("items").alias("itemset"),
                    F.lit(1).alias("set_size")))
            if max_size >= 2:
                ex = sel.select("items",
                                F.posexplode("items").alias("i", "a"))
                pair = ex.select(
                    F.explode(F.slice(
                        F.col("items"), F.col("i") + 2,
                        F.size("items"))).alias("b"),
                    F.col("a"))
                parts.append(pair.select(
                    F.concat_ws("|", "a", "b").alias("itemset"),
                    F.lit(2).alias("set_size")))
            if not parts:
                raise UnsupportedQuery(
                    "frequent_item_sets minimum_set_size exceeds maximum")
            counted = (_bucket_agg(reduce(DataFrame.unionByName, parts), None,
                                   "itemset", "set_size")
                       .crossJoin(F.broadcast(n_tx)))
            sup = F.floor(F.col("doc_count") / F.col("n") * 1e6).cast("long")
            out[name] = (
                counted.select("itemset", "set_size", "doc_count",
                               sup.alias("support_u"))
                .filter(F.col("support_u") >= int(math.floor(min_sup * 1e6)))
                .orderBy(F.desc("doc_count"), F.asc("itemset"))
                .limit(fi_size))
        elif kind == "nested":
            # ES nested agg: switch the aggregation context to the
            # elements of an array-of-structs column — doc_count counts
            # ELEMENTS, a terms sub-agg buckets elements, and a
            # reverse_nested sub-sub-agg jumps back to PARENT documents
            # (count of distinct parents with >= 1 element in the
            # bucket). Parent identity is the engine's doc_id column
            # (ES nested docs carry their parent intrinsically). The
            # whole tree is ONE explode + ONE groupBy — the explode is
            # map-side, so the plan is the same single shuffle as a flat
            # terms agg.
            path = inner["path"]
            if "doc_id" not in base.columns:
                raise UnsupportedQuery(
                    "nested agg needs a doc_id column (reverse_nested "
                    "parent identity)")

            def _strip(f_: str) -> str:
                if not f_.startswith(path + "."):
                    raise UnsupportedQuery(
                        f"nested sub-agg fields must be {path}.*: {f_}")
                return f_[len(path) + 1:]

            ex = (base.select("doc_id", F.explode(path).alias("__e"))
                  .select("doc_id", "__e.*"))
            if not sub:
                out[name] = _bucket_agg(ex, None)
                continue
            if len(sub) != 1 or "terms" not in next(iter(sub.values())):
                raise UnsupportedQuery(
                    "nested agg supports one terms sub-agg (or none)")
            ((_tname, tspec),) = sub.items()
            tin = tspec["terms"]
            tsub = tspec.get("aggs") or {}
            aggs = [F.count(F.lit(1)).alias("doc_count")]
            for mname, mspec in tsub.items():
                mk, mi = _kind_of(mspec)
                if mk == "reverse_nested":
                    if isinstance(mi, dict) and mi.get("path"):
                        raise UnsupportedQuery(
                            "reverse_nested to an intermediate path")
                    aggs.append(F.countDistinct("doc_id")
                                .alias(f"{mname}_doc_count"))
                elif mk in _METRICS:
                    aggs.append(_METRICS[mk](F.col(_strip(mi["field"])))
                                .alias(mname))
                else:
                    raise UnsupportedQuery(
                        f"nested terms sub-agg kind: {mk}")
            t_size = int(tin.get("size", 10))
            out[name] = (
                ex.groupBy(F.col(_strip(tin["field"])).alias("key"))
                .agg(*aggs)
                .orderBy(F.desc("doc_count"), F.asc("key"))
                .limit(t_size))
        elif kind == "matrix_stats":
            # ES matrix_stats: per-field mean/variance plus pairwise
            # covariance/correlation over docs holding EVERY field (ES
            # drops incomplete docs). Moments are EXACT decimal
            # aggregates (n, Σxᵢ, Σxᵢxⱼ) in ONE partial-aggregated pass —
            # never covar_samp/corr, whose Welford accumulation is
            # partitioning-order-sensitive; derived stats follow a fixed
            # float op order both engines share (the t_test contract:
            # integer-quantized fields, quantize upstream).
            flds = list(inner["fields"])
            if len(flds) < 2:
                raise UnsupportedQuery("matrix_stats needs >= 2 fields")
            present = base
            for f_ in flds:
                present = present.filter(F.col(f_).isNotNull())
            xs = {f_: F.col(f_).cast("decimal(19,0)") for f_ in flds}
            moms = [F.count(F.lit(1)).alias("n")]
            for i, fi in enumerate(flds):
                moms.append(F.sum(xs[fi]).alias(f"s{i}"))
                for j in range(i, len(flds)):
                    moms.append(F.sum(xs[fi] * xs[flds[j]]).alias(f"q{i}_{j}"))
            mom = present.agg(*moms)
            n = F.col("n")

            def cov(i, j):
                return _sample_cov(F.col(f"s{i}"), F.col(f"s{j}"),
                                   F.col(f"q{min(i, j)}_{max(i, j)}"), n)

            cols = [n.alias(f"{name}_count")]
            for i, fi in enumerate(flds):
                cols.append(F.floor(F.col(f"s{i}").cast("double") / n * 1e6)
                            .cast("long").alias(f"{name}_{fi}_mean_u"))
                cols.append(F.floor(cov(i, i) * 1e6).cast("long")
                            .alias(f"{name}_{fi}_var_u"))
            for i in range(len(flds)):
                for j in range(i + 1, len(flds)):
                    pair = f"{name}_{flds[i]}_{flds[j]}"
                    cols.append(F.floor(cov(i, j) * 1e6).cast("long")
                                .alias(f"{pair}_cov_u"))
                    corr = cov(i, j) / F.sqrt(cov(i, i) * cov(j, j))
                    cols.append(F.floor(corr * 1e9).cast("long")
                                .alias(f"{pair}_corr_u"))
            out[name] = mom.select(*cols)
        elif kind == "median_absolute_deviation":
            # ES MAD: median(|x - median(x)|). Two chained exact medians —
            # the inner one is a broadcast single-row subplan, the outer a
            # second partial-aggregated pass; quantized for the oracle.
            f = inner["field"]
            med = base.agg(F.expr(f"percentile({f}, 0.5)").alias("__med"))
            out[name] = (
                base.crossJoin(F.broadcast(med))
                .agg(F.floor(F.expr(f"percentile(abs({f} - __med), 0.5)") * 1e6)
                     .cast("long").alias(f"{name}_u")))
        elif kind == "top_metrics":
            # ES top_metrics: metric values from the top `size` docs by the
            # sort key. Deterministic tie-break: after the sort key, order
            # by every metric column ascending (documented contract; ES
            # itself is shard-order-dependent on ties).
            sf_, lead = _sort_spec(inner["sort"])[0]
            ms = inner["metrics"]
            metrics = [m["field"] for m in (ms if isinstance(ms, list) else [ms])]
            sz = int(inner.get("size", 1))
            out[name] = (
                base.select(F.col(sf_).alias("sort_value"),
                            *[F.col(m) for m in metrics])
                .orderBy(lead, *[F.asc(m) for m in metrics])
                .limit(sz))
        elif kind == "string_stats":
            # top-level form adds the Shannon entropy over the CHARACTER
            # distribution: entropy = ln(N) − (Σ cᵢ·ln cᵢ)/N, each
            # cᵢ·ln cᵢ term quantized to integer micro-nats BEFORE the sum
            # (exact cross-engine integer total — the unigram_logprob trick).
            # One explode+groupBy over chars for the distribution, one agg
            # for the lengths; both corpus-keyed, no driver funnel.
            f = inner["field"]
            lens = base.agg(*_metric_cols({name: {kind: inner}}))
            chars = (base.select(F.explode(F.split(F.col(f), "")).alias("ch"))
                     .filter(F.col("ch") != "")
                     .groupBy("ch").agg(F.count(F.lit(1)).alias("c")))
            ent = (chars.agg(
                F.sum("c").alias("n"),
                F.sum(F.floor(F.col("c") * F.log(F.col("c").cast("double")) * 1e6)
                      .cast("long")).alias("clnc_u"))
                .select(F.floor((F.log(F.col("n").cast("double"))
                                 - F.col("clnc_u") / 1e6 / F.col("n")) * 1e6)
                        .cast("long").alias(f"{name}_entropy_u")))
            out[name] = lens.crossJoin(F.broadcast(ent))
        else:  # a metric agg (_metric_cols raises on any other kind)
            out[name] = base.agg(*_metric_cols({name: {kind: inner}}))
    for name, spec in siblings.items():
        out[name] = _sibling_bucket(out, name, *_kind_of(spec))
    return out


_SIBLING_KINDS = ("avg_bucket", "sum_bucket", "min_bucket", "max_bucket",
                  "stats_bucket", "percentiles_bucket", "bucket_correlation",
                  "change_point", "bucket_count_ks_test")


def _sibling_bucket(compiled: dict[str, DataFrame], name: str, kind: str,
                    inner: dict[str, Any]) -> DataFrame:
    """ES sibling pipeline aggs (avg_bucket / sum_bucket / min_bucket /
    max_bucket / stats_bucket / percentiles_bucket): aggregate one metric
    ACROSS a sibling multi-bucket agg's buckets into a single row. The
    input is the sibling's already-reduced bucket frame (bucket count ≪
    doc count — this is ES's coordinating-node reduce phase), so the
    whole-frame aggregate is a design property, not a corpus funnel.
    gap_policy "skip" (the ES default) = null metric values ignored,
    which is Spark's aggregate-function default."""
    parent, _, metric = str(inner["buckets_path"]).partition(">")
    if parent not in compiled:
        raise UnsupportedQuery(
            f"{kind} buckets_path parent not compiled: {parent}")
    if not metric:
        raise UnsupportedQuery(
            f"{kind} buckets_path must be '<sibling>><metric>'")
    src = compiled[parent]
    col = "doc_count" if metric == "_count" else metric
    if col not in src.columns:
        raise UnsupportedQuery(
            f"{kind} buckets_path metric not in sibling frame: {metric}")
    if kind in ("avg_bucket", "sum_bucket", "min_bucket", "max_bucket"):
        return src.agg(_METRICS[kind[:-len("_bucket")]](col).alias(f"{name}_value"))
    if kind == "stats_bucket":
        return src.agg(*_stats_cols(name, col))
    if kind == "percentiles_bucket":
        percents = inner.get("percents", ES_DEFAULT_PERCENTS)
        return src.agg(*[
            F.expr(f"percentile({col}, {float(p) / 100.0})").alias(f"{name}_p{_pct_label(p)}")
            for p in percents
        ])
    if kind == "bucket_correlation":
        # ES x-pack bucket_correlation, count_correlation function
        # (simplified documented contract): PEARSON correlation between
        # the sibling's key-ordered metric series and the provided
        # `expectations` array. The series is the reduced bucket frame
        # (coordinator-sized — see the module scale note); pairing is a
        # row_number over the key order, the correlation one aggregate
        # with the textbook moment formula, quantized ×1e6.
        fn = (inner.get("function") or {}).get("count_correlation") or {}
        exp = (fn.get("indicator") or {}).get("expectations")
        if not exp:
            raise UnsupportedQuery(
                "bucket_correlation needs function.count_correlation."
                "indicator.expectations")
        exp = [float(x) for x in exp]
        ycol = F.element_at(
            F.array(*[F.lit(v) for v in exp]),
            F.row_number().over(_key_series()))
        paired = (src.select(F.col(col).cast("double").alias("x"),
                             ycol.alias("y"))
                  .filter(F.col("y").isNotNull()))  # buckets beyond the
        # expectations array are ignored (ES errors; documented subset)
        mom = paired.agg(
            F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx"),
            F.sum("y").alias("sy"), F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"))
        n = F.col("n").cast("double")
        den2 = ((F.col("sxx") - F.col("sx") * F.col("sx") / n)
                * (F.col("syy") - F.col("sy") * F.col("sy") / n))
        corr = F.when(  # zero-variance series → undefined corr → NULL
            den2 > 0,
            (F.col("sxy") - F.col("sx") * F.col("sy") / n) / F.sqrt(den2))
        return mom.select(F.floor(corr * 1e6).cast("long")
                          .alias(f"{name}_corr_u"))
    if kind == "bucket_count_ks_test":
        # ES x-pack bucket_count_ks_test (simplified documented
        # contract): two-sided Kolmogorov–Smirnov distance between the
        # sibling's key-ordered bucket-count distribution and the
        # provided `fractions` (default uniform) — D = max |CDF_obs −
        # CDF_exp| from exact running sums over the coordinator-sized
        # bucket frame, ×1e6 floor-quantized. ES returns p-values per
        # `alternatives`; the statistic is the deterministic,
        # engine-exact core, so that is what this emits. Non-two_sided
        # alternatives and sampling methods raise rather than silently
        # approximate.
        alts = inner.get("alternatives", ["two_sided"])
        if alts != ["two_sided"]:
            raise UnsupportedQuery(
                "bucket_count_ks_test supports alternatives=['two_sided']")
        if inner.get("sampling_method"):
            raise UnsupportedQuery("bucket_count_ks_test sampling_method")
        fracs = inner.get("fractions")
        w, wall = _key_series(), _series()
        x = F.col(col).cast("double")
        pre = (src.select(F.col("key"), x.alias("x"))
               .select(F.row_number().over(w).alias("k"),
                       F.sum("x").over(w).alias("cs"),
                       F.count(F.lit(1)).over(wall).alias("n_tot"),
                       F.sum("x").over(wall).alias("s_tot")))
        if fracs is not None:
            fr = [float(v) for v in fracs]
            tot = sum(fr)
            cum = []
            acc = 0.0
            for v in fr:
                acc = acc + v
                cum.append(acc / tot)
            cdf_exp = F.element_at(F.array(*[F.lit(c) for c in cum]),
                                   F.col("k"))
        else:
            cdf_exp = (F.col("k").cast("double")
                       / F.col("n_tot").cast("double"))
        d = F.abs(F.col("cs") / F.col("s_tot") - cdf_exp)
        return (pre.filter(cdf_exp.isNotNull())
                .agg(F.floor(F.max(d) * 1e6).cast("long")
                     .alias(f"{name}_d_u")))
    if kind == "change_point":
        # ES x-pack change_point (simplified documented contract): the
        # most likely STEP CHANGE in the sibling's key-ordered metric
        # series. ES runs a battery of hypothesis tests; the
        # deterministic engine-exact variant here is the classic
        # two-sample pooled-t scan — for every split k the statistic
        # t_k = (mean_left − mean_right) / √(v_pooled (1/k + 1/(n−k)))
        # from EXACT prefix sums (one pass of running-window sums over
        # the coordinator-sized bucket frame), argmax |t_k| with key-asc
        # tie-break. A constant series has every v_pooled = 0 → type
        # 'stationary' with NULL key, mirroring ES's stationary verdict.
        # Output: ({name}_key = first bucket of the changed regime,
        # {name}_type, {name}_t_u = t ×1e6 floor-quantized).
        w, wall = _key_series(), _series()
        x = F.col(col).cast("double")
        pre = (src.select(F.col("key"), x.alias("x"))
               .select("key",
                       F.row_number().over(w).alias("k"),
                       F.sum("x").over(w).alias("cs"),
                       F.sum(F.col("x") * F.col("x")).over(w).alias("cq"),
                       F.lead("key").over(w).alias("nkey"),
                       F.count(F.lit(1)).over(wall).alias("n_tot"),
                       F.sum("x").over(wall).alias("s_tot"),
                       F.sum(F.col("x") * F.col("x")).over(wall).alias("q_tot")))
        n1 = F.col("k").cast("double")
        n2 = (F.col("n_tot") - F.col("k")).cast("double")
        s1, q1 = F.col("cs"), F.col("cq")
        s2 = F.col("s_tot") - F.col("cs")
        q2 = F.col("q_tot") - F.col("cq")
        ntd = F.col("n_tot").cast("double")
        vp = ((q1 - s1 * s1 / n1) + (q2 - s2 * s2 / n2)) / (ntd - 2.0)
        t = F.when(vp > 0,
                   (s1 / n1 - s2 / n2) / F.sqrt(vp * (1.0 / n1 + 1.0 / n2)))
        cand = (pre.filter((F.col("k") < F.col("n_tot"))
                           & (F.col("n_tot") >= 3))
                .select("nkey", t.alias("t"))
                .orderBy(F.desc_nulls_last(F.abs(F.col("t"))), F.asc("nkey"))
                .limit(1))
        return cand.select(
            F.when(F.col("t").isNotNull(), F.col("nkey"))
            .alias(f"{name}_key"),
            F.when(F.col("t").isNotNull(), F.lit("step_change"))
            .otherwise(F.lit("stationary")).alias(f"{name}_type"),
            F.floor(F.col("t") * 1e6).cast("long").alias(f"{name}_t_u"))
    raise UnsupportedQuery(f"unsupported sibling pipeline agg: {kind}")


_VWH_ITERS = 2


def _variable_width_histogram(base: DataFrame, inner: dict[str, Any]) -> DataFrame:
    """ES variable_width_histogram: cluster a numeric field into at most
    `buckets` variable-width buckets. ES uses a shard-local streaming
    clusterer (order-dependent); the deterministic contract here is 1-D
    Lloyd's k-means — init = the k evenly-spaced exact percentiles
    ((2j+1)/2k), `_VWH_ITERS` fixed iterations — in the same ENTIRELY
    integer arithmetic as similarity.kmeans_clusters (milli-unit values,
    micro-unit centroids, exact integer updates), so the bucketing is
    identical on any engine/partitioning. Returns
    (min, key_u, max, doc_count) per non-empty bucket in key order;
    `key_u` is the centroid in micro-units."""
    f = inner["field"]
    k = int(inner.get("buckets", 10))
    # collapse to weighted (value, count) pairs: the cluster assignment of
    # a row depends ONLY on its value, so equal values need not be carried
    # separately.  This (a) removes the monotonically_increasing_id row
    # tag — non-deterministic under stage retry/recompute (ADVICE r5) —
    # in favor of the value itself as the argmin key, and (b) shrinks
    # every Lloyd iteration's k×n crossJoin+window to k×distinct(v).
    vw = (base.select(F.floor(F.col(f).cast("double") * 1000)
                      .cast("long").alias("v"))
          .groupBy("v").agg(F.count(F.lit(1)).alias("cnt")))
    qs = [(2 * j + 1) / (2.0 * k) for j in range(k)]
    cent = vw.agg(*[
        F.floor(F.expr(f"percentile(v, {q}, cnt)") * 1000).cast("long").alias(f"c{j}")
        for j, q in enumerate(qs)])
    cent = cent.select(F.explode(F.array(*[
        F.struct(F.lit(j).alias("cluster"), F.col(f"c{j}").alias("c"))
        for j in range(k)])).alias("s")).select("s.cluster", "s.c")
    w = Window.partitionBy("v").orderBy(F.asc("dist"), F.asc("cluster"))
    assign = None
    for _ in range(_VWH_ITERS):
        assign = (vw.crossJoin(F.broadcast(cent))
                  .withColumn("dist", F.abs(F.col("v") * 1000 - F.col("c")))
                  .withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") == 1)
                  .select("v", "cnt", "cluster"))
        # exact weighted integer centroid update — same multiset, same
        # floor arithmetic as the per-row form
        cent = (assign.groupBy("cluster")
                .agg(F.floor((F.sum(F.col("v") * F.col("cnt")) * 1000)
                             / F.sum("cnt"))
                     .cast("long").alias("c")))
    stats = (assign.join(cent, "cluster")
             .groupBy("cluster", "c")
             .agg(F.min(F.col("v") / 1000.0).alias("min"),
                  F.max(F.col("v") / 1000.0).alias("max"),
                  F.sum("cnt").alias("doc_count")))
    return (stats.select(F.col("min"), F.col("c").alias("key_u"),
                         F.col("max"), F.col("doc_count"))
            .orderBy(F.asc("key_u"), F.asc("min")))


def variable_width_histogram_sql(table: str, field: str, buckets: int = 10,
                                 iters: int = _VWH_ITERS) -> str:
    """DuckDB mirror of _variable_width_histogram (chained CTEs)."""
    k = int(buckets)
    qs = [(2 * j + 1) / (2.0 * k) for j in range(k)]
    init = " UNION ALL ".join(
        f"SELECT {j} AS cluster, CAST(floor(quantile_cont(v, {q}) * 1000) AS BIGINT) AS c FROM vals"
        for j, q in enumerate(qs))
    ctes = [f"""
vals AS (
  SELECT row_number() OVER () AS v_id,
         CAST(floor(CAST({field} AS DOUBLE) * 1000) AS BIGINT) AS v
  FROM {table}
),
cent0 AS ({init})"""]
    prev = "cent0"
    for it in range(1, iters + 1):
        ctes.append(f"""
a{it} AS (
  SELECT v_id, v, cluster FROM (
    SELECT t.v_id, t.v, ct.cluster,
           row_number() OVER (PARTITION BY t.v_id
             ORDER BY abs(t.v * 1000 - ct.c) ASC, ct.cluster ASC) AS rn
    FROM vals t CROSS JOIN {prev} ct
  ) WHERE rn = 1
),
cent{it} AS (
  SELECT cluster, CAST(floor((sum(v) * 1000) * 1.0 / count(*)) AS BIGINT) AS c
  FROM a{it} GROUP BY cluster
)""")
        prev = f"cent{it}"
    return ("WITH " + ",".join(ctes) + f"""
SELECT min(a.v / 1000.0) AS min, c.c AS key_u, max(a.v / 1000.0) AS max,
       count(*) AS doc_count
FROM a{iters} a JOIN cent{iters} c USING (cluster)
GROUP BY c.c
ORDER BY key_u ASC, min ASC""")


_PIPELINE_KINDS = ("derivative", "cumulative_sum", "moving_fn", "serial_diff",
                   "bucket_script", "bucket_selector", "bucket_sort",
                   "normalize", "moving_percentiles", "cumulative_cardinality")


def _apply_cumulative_cardinality(df: DataFrame, base: DataFrame,
                                  kind: str, key_expr: Column,
                                  cc_pipes: dict[str, Any],
                                  plain_subs: dict[str, Any]) -> DataFrame:
    """ES cumulative_cardinality: the number of DISTINCT field values seen
    in all buckets up to and including each bucket (ES pairs it with a
    derivative for incremental churn). ES merges the sibling cardinality
    agg's HLL sketches cumulatively in the reduce phase; the exact
    engine-independent contract here is the first-appearance form — each
    distinct value contributes to the cumulative count exactly at its
    FIRST bucket, so: groupBy(value).min(bucket) → per-bucket new-value
    counts → running sum over the reduced series. Two corpus-keyed
    shuffles (value, then bucket), no sketch approximation."""
    if kind not in ("date_histogram", "histogram"):
        raise UnsupportedQuery(
            "cumulative_cardinality needs an ordered histogram parent")
    w = _key_series().rowsBetween(Window.unboundedPreceding, 0)
    for pname, spec in cc_pipes.items():
        ps = spec["cumulative_cardinality"]
        path = ps.get("buckets_path")
        card = ((plain_subs or {}).get(path) or {}).get("cardinality")
        if not card:
            raise UnsupportedQuery(
                "cumulative_cardinality buckets_path must name a sibling "
                "cardinality agg")
        fld = card["field"]
        inc = (base.filter(F.col(fld).isNotNull())
               .groupBy(F.col(fld).alias("__v"))
               .agg(F.min(key_expr).alias("key"))
               .groupBy("key").agg(F.count(F.lit(1)).alias("__inc")))
        df = (df.join(inc, "key", "left")
              .withColumn(pname, F.sum(F.coalesce(F.col("__inc"), F.lit(0)))
                          .over(w))
              .drop("__inc"))
    return df.orderBy(F.asc("key"))


def _script_expr(script: str, paths: dict[str, str]) -> Column:
    """Compile a bucket_script/bucket_selector arithmetic script into a
    Column: names resolve through buckets_path, operators are
    + - * / comparisons and and/or — a safe subset parsed with Python's
    ast (no eval)."""
    import ast as _ast

    def conv(node) -> Column:
        if isinstance(node, _ast.Expression):
            return conv(node.body)
        if isinstance(node, _ast.BinOp):
            ops = {_ast.Add: "__add__", _ast.Sub: "__sub__",
                   _ast.Mult: "__mul__", _ast.Div: "__truediv__"}
            return getattr(conv(node.left), ops[type(node.op)])(conv(node.right))
        if isinstance(node, _ast.Compare):
            if len(node.ops) != 1:
                raise UnsupportedQuery("chained comparisons unsupported")
            ops = {_ast.Gt: "__gt__", _ast.Lt: "__lt__", _ast.GtE: "__ge__",
                   _ast.LtE: "__le__", _ast.Eq: "__eq__", _ast.NotEq: "__ne__"}
            return getattr(conv(node.left), ops[type(node.ops[0])])(
                conv(node.comparators[0]))
        if isinstance(node, _ast.BoolOp):
            parts = [conv(v) for v in node.values]
            combined = parts[0]
            for p in parts[1:]:
                combined = (combined & p) if isinstance(node.op, _ast.And) else (combined | p)
            return combined
        if isinstance(node, _ast.UnaryOp) and isinstance(node.op, _ast.USub):
            return -conv(node.operand)
        if isinstance(node, _ast.Call):
            # whitelisted math calls, accepted both bare (`log(x)`) and in
            # painless style (`Math.log(x)`); still no eval, no attributes
            # beyond the Math namespace
            fn = node.func
            if isinstance(fn, _ast.Attribute) and isinstance(fn.value, _ast.Name) \
                    and fn.value.id == "Math":
                fname = fn.attr
            elif isinstance(fn, _ast.Name):
                fname = fn.id
            else:
                raise UnsupportedQuery("unsupported script call form")
            one = {"abs": F.abs, "log": F.log, "sqrt": F.sqrt, "floor": F.floor,
                   "ceil": F.ceil, "exp": F.exp, "log10": F.log10}
            many = {"min": F.least, "max": F.greatest, "pow": F.pow}
            args = [conv(a) for a in node.args]
            if fname in one:
                if len(args) != 1:
                    raise UnsupportedQuery(f"{fname}() takes one argument")
                return one[fname](args[0])
            if fname in many:
                if len(args) < 2:
                    raise UnsupportedQuery(f"{fname}() takes two+ arguments")
                return many[fname](*args)
            raise UnsupportedQuery(f"unsupported script function: {fname}")
        if isinstance(node, _ast.Name):
            if node.id not in paths:
                raise UnsupportedQuery(f"script name not in buckets_path: {node.id}")
            return F.col(paths[node.id])
        if isinstance(node, _ast.Constant) and isinstance(node.value, (int, float)):
            return F.lit(node.value)
        raise UnsupportedQuery(f"unsupported script node: {type(node).__name__}")

    return conv(_ast.parse(script, mode="eval"))


def _apply_pipeline_aggs(df: DataFrame, pipes: dict[str, Any]) -> DataFrame:
    """ES pipeline aggregations over an already-aggregated bucket SERIES
    (derivative, cumulative_sum, moving_fn, serial_diff, bucket_script,
    bucket_selector, bucket_sort), applied in given order, buckets in key
    order (ES histogram semantics).

    These windows run over the REDUCED bucket series (`_series`); the
    corpus-sized work happened in the partial-agg groupBy upstream."""
    w = _key_series()
    sorted_out = False
    for pname, spec in pipes.items():
        ((pk, ps),) = spec.items()
        path = ps.get("buckets_path")
        if path == "_count":  # ES alias for the bucket's own doc count
            path = "doc_count"
        if pk == "derivative":
            df = df.withColumn(pname, F.col(path) - F.lag(path, 1).over(w))
        elif pk == "serial_diff":
            df = df.withColumn(
                pname, F.col(path) - F.lag(path, int(ps.get("lag", 1))).over(w))
        elif pk == "cumulative_sum":
            df = df.withColumn(pname, F.sum(path).over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
        elif pk == "moving_fn":
            # trailing window INCLUDING the current bucket (shift=0)
            fns = {"avg": F.avg, "min": F.min, "max": F.max, "sum": F.sum}
            fn = ps.get("script", "avg")
            if fn not in fns:
                raise UnsupportedQuery(f"unsupported moving_fn: {fn}")
            df = df.withColumn(pname, fns[fn](path).over(
                w.rowsBetween(-(int(ps["window"]) - 1), 0)))
        elif pk == "moving_percentiles":
            # ES moving_percentiles (deterministic variant): EXACT
            # linear-interpolation percentiles over the trailing window
            # including the current bucket (shift=0, like moving_fn) —
            # ES itself carries a t-digest sketch; the exact form is the
            # engine-independent contract, same as the percentiles metric
            win = w.rowsBetween(-(int(ps["window"]) - 1), 0)
            for p_ in ps.get("percents", ES_DEFAULT_PERCENTS):
                df = df.withColumn(
                    f"{pname}_p{_pct_label(p_)}",
                    F.expr(f"percentile({path}, {float(p_) / 100.0})").over(win))
        elif pk == "normalize":
            # ES normalize pipeline agg: rescale the metric across the
            # whole bucket series (ES reduce-phase semantics — the window
            # spans the reduced series, not the corpus)
            ww = w.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)
            x = F.col(path).cast("double")
            method = ps.get("method")
            if method == "percent_of_sum":
                expr = x / F.sum(path).over(ww)
            elif method == "rescale_0_1":
                expr = ((x - F.min(path).over(ww))
                        / (F.max(path).over(ww) - F.min(path).over(ww)))
            elif method == "rescale_0_100":
                expr = ((x - F.min(path).over(ww)) * 100.0
                        / (F.max(path).over(ww) - F.min(path).over(ww)))
            elif method == "mean":
                expr = ((x - F.avg(path).over(ww))
                        / (F.max(path).over(ww) - F.min(path).over(ww)))
            elif method == "z-score":
                expr = (x - F.avg(path).over(ww)) / F.stddev_pop(path).over(ww)
            elif method == "softmax":
                expr = F.exp(x) / F.sum(F.exp(x)).over(ww)
            else:
                raise UnsupportedQuery(f"unsupported normalize method: {method}")
            df = df.withColumn(pname, expr)
        elif pk == "bucket_script":
            df = df.withColumn(pname, _script_expr(ps["script"], ps["buckets_path"]))
        elif pk == "bucket_selector":
            df = df.filter(_script_expr(ps["script"], ps["buckets_path"]))
        elif pk == "bucket_sort":
            order = [c for _, c in _sort_spec(ps.get("sort", []))]
            df = df.orderBy(*(order or [F.asc("key")]))
            if ps.get("size"):
                df = df.limit(int(ps["size"]))
            sorted_out = True
        elif pk == "cumulative_cardinality":
            # needs the raw frame — compile_aggs extracts it before this
            # reduce-phase pass; reaching here means an unsupported nesting
            raise UnsupportedQuery(
                "cumulative_cardinality is only supported as a direct "
                "sub-agg of a top-level (date_)histogram")
        else:
            raise UnsupportedQuery(f"unsupported pipeline agg: {pk}")
    return df if sorted_out else df.orderBy(F.asc("key"))


def _top_hits(base: DataFrame, kind: str, inner: dict[str, Any],
              th: dict[str, Any]) -> DataFrame:
    """ES top_hits sub-agg under a bucket agg: the N best documents PER
    BUCKET by the top_hits sort. One groupBy for bucket doc_counts (the
    terms `size` cut, ES order) + one window partitioned BY THE BUCKET KEY
    for per-bucket hit ranks — both shuffles are keyed by the bucket key,
    so this is two hash-partitioned passes, never a global window.
    Output: one row per hit (key, doc_count, rank, <_source cols...>),
    ordered (bucket order — the terms options' — then rank asc)."""
    key = _bucket_key(kind, inner)
    n_hits = int(th.get("size", 3))
    buckets, order = _level_options(_bucket_agg(base, None, key.alias("key")),
                                    inner, "key", "doc_count", True)
    b_size = inner.get("size")
    if b_size:
        buckets = buckets.orderBy(*order).limit(int(b_size))
    sort_cols = [c for _, c in _sort_spec(th.get("sort", []))]
    src = th.get("_source")
    src_cols = list(src) if isinstance(src, list) else [
        c for c in base.columns]
    if not sort_cols:
        raise UnsupportedQuery("top_hits requires an explicit sort "
                               "(score-sorted hits need the match pipeline)")
    # deterministic tie-break: the _source columns ascending after the
    # requested sort (ES falls back to internal doc order, which has no
    # cross-engine meaning)
    w = Window.partitionBy("key").orderBy(
        *sort_cols, *[F.asc(c) for c in src_cols])
    # with a terms size the bucket list is ≤ size rows — broadcast it;
    # size-less buckets can be corpus-cardinality, let AQE choose
    bjoin = F.broadcast(buckets) if b_size else buckets
    hits = (
        base.select(key.alias("key"), *src_cols)
        .join(bjoin, "key")  # bucket cut
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n_hits)
    )
    return hits.select("key", "doc_count", "rank", *src_cols).orderBy(
        *order, F.asc("rank"))


def ip_to_long(ip: str) -> int:
    """Dotted-quad IPv4 → uint32 (driver-side, for range bounds)."""
    a, b, c, d = (int(x) for x in ip.split("."))
    return a * 16777216 + b * 65536 + c * 256 + d


def ip_col_to_long(col: Column) -> Column:
    """IPv4 string column → long, pure JVM split/cast arithmetic — the
    sortable form ES's ip type gives ranges for free."""
    p = F.split(col, r"\.")
    return (
        F.element_at(p, 1).cast("long") * 16777216
        + F.element_at(p, 2).cast("long") * 65536
        + F.element_at(p, 3).cast("long") * 256
        + F.element_at(p, 4).cast("long")
    )


def _ip_prefix_agg(base: DataFrame, inner: dict[str, Any],
                   sub: dict[str, Any] | None) -> DataFrame:
    """ES ip_prefix agg (8.x): one bucket per network prefix of an IPv4
    string field ({"field": f, "prefix_length": n, optional
    "append_prefix_length", "min_doc_count"}). The row side is one
    split/cast projection to uint32 plus an exact integer mod to mask
    the host bits (no loop, no float), then ONE partial-aggregated
    groupBy on the network address; buckets come back key-ascending in
    NUMERIC ip order (ES semantics — dotted-quad string order would put
    10.10 after 10.2). is_ipv6 raises: the pinned corpus is v4-only."""
    field = inner["field"]
    nbits = int(inner["prefix_length"])
    if inner.get("is_ipv6"):
        raise UnsupportedQuery("ip_prefix is_ipv6 (corpus is IPv4)")
    if not 1 <= nbits <= 32:
        raise UnsupportedQuery(f"ip_prefix prefix_length out of range: {nbits}")
    block = 1 << (32 - nbits)
    ipl = ip_col_to_long(F.col(field))
    net = (ipl - (ipl % F.lit(block))).alias("__net")
    quad = F.concat_ws(
        ".",
        (F.col("__net") / 16777216).cast("long").cast("string"),
        ((F.col("__net") / 65536).cast("long") % 256).cast("string"),
        ((F.col("__net") / 256).cast("long") % 256).cast("string"),
        (F.col("__net") % 256).cast("string"))
    key = F.concat(quad, F.lit(f"/{nbits}")) if inner.get(
        "append_prefix_length") else quad
    out = (_bucket_agg(base.select(net, "*"), sub, "__net")
           .filter(F.col("doc_count") >= int(inner.get("min_doc_count", 1)))
           .orderBy(F.asc("__net"))
           .select(key.alias("key"), "*")
           .drop("__net"))
    return out


def _significant(bg_docs: DataFrame, fg_docs: DataFrame, kind: str,
                 spec: dict[str, Any]) -> DataFrame:
    """ES significant_terms / significant_text: terms over-represented in
    the FOREGROUND (query-filtered) set vs the BACKGROUND (whole index),
    scored with the default JLH: (fg_rate - bg_rate) * (fg_rate /
    bg_rate); only terms with fg_rate > bg_rate qualify (ES drops the
    rest). significant_text's terms are the tokens of a FREE-TEXT field,
    each doc counted once per term (array_distinct before explode), and
    min_doc_count (ES default 3) prunes the long tail BEFORE the join;
    rates are per DOC either way.

    Plan: two partial-aggregated term groupBys (fg is a filtered subset of
    the same scan), joined on the term — the join key is the agg key so
    AQE turns it into a broadcast of the (tiny) fg side; totals ride in as
    broadcast single-row crossJoins. Scores are quantized (floor x 1e6) so
    ordering is integer-deterministic cross-engine."""
    from ..extraction import simple_tokens_col

    field = spec["field"]

    def term_counts(docs: DataFrame, cnt: str) -> DataFrame:
        if kind == "significant_text":
            docs = docs.select(F.explode(F.array_distinct(
                simple_tokens_col(F.col(field)))).alias("key"))
            return docs.groupBy("key").agg(F.count(F.lit(1)).alias(cnt))
        return docs.groupBy(F.col(field).alias("key")).agg(F.count(F.lit(1)).alias(cnt))

    fg = term_counts(fg_docs, "doc_count")
    if kind == "significant_text":
        fg = fg.filter(F.col("doc_count") >= int(spec.get("min_doc_count", 3)))
    bg = term_counts(bg_docs, "bg_count")
    fgt = fg_docs.agg(F.count(F.lit(1)).alias("fg_total"))
    bgt = bg_docs.agg(F.count(F.lit(1)).alias("bg_total"))
    fr = F.col("doc_count") / F.col("fg_total")
    br = F.col("bg_count") / F.col("bg_total")
    return (
        fg.join(bg, "key")
        .crossJoin(F.broadcast(fgt))
        .crossJoin(F.broadcast(bgt))
        .filter(fr > br)
        .select(
            "key", "doc_count", "bg_count",
            F.floor((fr - br) * (fr / br) * 1e6).cast("long").alias("score_u"),
        )
        .orderBy(F.desc("score_u"), F.asc("key"))
        .limit(int(spec.get("size", 10)))
    )


def _composite(base: DataFrame, spec: dict[str, Any],
               sub: dict[str, Any] | None) -> DataFrame:
    """ES composite agg: multi-source bucket tuples in KEY order with
    `after`-cursor keyset pagination — the at-scale way to page through
    an unbounded bucket space (each page is an independent groupBy + a
    sargable keyset filter + LIMIT; no scroll state server-side).

    Sources may be terms / date_histogram / histogram. Docs missing any
    source key are dropped (ES missing_bucket=false default). The `after`
    cursor is strict lexicographic-greater over the source tuple."""
    keys: list[Column] = []
    names: list[str] = []
    for s in spec["sources"]:
        ((sname, sdef),) = s.items()
        ((skind, sinner),) = sdef.items()
        keys.append(_bucket_key(skind, sinner).alias(sname))
        names.append(sname)
    for k in keys:
        base = base.filter(k.isNotNull())
    df = _bucket_agg(base, sub, *keys)
    after = spec.get("after")
    if after:
        cond = F.lit(False)
        eq = F.lit(True)
        for n in names:
            v = F.lit(after[n])
            cond = cond | (eq & (F.col(n) > v))
            eq = eq & (F.col(n) == v)
        df = df.filter(cond)
    return df.orderBy(*[F.asc(n) for n in names]).limit(int(spec.get("size", 10)))


def top_hits(docs: DataFrame, bucket_field: str, size: int,
             sort: list | None = None, query: dict | None = None) -> DataFrame:
    """ES top_hits sub-aggregation: the top `size` docs per bucket, by the
    given ES-style sort spec (default: doc_id asc). Window partitioned by
    the REAL bucket key — scales with bucket count, no global funnel."""
    base = docs
    if query:
        base = base.filter(_compile_clause(query))
    order = [c for _, c in _sort_spec(sort or [{"doc_id": {"order": "asc"}}])]
    w = Window.partitionBy(bucket_field).orderBy(*order)
    return (
        base.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= size)
        .withColumnRenamed("__rank", "hit_rank")
    )

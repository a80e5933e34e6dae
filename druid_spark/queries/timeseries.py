"""timeseries query → time-bucketed aggregation.

Reference: processing/.../query/timeseries/TimeseriesQuery.java:59,
engine TimeseriesQueryEngine.java:64. Spark plan:
filter(time range) → groupBy(date_trunc(__time)) → agg — a partial/final
HashAggregate pair with the time filter pushed to the Parquet scan.

Zero-filling of empty buckets (the toolchest's behavior unless
context.skipEmptyBuckets) unions the aggregate with a generated
`sequence()` spine of null rows in one partition and keeps, per
bucket, the first non-null value of each aggregator, so the fill and
the final sort run in the aggregate's last stage. (A join to the
spine costs three Spark jobs more: the join's exchanges and the range
sort's sampling job.) Empty buckets get count-like aggregators
coalesced to 0, others null.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from druid_spark import granularity as G
from druid_spark.aggregations import AggCompiler, PostAggCompiler, SketchPlan


def compile_query(engine, q: dict) -> DataFrame:
    ctx = engine.prepare(q)
    res = ctx.resolver()
    plan = SketchPlan(q.get("aggregations"), q.get("postAggregations"))
    ac = AggCompiler(res, ctx.filter_compiler(), engine.exact_approx, plan,
                     engine.sketch_default_nominal_entries,
                     finalize=q.get("context", {}).get("finalize",
                                                      True),
                     hllc_parity=getattr(engine, "hyperunique_parity",
                                         False))
    aggs = ac.compile_all(q.get("aggregations"))
    gran = q.get("granularity", "all")
    grain_all = gran in (None, "all") or (
        isinstance(gran, dict) and gran.get("type") == "all")

    if grain_all:
        # skipEmptyBuckets applies to the ALL bucket too: Druid's
        # engine skips the empty cursor and returns [] where a global
        # Spark agg would materialize one default row (count 0 / null
        # sums) — which is exactly Druid's skipEmptyBuckets=false
        # behavior (the #6767 default-result contract), so both arms
        # exist here
        skip = q.get("context", {}).get("skipEmptyBuckets", False)
        if aggs:
            out = ctx.df.agg(*aggs, *([F.count(F.lit(1)).alias("__rows")]
                                      if skip else []))
            if skip:
                out = out.where(F.col("__rows") > 0).drop("__rows")
        else:
            out = ctx.df.agg(F.count(F.lit(1)).alias("rows"))
            if skip:
                out = out.where(F.col("rows") > 0)
    else:
        bucket = G.bucket(res("__time"), gran).alias("__time")
        out = ctx.df.groupBy(bucket).agg(*aggs)
        if not q.get("context", {}).get("skipEmptyBuckets", False):
            out = _zero_fill(engine, q, gran, out)

    # context.grandTotal (TimeseriesQuery.java CTX_GRAND_TOTAL,
    # toolchest TimeseriesQueryQueryToolChest.java:172): append one
    # null-timestamp row whose aggregators are the combine() of the
    # per-bucket values; post-aggs then compute on it like any row
    total = None
    if not grain_all and q.get("context", {}).get("grandTotal", False):
        total = _grand_total(q, out)

    from druid_spark.queries.groupby import _apply_post
    out = _apply_post(out, q.get("postAggregations"), plan)
    if not grain_all:
        out = out.orderBy(F.col("__time").desc_nulls_last()
                          if q.get("descending")
                          else F.col("__time").asc_nulls_last())
    if not grain_all and q.get("limit"):
        out = out.limit(int(q["limit"]))
    if total is not None:
        total = _apply_post(total, q.get("postAggregations"), plan)
        out = out.unionByName(total.select(out.columns))
    return out


# finalized-value re-combination, the AggregatorFactory.combine()
# analog; types whose finalized output cannot be re-combined
# (means, finalized distinct counts) raise rather than total wrongly
_COMBINE = {
    "count": F.sum, "longSum": F.sum, "doubleSum": F.sum, "floatSum": F.sum,
    "longMin": F.min, "doubleMin": F.min, "floatMin": F.min,
    "longMax": F.max, "doubleMax": F.max, "floatMax": F.max,
}


def _grand_total(q, out: DataFrame) -> DataFrame:
    exprs = []
    for agg in q.get("aggregations") or []:
        name = agg.get("name", agg["type"])
        fn = _COMBINE.get(agg["type"])
        if fn is None:
            raise NotImplementedError(
                f"grandTotal cannot re-combine finalized {agg['type']!r}")
        exprs.append(fn(F.col("`" + name + "`")).alias(name))
    return out.agg(*exprs).withColumn(
        "__time", F.lit(None).cast("timestamp"))


def _zero_fill(engine, q, gran, out: DataFrame) -> DataFrame:
    intervals = q.get("intervals")
    if not intervals:
        return out
    if isinstance(intervals, dict):
        intervals = intervals["intervals"]
    if len(intervals) != 1:
        return out
    a, b = intervals[0].split("/")
    try:
        spine = G.spine(engine.spark, gran, a.replace("T", " ").rstrip("Z"),
                        b.replace("T", " ").rstrip("Z"))
    except ValueError:
        return out
    # one row per bucket: the aggregate's, else the spine's null row;
    # in one partition the grouping and the final sort need no exchange
    schema = out.schema
    aggs = [f.name for f in schema.fields if f.name != "__time"]
    nulls = spine.select("__time", *[
        F.lit(None).cast(schema[c].dataType).alias(c) for c in aggs])
    # count-ish aggregators are 0 on empty buckets, others stay null
    zero = {agg.get("name", agg["type"])
            for agg in q.get("aggregations") or []
            if agg["type"] in ("count", "longSum", "hyperUnique",
                               "cardinality")}
    firsts = []
    for c in aggs:
        v = F.first(F.col("`" + c + "`"), ignorenulls=True)
        firsts.append((F.coalesce(v, F.lit(0)) if c in zero else v).alias(c))
    return (out.unionByName(nulls).coalesce(1)
            .groupBy("__time").agg(*firsts))

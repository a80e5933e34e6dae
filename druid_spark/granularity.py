"""Time granularities: bucket a timestamp column to a grain.

Mirrors the reference's granularity system
(processing/.../java/util/common/granularity/Granularities.java:53-68 —
SECOND..YEAR plus ALL/NONE; PeriodGranularity.java adds ISO-8601 period,
timezone and origin). Spark-first: simple grains compile to
`date_trunc` (codegen'd, JVM-side); arbitrary duration/period grains
compile to epoch-millis floor arithmetic — still pure Column
expressions, never UDFs, so whole-stage codegen applies.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

# simple grain name -> date_trunc unit
_TRUNC_UNIT = {
    "second": "second",
    "minute": "minute",
    "hour": "hour",
    "day": "day",
    "week": "week",  # date_trunc('week') is ISO (Monday) — matches Joda/Druid
    "month": "month",
    "quarter": "quarter",
    "year": "year",
}

# grains with no date_trunc unit -> bucket width in millis
_DURATION_MS = {
    "fifteen_minute": 15 * 60_000,
    "thirty_minute": 30 * 60_000,
    "six_hour": 6 * 3_600_000,
    "eight_hour": 8 * 3_600_000,
}

# ISO-8601 period -> (date_trunc unit) for the common single-unit periods
_PERIOD_TRUNC = {
    "PT1S": "second",
    "PT1M": "minute",
    "PT1H": "hour",
    "P1D": "day",
    "P1W": "week",
    "P1M": "month",
    "P3M": "quarter",
    "P1Y": "year",
}

# segment granularity -> date_format pattern of a warehouse table's
# `__dt` partition values. A value is its time chunk's start; WEEK
# shares the day pattern, its values being Mondays
CHUNK_FORMATS = {
    "hour": "yyyy-MM-dd-HH",
    "day": "yyyy-MM-dd",
    "week": "yyyy-MM-dd",
    "month": "yyyy-MM",
    "year": "yyyy",
}

_PERIOD_RE = re.compile(
    r"^P(?:(\d+)Y)?(?:(\d+)M)?(?:(\d+)W)?(?:(\d+)D)?"
    r"(?:T(?:(\d+)H)?(?:(\d+)M)?(?:(\d+(?:\.\d+)?)S)?)?$"
)


def _period_fields(period: str) -> tuple[float, ...]:
    """(years, months, weeks, days, hours, minutes, seconds) of an
    ISO-8601 period; ValueError unless `period` is one naming at least
    one field."""
    m = _PERIOD_RE.match(period) if isinstance(period, str) else None
    if not m or not any(m.groups()):
        raise ValueError(f"bad ISO period: {period!r}")
    return tuple(float(g) if g else 0.0 for g in m.groups())


def period_to_millis(period: str) -> int:
    """Fixed-width millis for a period with no variable-length units."""
    y, mo, w, d, h, mi, s = _period_fields(period)
    if y or mo:
        raise ValueError(f"variable-length period needs calendar bucketing: {period}")
    return int(((w * 7 + d) * 24 * 3600 + h * 3600 + mi * 60 + s) * 1000)


def parse_iso_ts(s: str) -> "datetime.datetime":
    """Partial-ISO timestamp, Joda-style (the reference parses
    intervals with org.joda.time Intervals.of — DateTimes.of accepts
    '2000', '2000-06', '2000-06-15', full stamps with T/Z and
    fractional seconds)."""
    import datetime as dt
    t = s.strip().rstrip("Z").replace("T", " ")
    for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S",
                "%Y-%m-%d %H:%M", "%Y-%m-%d %H", "%Y-%m-%d",
                "%Y-%m", "%Y"):
        try:
            return dt.datetime.strptime(t, fmt)
        except ValueError:
            continue
    raise ValueError(f"bad ISO timestamp: {s!r}")


def add_period(t: "datetime.datetime", period: str,
               sign: int = 1) -> "datetime.datetime":
    """t ± ISO-8601 period, with Joda calendar semantics for the
    variable-length units (month/year addition clamps the
    day-of-month, e.g. Jan 31 + P1M = Feb 28/29)."""
    import calendar
    import datetime as dt
    y, mo, w, d, h, mi, s = _period_fields(period)
    months = sign * int(y * 12 + mo)
    if months:
        total = t.year * 12 + (t.month - 1) + months
        ny, nm = divmod(total, 12)
        nd = min(t.day, calendar.monthrange(ny, nm + 1)[1])
        t = t.replace(year=ny, month=nm + 1, day=nd)
    return t + sign * dt.timedelta(weeks=w, days=d, hours=h,
                                   minutes=mi, seconds=s)


def chunk_format(granularity: str) -> str | None:
    """The `__dt` pattern a table of segment `granularity` is written
    with; None for ALL (unpartitioned). A grain outside CHUNK_FORMATS
    writes day values: a finer grain's chunk is its day, a QUARTER's
    value is its first day (chunk_interval)."""
    g = granularity.lower()
    return None if g == "all" else CHUNK_FORMATS.get(g, "yyyy-MM-dd")


def strftime_format(fmt: str) -> str:
    """A `__dt` date_format pattern as the strftime/strptime one."""
    return fmt.replace("yyyy", "%Y").replace("MM", "%m") \
        .replace("dd", "%d").replace("HH", "%H")


def chunk_interval(value: str, fmt: str | None = None,
                   granularity: str | None = None
                   ) -> tuple["datetime.datetime", "datetime.datetime"]:
    """[start, end) of the time chunk whose `__dt` value is `value`,
    under a table's registered (`fmt`, `granularity`): a WEEK value is
    its Monday and a QUARTER value its first day, any other spans its
    pattern's unit. With no `fmt`, the CHUNK_FORMATS pattern of the
    value's length. ValueError if the value does not parse."""
    import datetime as dt
    if fmt is None:
        fmt = next((f for f in CHUNK_FORMATS.values()
                    if len(f) == len(value)), "")
    start = dt.datetime.strptime(value, strftime_format(fmt))
    unit = {"HH": "PT1H", "dd": "P1D", "MM": "P1M"}.get(fmt[-2:], "P1Y")
    span = {"week": "P1W", "quarter": "P3M"}.get(granularity, unit)
    return start, add_period(start, span)


def parse_iso_interval(iv: str) -> tuple[str, str]:
    """One ISO-8601 interval string → ('yyyy-MM-dd HH:mm:ss[.ffffff]',
    same) [start, end) bounds, accepting all three Joda forms the
    reference accepts (Intervals.of): start/end, start/period,
    period/end — with partial timestamps on either side."""
    a, b = iv.split("/")
    a, b = a.strip(), b.strip()
    if a.upper().startswith("P"):
        end = parse_iso_ts(b)
        start = add_period(end, a.upper(), sign=-1)
    elif b.upper().startswith("P"):
        start = parse_iso_ts(a)
        end = add_period(start, b.upper())
    else:
        start, end = parse_iso_ts(a), parse_iso_ts(b)
    fmt = "%Y-%m-%d %H:%M:%S.%f"
    return start.strftime(fmt), end.strftime(fmt)


def bucket(ts: Column, granularity: Any) -> Column:
    """Truncate timestamp Column `ts` to the grain. Returns TimestampType.

    `granularity` is a Druid granularity spec: a simple string
    ("day", "fifteen_minute", "all", "none", ...) or a dict
    {"type": "period"|"duration", "period"/"duration": ..,
     "timeZone": .., "origin": ..}.
    """
    if granularity is None:
        granularity = "all"
    if isinstance(granularity, str):
        g = granularity.lower()
        if g in ("all",):
            # single bucket: constant epoch — callers usually drop it
            return F.to_timestamp(F.lit("1970-01-01 00:00:00"))
        if g in ("none",):
            return ts
        if g in _TRUNC_UNIT:
            return F.date_trunc(_TRUNC_UNIT[g], ts)
        if g in _DURATION_MS:
            return _floor_millis(ts, _DURATION_MS[g])
        raise ValueError(f"unknown granularity: {granularity}")

    gtype = granularity.get("type", "period")
    tz = granularity.get("timeZone")
    origin = granularity.get("origin")
    if gtype == "all":
        return F.to_timestamp(F.lit("1970-01-01 00:00:00"))
    if gtype == "none":
        return ts
    if gtype == "duration":
        ms = int(granularity["duration"])
        return _floor_millis(ts, ms, origin)
    if gtype == "period":
        period = granularity["period"]
        if origin is None and (tz is None or tz == "UTC") and period in _PERIOD_TRUNC:
            return F.date_trunc(_PERIOD_TRUNC[period], ts)
        if tz and period in _PERIOD_TRUNC and origin is None:
            # calendar-truncate in the query timezone, then convert back
            local = F.from_utc_timestamp(ts, tz)
            return F.to_utc_timestamp(F.date_trunc(_PERIOD_TRUNC[period], local), tz)
        # fixed-width period (possibly with origin)
        ms = period_to_millis(period)
        return _floor_millis(ts, ms, origin)
    raise ValueError(f"unknown granularity type: {gtype}")


def _floor_millis(ts: Column, width_ms: int, origin: str | None = None) -> Column:
    millis = F.unix_millis(ts)
    if origin:
        o = F.unix_millis(F.to_timestamp(F.lit(origin.replace("T", " ").rstrip("Z"))))
        off = millis - o
        # floored division that handles negatives (floor semantics, not trunc)
        return F.timestamp_millis((F.floor(off / width_ms) * width_ms + o).cast("long"))
    return F.timestamp_millis((F.floor(millis / width_ms) * width_ms).cast("long"))


def spine(spark, granularity: Any, t0, t1):
    """Generate the complete bucket spine [t0, t1) for zero-filled
    timeseries (reference: TimeseriesQueryQueryToolChest zero-filling).
    Uses `sequence()`, generated in the JVM: a relation built from a
    Python list plans as a Scan ExistingRDD and costs far more. The
    spine is not free: joined to an aggregate it costs three Spark
    jobs, so the timeseries fill unions it in one partition."""
    from pyspark.sql import functions as F  # noqa: F811

    if isinstance(granularity, str) and granularity.lower() in _TRUNC_UNIT:
        step = {"second": "interval 1 second", "minute": "interval 1 minute",
                "hour": "interval 1 hour", "day": "interval 1 day",
                "week": "interval 1 week", "month": "interval 1 month",
                "quarter": "interval 3 month", "year": "interval 1 year"}[
            granularity.lower()]
        return spark.range(1).select(
            F.explode(
                F.expr(
                    f"sequence(date_trunc('{_TRUNC_UNIT[granularity.lower()]}', "
                    f"timestamp'{t0}'), timestamp'{t1}', {step})"
                )
            ).alias("__time")
        ).where(F.col("__time") < F.lit(t1).cast("timestamp"))
    raise ValueError("spine() supports simple calendar granularities")

"""Time-bucketing expressions.

The reference's interval machinery (``lib/utils.js:70-136``) aligns
candle buckets three ways:
  * calendar units (minute/hour/day/month/year) -> ``date_trunc``;
  * ISO-week (7-day aligned to Monday) -> ``date_trunc('week', ...)``;
  * epoch-anchored N-day buckets (days since 2013-01-01 modulo N,
    ``utils.js:99-115``) -> plain column arithmetic, no custom Catalyst
    expression needed (SURVEY.md section 4 conclusion).

All expressions are pure column arithmetic so they stay inside
whole-stage codegen and are usable as partition/cluster keys at scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# The reference anchors multi-day buckets at 2013-01-01 (utils.js:99-115).
ANCHOR = "2013-01-01"

# Calendar intervals supported by date_trunc on both Spark and DuckDB.
CALENDAR_UNITS = {"minute", "hour", "day", "week", "month", "quarter", "year"}


def bucket_trunc(col: Column | str, unit: str) -> Column:
    """Calendar-aligned tumbling bucket start (UTC)."""
    c = F.col(col) if isinstance(col, str) else col
    if unit not in CALENDAR_UNITS:
        raise ValueError(f"unsupported calendar unit {unit!r}")
    return F.date_trunc(unit, c)


def anchored_bucket(col: Column | str, n_days: int) -> Column:
    """Epoch-anchored N-day bucket start (reference utils.js:99-115).

    bucket_start = ANCHOR + floor(datediff(ts, ANCHOR) / N) * N days
    """
    c = F.col(col) if isinstance(col, str) else col
    anchor = F.lit(ANCHOR).cast("date")
    days = F.floor(F.datediff(c, anchor) / n_days) * n_days
    return F.to_timestamp(F.date_add(anchor, days.cast("int")))


def sql_anchored_bucket(expr: str, n_days: int) -> str:
    """DuckDB rendering of :func:`anchored_bucket`."""
    return (
        f"CAST(DATE '{ANCHOR}' + INTERVAL (CAST(FLOOR(DATEDIFF('day', DATE '{ANCHOR}', "
        f"{expr}) / {n_days}) AS INT) * {n_days}) DAY AS TIMESTAMP)"
    )


# ------------------------------------------------ smoment parsing

# The reference's user-facing time parser (lib/smoment.js:14-67):
# a STRICT format whitelist, each format carrying the GRANULARITY the
# caller stated, and a stop-row rule of "start + 1 granule" -- so
# end=2015-04 covers all of April and end=2015-04-10 covers that whole
# day (every range read pairs start.hbaseFormatStartRow() with
# end.hbaseFormatStopRow(): data.js:51-52,227-236,434-435...).
# Numbers -- and strings of EXACTLY 10 digits (smoment.js:29) -- are
# unix seconds.  Pinned against test.smoment.js in
# tests/test_smoment_pins.py.

import datetime as _dt
import re as _re

_TZ = r"(Z|[+-]\d{2}:?\d{2})"
# (regex gate, strptime pattern after normalization, granularity)
_SMOMENT_FORMATS: list[tuple[str, str, str]] = [
    (r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}$", "%Y-%m-%dT%H:%M:%S", "second"),
    (rf"^\d{{4}}-\d{{2}}-\d{{2}}T\d{{2}}:\d{{2}}:\d{{2}}{_TZ}$",
     "%Y-%m-%dT%H:%M:%S%z", "second"),
    (rf"^\d{{4}}-\d{{2}}-\d{{2}}T\d{{2}}:\d{{2}}:\d{{2}}\.\d{{3}}{_TZ}$",
     "%Y-%m-%dT%H:%M:%S.%f%z", "ms"),
    (r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}$", "%Y-%m-%dT%H:%M", "minute"),
    (r"^\d{4}-\d{2}-\d{2}T\d{2}$", "%Y-%m-%dT%H", "hour"),
    (r"^\d{4}-\d{2}-\d{2}$", "%Y-%m-%d", "day"),
    (r"^\d{4}-\d{2}$", "%Y-%m", "month"),
    (r"^\d{4}$", "%Y", "year"),
    (r"^\d{14}$", "%Y%m%d%H%M%S", "second"),  # hbase rowkey format
    (r"^\d{17}$", "%Y%m%d%H%M%S%f", "ms"),
]


def smoment_parse(time) -> tuple[_dt.datetime, str] | None:
    """``time`` -> (naive-UTC datetime, granularity), or None when the
    input matches no whitelisted form -- the smoment(x) === undefined
    branch the routes turn into a 400."""
    if isinstance(time, (int, float)) and not isinstance(time, bool):
        return (
            _dt.datetime.fromtimestamp(float(time), _dt.timezone.utc)
            .replace(tzinfo=None),
            "second",
        )
    if not isinstance(time, str):
        return None
    if _re.fullmatch(r"\d{10}", time):  # 10-digit unix seconds ONLY
        return smoment_parse(int(time))
    for gate, fmt, gran in _SMOMENT_FORMATS:
        if not _re.fullmatch(gate, time):
            continue
        try:
            parsed = _dt.datetime.strptime(time.replace("Z", "+00:00"), fmt)
        except ValueError:
            return None  # matched the shape but not a real date
        if parsed.tzinfo is not None:
            parsed = parsed.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return parsed, gran
    return None


def smoment_stop_exclusive(parsed: tuple[_dt.datetime, str]) -> _dt.datetime:
    """start + 1 granule: smoment.js:61-64 hbaseFormatStopRow -- the
    exclusive upper bound an ``end`` parameter denotes at its stated
    granularity."""
    t, gran = parsed
    if gran == "ms":
        return t + _dt.timedelta(milliseconds=1)
    if gran == "second":
        return t + _dt.timedelta(seconds=1)
    if gran == "minute":
        return t + _dt.timedelta(minutes=1)
    if gran == "hour":
        return t + _dt.timedelta(hours=1)
    if gran == "day":
        return t + _dt.timedelta(days=1)
    if gran == "month":
        nxt = t.year * 12 + (t.month - 1) + 1  # zero-based month index
        return t.replace(year=nxt // 12, month=nxt % 12 + 1)
    if gran == "year":
        return t.replace(year=t.year + 1)
    raise ValueError(f"unknown granularity {gran!r}")

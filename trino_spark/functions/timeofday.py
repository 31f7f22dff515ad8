"""TIME(p) emulation — Trino's time-of-day types over bigint nanos-of-day.

Reference: core/trino-spi/.../type/TimeType.java (TIME(p), p<=12, stored as
picos-of-day) and the scalar package core/trino-main/.../scalar/time/.
Spark has no time-of-day type (SURVEY.md §1.2 flags this as the mapping
gap); the documented policy is LongType nanoseconds-of-day plus these
helpers. Nanos (not picos) bounds the emulation at p=9 — beyond Spark's
own timestamp precision already.

All functions are expression compositions (codegen, no UDFs).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NANOS_PER_SECOND = 1_000_000_000
NANOS_PER_MINUTE = 60 * NANOS_PER_SECOND
NANOS_PER_HOUR = 60 * NANOS_PER_MINUTE
NANOS_PER_DAY = 24 * NANOS_PER_HOUR


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def parse_time(s: Column | str) -> Column:
    """'HH:MM:SS[.fraction]' -> nanos-of-day bigint (fraction up to 9
    digits, right-padded — TIME literal parsing per TimeType)."""
    c = _c(s)
    p = F.split(c, ":")
    sec_part = F.split(p[2], r"\.")
    frac = F.rpad(F.coalesce(sec_part[1], F.lit("")), 9, "0").cast("long")
    return (
        p[0].cast("long") * F.lit(NANOS_PER_HOUR)
        + p[1].cast("long") * F.lit(NANOS_PER_MINUTE)
        + sec_part[0].cast("long") * F.lit(NANOS_PER_SECOND)
        + frac
    )


def format_time(nanos: Column | str, precision: int = 3) -> Column:
    """nanos-of-day -> 'HH:MM:SS[.frac]' with exactly `precision` fraction
    digits (0 drops the point), mirroring TIME(p) output."""
    v = _c(nanos)
    hh = F.lpad((F.floor(v / NANOS_PER_HOUR)).cast("string"), 2, "0")
    mm = F.lpad((F.floor(v / NANOS_PER_MINUTE) % 60).cast("string"), 2, "0")
    ss = F.lpad((F.floor(v / NANOS_PER_SECOND) % 60).cast("string"), 2, "0")
    base = F.concat_ws(":", hh, mm, ss)
    if precision <= 0:
        return base
    frac = F.substring(
        F.lpad((v % NANOS_PER_SECOND).cast("string"), 9, "0"), 1, precision
    )
    return F.concat(base, F.lit("."), frac)


def time_hour(nanos: Column | str) -> Column:
    return F.floor(_c(nanos) / NANOS_PER_HOUR).cast("long")


def time_minute(nanos: Column | str) -> Column:
    return (F.floor(_c(nanos) / NANOS_PER_MINUTE) % 60).cast("long")


def time_millisecond(nanos: Column | str) -> Column:
    return (F.floor(_c(nanos) / 1_000_000) % 1000).cast("long")


def time_add(nanos: Column | str, delta_nanos: Column | int) -> Column:
    """Add a (possibly negative) nano delta, wrapping around midnight —
    Trino's TIME arithmetic semantics (scalar/time/ interval ops)."""
    d = F.lit(delta_nanos) if isinstance(delta_nanos, int) else _c(delta_nanos)
    return F.pmod(_c(nanos) + d, F.lit(NANOS_PER_DAY)).cast("long")


# ------------------------------------------------- TIME WITH TIME ZONE
#
# Reference: core/trino-spi/.../type/TimeWithTimeZoneType.java — a
# time-of-day plus a FIXED UTC offset (-14:00..+14:00, minute
# granularity). Spark 4.1's native time(6) has no zoned variant, so the
# documented policy is a struct<nanos: bigint, offset_minutes: int>
# carrier on the Column API (all codegen expressions below) and a
# canonical varchar 'HH:MM:SS.fff+HH:MM' on the verbatim-SQL surface
# (functions/registry.py), mirroring the geometry-as-WKT split.
# Comparisons/equality use the UTC-normalized instant (epochNanos in
# the reference's LongTimeWithTimeZone.compareTo).

_TZ_RE = (
    r"^\s*(\d{1,2}):(\d{2})(?::(\d{2}))?(?:\.(\d{1,9}))?"
    r"\s*(?:([+-])(\d{1,2}):?(\d{2})?)?\s*$"
)


def parse_timetz(s: Column | str) -> Column:
    """'HH:MM[:SS[.frac]][±HH[:MM]]' -> struct(nanos bigint,
    offset_minutes int); missing offset reads +00:00 (UTC literal)."""
    c = _c(s)

    def grp(i: int) -> Column:
        return F.regexp_extract(c, _TZ_RE, i)

    frac = F.rpad(grp(4), 9, "0")
    nanos = (
        grp(1).cast("long") * F.lit(NANOS_PER_HOUR)
        + grp(2).cast("long") * F.lit(NANOS_PER_MINUTE)
        + F.coalesce(F.nullif(grp(3), F.lit("")), F.lit("0")).cast("long")
        * F.lit(NANOS_PER_SECOND)
        + F.coalesce(F.nullif(frac, F.lit("")), F.lit("0")).cast("long")
    )
    off = (
        F.when(grp(5) == "-", F.lit(-1)).otherwise(F.lit(1))
        * (
            F.coalesce(F.nullif(grp(6), F.lit("")), F.lit("0")).cast("int") * 60
            + F.coalesce(F.nullif(grp(7), F.lit("")), F.lit("0")).cast("int")
        )
    )
    return F.when(
        grp(1) == "", F.lit(None).cast("struct<nanos:bigint,offset_minutes:int>")
    ).otherwise(F.struct(nanos.alias("nanos"), off.alias("offset_minutes")))


def timetz_utc_nanos(t: Column | str) -> Column:
    """UTC-normalized nanos-of-day — the comparison/equality key
    (LongTimeWithTimeZone ordering), wrapping across midnight."""
    c = _c(t)
    return F.pmod(
        c["nanos"] - c["offset_minutes"].cast("long") * F.lit(NANOS_PER_MINUTE),
        F.lit(NANOS_PER_DAY),
    ).cast("long")


def timetz_at_offset(t: Column | str, offset_minutes: Column | int) -> Column:
    """Same instant, new fixed offset — `TIME WTZ AT TIME ZONE '±HH:MM'`
    (scalar/timetz/AtTimeZone.java semantics)."""
    om = (
        F.lit(offset_minutes)
        if isinstance(offset_minutes, int)
        else _c(offset_minutes)
    )
    c = _c(t)
    local = F.pmod(
        timetz_utc_nanos(c) + om.cast("long") * F.lit(NANOS_PER_MINUTE),
        F.lit(NANOS_PER_DAY),
    )
    return F.struct(
        local.cast("long").alias("nanos"), om.cast("int").alias("offset_minutes")
    )


def format_timetz(t: Column | str, precision: int = 3) -> Column:
    """struct -> canonical 'HH:MM:SS[.fff]±HH:MM' (the reference's
    TIME(p) WITH TIME ZONE cast-to-varchar shape)."""
    c = _c(t)
    om = c["offset_minutes"]
    sign = F.when(om < 0, F.lit("-")).otherwise(F.lit("+"))
    oa = F.abs(om)
    off = F.concat(
        sign,
        F.lpad(F.floor(oa / 60).cast("string"), 2, "0"),
        F.lit(":"),
        F.lpad((oa % 60).cast("string"), 2, "0"),
    )
    return F.concat(format_time(c["nanos"], precision), off)

"""SQL-surface registration for functions that need a Python scalar body.

Most of the Trino scalar library maps to Spark builtins (same name) or to
dialect rewrites (dialect/rewrites.py templates — those stay inside
whole-stage codegen). The residue registered here is the set of scalars
with no reasonable expression form: Unicode normalization, Porter
stemming, base32/HMAC codecs, and the statistical CDF family
(reference: StringFunctions.java normalize, WordStemFunction.java,
VarbinaryFunctions.java:41, HmacFunctions.java, MathFunctions.java CDFs).

These are row-at-a-time Python UDFs by design: they are formatting /
analysis scalars, not hot-path columnar work. The Column-API variants in
functions/crypto.py (Arrow pandas_udfs) and functions/stats.py (pure
expressions) remain the fast path; this module only makes the names
resolvable from `engine.sql` text, the way the reference registers them
in its SystemFunctionBundle (main/metadata/SystemFunctionBundle.java:389).

CDF numerics: regularized incomplete beta/gamma via the standard
continued-fraction / series algorithms (Lentz's method), double
precision, pure stdlib `math`.
"""

from __future__ import annotations

import base64
import hashlib
import hmac as _hmac
import functools
import math
import re
import threading
import unicodedata
from collections.abc import Iterable

from pyspark.sql import SparkSession

_MAXIT = 300
_EPS = 3e-14
_FPMIN = 1e-300


def _betacf(a: float, b: float, x: float) -> float:
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c = 1.0
    d = 1.0 - qab * x / qap
    if abs(d) < _FPMIN:
        d = _FPMIN
    d = 1.0 / d
    h = d
    for m in range(1, _MAXIT + 1):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        c = 1.0 + aa / c
        d = _FPMIN if abs(d) < _FPMIN else d
        c = _FPMIN if abs(c) < _FPMIN else c
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        c = 1.0 + aa / c
        d = _FPMIN if abs(d) < _FPMIN else d
        c = _FPMIN if abs(c) < _FPMIN else c
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < _EPS:
            break
    return h


def betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_bt = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) + a * math.log(x) + b * math.log1p(-x)
    bt = math.exp(ln_bt)
    if x < (a + 1.0) / (a + b + 2.0):
        return bt * _betacf(a, b, x) / a
    return 1.0 - bt * _betacf(b, a, 1.0 - x) / b


def gammainc_p(a: float, x: float) -> float:
    """Regularized lower incomplete gamma P(a, x)."""
    if x <= 0.0:
        return 0.0
    if x < a + 1.0:  # series representation
        ap, total, delta = a, 1.0 / a, 1.0 / a
        for _ in range(_MAXIT):
            ap += 1.0
            delta *= x / ap
            total += delta
            if abs(delta) < abs(total) * _EPS:
                break
        return total * math.exp(-x + a * math.log(x) - math.lgamma(a))
    # continued fraction for Q, P = 1 - Q
    b = x + 1.0 - a
    c = 1.0 / _FPMIN
    d = 1.0 / b
    h = d
    for i in range(1, _MAXIT + 1):
        an = -i * (i - a)
        b += 2.0
        d = an * d + b
        d = _FPMIN if abs(d) < _FPMIN else d
        c = b + an / c
        c = _FPMIN if abs(c) < _FPMIN else c
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < _EPS:
            break
    q = math.exp(-x + a * math.log(x) - math.lgamma(a)) * h
    return 1.0 - q


# ---------------------------------------------------------------- scalars


def _norm(form: str):
    return lambda s: None if s is None else unicodedata.normalize(form, s)


def _hmac_fn(algo: str):
    def run(data, key):
        if data is None or key is None:
            return None
        return _hmac.new(bytes(key), bytes(data), getattr(hashlib, algo)).digest()

    return run


def _beta_cdf(a, b, x):
    if None in (a, b, x):
        return None
    return betainc(float(a), float(b), float(x))


def _binomial_cdf(successes, trials, p):
    if None in (successes, trials, p):
        return None
    k, n = int(successes), int(trials)
    if k < 0:
        return 0.0
    if k >= n:
        return 1.0
    return betainc(n - k, k + 1, 1.0 - float(p))


def _poisson_cdf(lam, k):
    if None in (lam, k):
        return None
    if k < 0:
        return 0.0
    return 1.0 - gammainc_p(k + 1.0, float(lam))


def _chi_squared_cdf(df, x):
    if None in (df, x):
        return None
    return gammainc_p(float(df) / 2.0, float(x) / 2.0)


def _gamma_cdf(shape, scale, x):
    if None in (shape, scale, x):
        return None
    return gammainc_p(float(shape), float(x) / float(scale))


def _t_cdf(df, x):
    if None in (df, x):
        return None
    df, x = float(df), float(x)
    p = 0.5 * betainc(df / 2.0, 0.5, df / (df + x * x))
    return 1.0 - p if x > 0 else p


def _f_cdf(d1, d2, x):
    if None in (d1, d2, x):
        return None
    d1, d2, x = float(d1), float(d2), float(x)
    if x <= 0:
        return 0.0
    return betainc(d1 / 2.0, d2 / 2.0, d1 * x / (d1 * x + d2))


def _laplace_cdf(mean, scale, x):
    if None in (mean, scale, x):
        return None
    z = (float(x) - float(mean)) / float(scale)
    return 0.5 * math.exp(z) if z < 0 else 1.0 - 0.5 * math.exp(-z)


def _weibull_cdf(a, b, x):
    if None in (a, b, x):
        return None
    if x <= 0:
        return 0.0
    return 1.0 - math.exp(-((float(x) / float(b)) ** float(a)))


def _normal_cdf(mean, sd, x):
    if None in (mean, sd, x):
        return None
    return 0.5 * (1.0 + math.erf((float(x) - float(mean)) / (float(sd) * math.sqrt(2.0))))


def _inverse_normal_cdf(mean, sd, p):
    if None in (mean, sd, p):
        return None
    p = float(p)
    if not 0.0 < p < 1.0:
        raise ValueError("p must be in (0, 1)")
    # Newton refinement over erf starting from the rational approximation.
    lo, hi = -40.0, 40.0
    z = 0.0
    for _ in range(200):
        z = (lo + hi) / 2.0
        if 0.5 * (1.0 + math.erf(z / math.sqrt(2.0))) < p:
            lo = z
        else:
            hi = z
        if hi - lo < 1e-13:
            break
    return float(mean) + float(sd) * z


def register_sql_functions(spark: SparkSession) -> None:
    """Register the Python-bodied scalar residue so Trino SQL text
    referencing them resolves through `engine.sql`. The engine runs this
    against the bundle recorder, not a session (see `bundle`)."""
    from trino_spark.functions.stem import porter_stem

    reg = spark.udf.register
    reg("normalize", _norm("NFC"), "string")
    for form in ("NFC", "NFD", "NFKC", "NFKD"):
        reg(f"normalize_{form.lower()}", _norm(form), "string")
    reg("word_stem", lambda w: None if w is None else porter_stem(w), "string")
    reg("to_base32", lambda b: None if b is None else base64.b32encode(bytes(b)).decode(), "string")
    reg(
        "from_base32",
        lambda s: None if s is None else base64.b32decode(s.upper() + "=" * (-len(s) % 8)),
        "binary",
    )
    for algo in ("md5", "sha1", "sha256", "sha512"):
        reg(f"hmac_{algo}", _hmac_fn(algo), "binary")
    # spooky_hash_v2_* now registered in the r5 batch below — the
    # published public-domain algorithm, short path verified against the
    # reference's pinned digests (functions/spooky.py).
    reg("beta_cdf", _beta_cdf, "double")
    reg("binomial_cdf", _binomial_cdf, "double")
    reg("poisson_cdf", _poisson_cdf, "double")
    reg("chi_squared_cdf", _chi_squared_cdf, "double")
    reg("gamma_cdf", _gamma_cdf, "double")
    reg("t_cdf", _t_cdf, "double")
    reg("f_cdf", _f_cdf, "double")
    reg("laplace_cdf", _laplace_cdf, "double")
    reg("weibull_cdf", _weibull_cdf, "double")
    reg("normal_cdf", _normal_cdf, "double")
    reg("inverse_normal_cdf", _inverse_normal_cdf, "double")
    reg("cauchy_cdf", lambda m, s, x: None if None in (m, s, x) else 0.5 + math.atan((float(x) - float(m)) / float(s)) / math.pi, "double")
    reg(
        "human_readable_seconds",
        _human_readable_seconds,
        "string",
    )
    # Returns bigint milliseconds (the Column API's parse_duration
    # contract; Trino returns interval day-to-second, same information).
    reg("parse_duration", _parse_duration_ms, "bigint")


def _human_readable_seconds(v):
    if v is None:
        return None
    total = int(abs(float(v)) + 0.5)
    parts = []
    for unit, word in ((604800, "week"), (86400, "day"), (3600, "hour"), (60, "minute"), (1, "second")):
        n, total = divmod(total, unit)
        if n:
            parts.append(f"{n} {word}" + ("" if n == 1 else "s"))
    return ", ".join(parts) if parts else "0 seconds"


_DUR_MS = {
    "ns": 1e-6, "us": 1e-3, "ms": 1.0, "s": 1000.0,
    "m": 60_000.0, "h": 3_600_000.0, "d": 86_400_000.0,
}


def _parse_duration_ms(s):
    import re as _re

    if s is None:
        return None
    m = _re.match(r"^\s*([0-9]*\.?[0-9]+)\s*([a-z]+)\s*$", s)
    if not m or m.group(2) not in _DUR_MS:
        raise ValueError(f"invalid duration: {s}")
    return round(float(m.group(1)) * _DUR_MS[m.group(2)])


# --------------------------------------------------------------- round 4:
# binary codecs, Teradata scalars, statistical inverses, color functions
# (reference: VarbinaryFunctions.java to/from_big_endian_*, to/from_ieee754_*,
# murmur3; TeradataStringFunctions.java char2hexint; TeradataDateFunctions
# to_char; MathFunctions.java inverseBetaCdf/tPdf; ColorFunctions.java).


def _pack_fn(fmt, lo=None, hi=None):
    import struct

    def run(v):
        if v is None:
            return None
        v = int(v) if fmt in (">i", ">q") else float(v)
        if lo is not None and not (lo <= v <= hi):
            raise ValueError(f"value out of range: {v}")
        return struct.pack(fmt, v)

    return run


def _unpack_fn(fmt, nbytes):
    import struct

    def run(b):
        if b is None:
            return None
        b = bytes(b)
        if len(b) != nbytes:
            raise ValueError(f"expected {nbytes} bytes, got {len(b)}")
        return struct.unpack(fmt, b)[0]

    return run


def murmur3_x64_128(data: bytes, seed: int = 0) -> bytes:
    """128-bit MurmurHash3 (x64 variant), the public algorithm Trino's
    murmur3() exposes (VarbinaryFunctions.java murmur3 -> Murmur3Hash128)."""
    c1, c2 = 0x87C37B91114253D5, 0x4CF5AD432745937F
    mask = (1 << 64) - 1

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & mask

    def fmix(k):
        k ^= k >> 33
        k = (k * 0xFF51AFD7ED558CCD) & mask
        k ^= k >> 33
        k = (k * 0xC4CEB9FE1A85EC53) & mask
        k ^= k >> 33
        return k

    h1 = h2 = seed & mask
    n = len(data)
    nblocks = n // 16
    for i in range(nblocks):
        k1 = int.from_bytes(data[i * 16 : i * 16 + 8], "little")
        k2 = int.from_bytes(data[i * 16 + 8 : i * 16 + 16], "little")
        k1 = rotl((k1 * c1) & mask, 31)
        h1 ^= (k1 * c2) & mask
        h1 = ((rotl(h1, 27) + h2) * 5 + 0x52DCE729) & mask
        k2 = rotl((k2 * c2) & mask, 33)
        h2 ^= (k2 * c1) & mask
        h2 = ((rotl(h2, 31) + h1) * 5 + 0x38495AB5) & mask
    tail = data[nblocks * 16 :]
    if len(tail) > 8:
        k2 = int.from_bytes(tail[8:].ljust(8, b"\0"), "little")
        k2 = rotl((k2 * c2) & mask, 33)
        h2 ^= (k2 * c1) & mask
    if tail:
        k1 = int.from_bytes(tail[:8].ljust(8, b"\0"), "little")
        k1 = rotl((k1 * c1) & mask, 31)
        h1 ^= (k1 * c2) & mask
    h1 ^= n
    h2 ^= n
    h1 = (h1 + h2) & mask
    h2 = (h2 + h1) & mask
    h1 = fmix(h1)
    h2 = fmix(h2)
    h1 = (h1 + h2) & mask
    h2 = (h2 + h1) & mask
    return h1.to_bytes(8, "little") + h2.to_bytes(8, "little")


_TD_TOKENS = [  # Teradata to_char tokens, longest-match-first
    ("YYYY", "%Y"), ("YY", "%y"), ("MM", "%m"), ("DD", "%d"),
    ("HH24", "%H"), ("HH", "%I"), ("MI", "%M"), ("SS", "%S"),
]


def _to_char(ts, fmt):
    if ts is None or fmt is None:
        return None
    out, i = [], 0
    up = fmt.upper()
    while i < len(up):
        for tok, strf in _TD_TOKENS:
            if up.startswith(tok, i):
                out.append(ts.strftime(strf))
                i += len(tok)
                break
        else:
            out.append(fmt[i])
            i += 1
    return "".join(out)


_DATA_SIZE = {"B": 0, "kB": 1, "MB": 2, "GB": 3, "TB": 4, "PB": 5, "EB": 6, "ZB": 7, "YB": 8}


def _parse_data_size(s):
    import re as _re
    from decimal import Decimal

    if s is None:
        return None
    m = _re.match(r"^\s*([0-9]*\.?[0-9]+)\s*([A-Za-z]+)\s*$", s)
    if not m or m.group(2) not in _DATA_SIZE:
        raise ValueError(f"Invalid data size: '{s}'")
    return Decimal(int(Decimal(m.group(1)) * (1024 ** _DATA_SIZE[m.group(2)])))


def _is_json_scalar(s):
    import json as _json

    if s is None:
        return None
    try:
        v = _json.loads(s)
    except Exception:
        raise ValueError(f"Invalid JSON value: {s}")
    return not isinstance(v, (dict, list))


def _inverse_beta_cdf(a, b, p):
    if None in (a, b, p):
        return None
    a, b, p = float(a), float(b), float(p)
    if not (0.0 <= p <= 1.0):
        raise ValueError("p must be in [0, 1]")
    lo, hi = 0.0, 1.0
    for _ in range(200):
        mid = (lo + hi) / 2.0
        if betainc(a, b, mid) < p:
            lo = mid
        else:
            hi = mid
        if hi - lo < 1e-15:
            break
    return (lo + hi) / 2.0


def _t_pdf(x, df):
    if None in (x, df):
        return None
    x, df = float(x), float(df)
    if df <= 0:
        raise ValueError("df must be positive")
    lg = math.lgamma((df + 1.0) / 2.0) - math.lgamma(df / 2.0)
    return math.exp(lg) / math.sqrt(df * math.pi) * (1.0 + x * x / df) ** (-(df + 1.0) / 2.0)


# ---- color functions (ColorFunctions.java): a color is a BIGINT — rgb
# values are (r<<16)|(g<<8)|b, system colors are -(index+1).

_SYS_COLORS = {"black": 0, "red": 1, "green": 2, "yellow": 3,
               "blue": 4, "magenta": 5, "cyan": 6, "white": 7}
_ANSI_RESET = "\x1b[0m"


def _parse_rgb_hex(s):
    if len(s) == 4 and s[0] == "#":
        try:
            r, g, b = (int(c, 16) for c in s[1:])
            return (r * 17 << 16) | (g * 17 << 8) | (b * 17)
        except ValueError:
            return -1
    return -1


def _interpolate_rgb(frac, lo, hi):
    import colorsys

    lh = colorsys.rgb_to_hsv((lo >> 16 & 255) / 255, (lo >> 8 & 255) / 255, (lo & 255) / 255)
    hh = colorsys.rgb_to_hsv((hi >> 16 & 255) / 255, (hi >> 8 & 255) / 255, (hi & 255) / 255)
    h, s, v = (frac * (b - a) + a for a, b in zip(lh, hh))
    r, g, b = (round(c * 255) for c in colorsys.hsv_to_rgb(h, s, v))
    return (r << 16) | (g << 8) | b


def _color(*args):
    if any(a is None for a in args):
        return None
    if len(args) == 1:
        s = args[0]
        rgb = _parse_rgb_hex(s)
        if rgb != -1:
            return rgb
        idx = _SYS_COLORS.get(s.lower())
        if idx is None:
            raise ValueError(f"Invalid color: '{s}'")
        return -(idx + 1)
    if len(args) == 3:  # (fraction, lowColor, highColor)
        frac, lo, hi = float(args[0]), int(args[1]), int(args[2])
    elif len(args) == 5:  # (value, low, high, lowColor, highColor)
        v, lo_v, hi_v, lo, hi = (float(args[0]), float(args[1]), float(args[2]),
                                 int(args[3]), int(args[4]))
        if hi_v == lo_v:  # degenerate range: clamp by side, don't divide
            frac = 1.0 if v > lo_v else 0.0
        else:
            frac = (v - lo_v) / (hi_v - lo_v)
    else:
        raise ValueError("color() takes 1, 3 or 5 arguments")
    if lo < 0 or hi < 0:
        raise ValueError("interpolation colors must be RGB")
    frac = min(1.0, max(0.0, frac))
    return _interpolate_rgb(frac, lo, hi)


def _rgb(r, g, b):
    if None in (r, g, b):
        return None
    for v in (r, g, b):
        if not (0 <= int(v) <= 255):
            raise ValueError("rgb components must be between 0 and 255")
    return (int(r) << 16) | (int(g) << 8) | int(b)


def _ansi_escape(color):
    color = int(color)
    if color < 0:  # system color index
        return f"\x1b[3{-(color + 1)}m"
    r, g, b = color >> 16 & 255, color >> 8 & 255, color & 255
    return f"\x1b[38;5;{16 + r * 6 // 256 * 36 + g * 6 // 256 * 6 + b * 6 // 256}m"


def _render(*args):
    if any(a is None for a in args):
        return None
    if len(args) == 1:  # render(boolean)
        return (_ansi_escape(_color("green")) + "✓" + _ANSI_RESET
                if args[0] else _ansi_escape(_color("red")) + "✗" + _ANSI_RESET)
    v, c = args
    if isinstance(v, bool):
        v = "true" if v else "false"
    return _ansi_escape(c) + str(v) + _ANSI_RESET


def _bar_colored(percent, width, low_color, high_color):
    if None in (percent, width, low_color, high_color):
        return None
    width = int(width)
    count = min(width, max(0, int(float(percent) * width)))
    out = []
    for i in range(count):
        frac = i / (width - 1) if width > 1 else 0.0
        out.append(_ansi_escape(_interpolate_rgb(frac, int(low_color), int(high_color))))
        out.append("█")
    out.append(_ANSI_RESET)
    out.append(" " * (width - count))
    return "".join(out)


def register_sql_functions_r4(spark: SparkSession) -> None:
    """Round-4 SQL-surface residue: binary codecs, Teradata scalars,
    statistical inverses, and color rendering."""
    reg = spark.udf.register
    reg("to_big_endian_32", _pack_fn(">i", -(2**31), 2**31 - 1), "binary")
    reg("from_big_endian_32", _unpack_fn(">i", 4), "int")
    reg("to_big_endian_64", _pack_fn(">q", -(2**63), 2**63 - 1), "binary")
    reg("from_big_endian_64", _unpack_fn(">q", 8), "bigint")
    reg("to_ieee754_32", _pack_fn(">f"), "binary")
    reg("from_ieee754_32", _unpack_fn(">f", 4), "float")
    reg("to_ieee754_64", _pack_fn(">d"), "binary")
    reg("from_ieee754_64", _unpack_fn(">d", 8), "double")
    reg("murmur3", lambda b: None if b is None else murmur3_x64_128(bytes(b)), "binary")
    reg("char2hexint", lambda s: None if s is None else s.encode("utf-16-be").hex().upper(), "string")
    reg("to_char", _to_char, "string")
    reg("parse_data_size", _parse_data_size, "decimal(38,0)")
    reg("is_json_scalar", _is_json_scalar, "boolean")
    reg("inverse_beta_cdf", _inverse_beta_cdf, "double")
    reg("t_pdf", _t_pdf, "double")
    reg("color", _color, "bigint")
    reg("rgb", _rgb, "bigint")
    reg("render", _render, "string")
    reg("bar_interpolated", _bar_colored, "string")
    reg("format_number_short", _format_number_short, "string")


def _format_number_short(v):
    """FormatNumberFunction.java: /1000 loop -> K/M/B/T/Q suffix, #.##
    precision by magnitude, HALF_UP, trailing zeros stripped."""
    if v is None:
        return None
    v = float(v)
    units = ["", "K", "M", "B", "T", "Q"]
    p = 0
    a = abs(v)
    while a >= 1000 and p < 5:
        a /= 1000.0
        p += 1
    frac = v / (1000.0**p)
    decimals = 2 if frac < 10 else (1 if frac < 100 else 0)
    scale = 10.0**decimals
    rounded = math.copysign(math.floor(abs(frac) * scale + 0.5) / scale, frac)
    s = f"{rounded:.2f}".rstrip("0").rstrip(".")
    return s + units[p]


# ---------------------------------------------- TIME WITH TIME ZONE (r5)
#
# Verbatim-SQL carrier for TimeWithTimeZoneType.java: canonical varchar
# 'HH:MM:SS.fff±HH:MM' (the geometry-as-WKT split — the Column API in
# functions/timeofday.py is the codegen scale path; these scalars exist
# so TIME '10:30+05:30' literals and their operators evaluate from SQL
# text). Offsets are fixed ±HH:MM at minute granularity, -14:00..+14:00
# as the reference enforces; comparisons key on the UTC-normalized
# nanos (LongTimeWithTimeZone.compareTo).

_TIMETZ_RE = re.compile(
    r"^\s*(\d{1,2}):(\d{2})(?::(\d{2}))?(?:\.(\d{1,9}))?"
    r"\s*(?:([+-])(\d{1,2}):?(\d{2})?)?\s*$"
)
_NANOS_MIN = 60_000_000_000
_NANOS_DAY = 24 * 60 * _NANOS_MIN


def _timetz_parts(s):
    m = _TIMETZ_RE.match(s)
    if not m:
        raise ValueError(f"Invalid TIME WITH TIME ZONE literal: {s!r}")
    hh, mm, ss, frac, sign, ohh, omm = m.groups()
    if int(hh) > 23 or int(mm) > 59 or (ss and int(ss) > 59):
        raise ValueError(f"Invalid TIME WITH TIME ZONE literal: {s!r}")
    nanos = (
        int(hh) * 60 * _NANOS_MIN
        + int(mm) * _NANOS_MIN
        + int(ss or 0) * 1_000_000_000
        + int((frac or "").ljust(9, "0") or 0)
    )
    if omm is not None and int(omm) > 59:
        # '+10:99' is an invalid zone offset, not 10h99m (reference
        # rejects minute fields > 59 before range-checking the total)
        raise ValueError(f"Invalid TIME WITH TIME ZONE offset: {s!r}")
    off = (-1 if sign == "-" else 1) * (int(ohh or 0) * 60 + int(omm or 0))
    if not -14 * 60 <= off <= 14 * 60:
        raise ValueError(f"TIME WITH TIME ZONE offset out of range: {s!r}")
    return nanos, off


def _timetz_canon(nanos, off, precision=3):
    sec, sub = divmod(nanos, 1_000_000_000)
    hh, rem = divmod(sec, 3600)
    mm, ss = divmod(rem, 60)
    base = f"{hh:02d}:{mm:02d}:{ss:02d}"
    if precision > 0:
        base += "." + f"{sub:09d}"[:precision]
    sign = "-" if off < 0 else "+"
    oa = abs(off)
    return f"{base}{sign}{oa // 60:02d}:{oa % 60:02d}"


def _timetz(s):
    if s is None:
        return None
    return _timetz_canon(*_timetz_parts(str(s)))


def _try_timetz(s):
    try:
        return _timetz(s)
    except ValueError:
        return None


def _timetz_utc_nanos(s):
    if s is None:
        return None
    nanos, off = _timetz_parts(str(s))
    return (nanos - off * _NANOS_MIN) % _NANOS_DAY


def _parse_offset(z):
    m = re.match(r"^\s*([+-])(\d{1,2}):?(\d{2})?\s*$", str(z))
    if not m:
        raise ValueError(
            f"TIME WITH TIME ZONE supports fixed offsets only, got {z!r}"
        )
    sign, hh, mm = m.groups()
    if mm is not None and int(mm) > 59:
        raise ValueError(f"invalid offset minutes: {z!r}")
    off = (-1 if sign == "-" else 1) * (int(hh) * 60 + int(mm or 0))
    if not -14 * 60 <= off <= 14 * 60:
        raise ValueError(f"offset out of range: {z!r}")
    return off


def _timetz_at_time_zone(zone, s):
    if s is None or zone is None:
        return None
    nanos, off = _timetz_parts(str(s))
    target = _parse_offset(zone)
    local = (nanos - off * _NANOS_MIN + target * _NANOS_MIN) % _NANOS_DAY
    return _timetz_canon(local, target)


def _timetz_field(s, what):
    if s is None:
        return None
    nanos, off = _timetz_parts(str(s))
    if what == "hour":
        return nanos // (60 * _NANOS_MIN)
    if what == "minute":
        return (nanos // _NANOS_MIN) % 60
    if what == "second":
        return (nanos // 1_000_000_000) % 60
    if what == "millisecond":
        return (nanos // 1_000_000) % 1000
    return off  # timezone offset minutes


def _spooky32(b):
    from trino_spark.functions import spooky

    if b is None:
        return None
    import struct as _s

    return _s.pack(">I", spooky.hash32(bytes(b)))


def _spooky64(b):
    from trino_spark.functions import spooky

    if b is None:
        return None
    import struct as _s

    return _s.pack(">Q", spooky.hash64(bytes(b)))


def _theta_cardinality(b):
    from trino_spark.functions import thetasketch

    return None if b is None else thetasketch.estimate(bytes(b))


def _theta_cardinality_seed(b, seed):
    from trino_spark.functions import thetasketch

    if b is None or seed is None:
        return None
    return thetasketch.estimate(bytes(b), seed=int(seed))


def register_sql_functions_r5(spark: SparkSession) -> None:
    reg = spark.udf.register
    # SpookyHash V2 (VarbinaryFunctions.java; digests pinned from
    # TestVarbinaryFunctions.java:783-797 — see functions/spooky.py for
    # the short/long-path verification status)
    reg("spooky_hash_v2_32", _spooky32, "binary")
    reg("spooky_hash_v2_64", _spooky64, "binary")
    # DataSketches theta scalar (docs/functions/datasketches.md)
    reg("theta_sketch_cardinality", _theta_cardinality, "double")
    reg("theta_sketch_cardinality_seed", _theta_cardinality_seed, "double")
    reg("timetz", _timetz, "string")
    reg("try_timetz", _try_timetz, "string")
    reg("timetz_to_utc_nanos", _timetz_utc_nanos, "bigint")
    reg("timetz_at_time_zone", _timetz_at_time_zone, "string")
    reg("timetz_hour", lambda s: _timetz_field(s, "hour"), "bigint")
    reg("timetz_minute", lambda s: _timetz_field(s, "minute"), "bigint")
    reg("timetz_second", lambda s: _timetz_field(s, "second"), "bigint")
    reg("timetz_millisecond", lambda s: _timetz_field(s, "millisecond"), "bigint")
    reg("timetz_offset_minutes", lambda s: _timetz_field(s, "offset"), "bigint")


# ---------------------------------------------------------------- bundle
#
# Every name the engine adds to Spark's function namespace, mapped to how
# it is registered: the SystemFunctionBundle analog. The table is built
# once per process by running the register_* functions (these, and their
# peers in sqlagg, geosql and dialect/ptf) against a recorder, so building
# it makes no py4j call. A session gets a name registered the first time
# a translated statement calls it (rewrites.translate scans its output),
# so constructing an engine registers nothing and a statement pays only
# for the functions it calls. Names that shadow a Spark built-in (to_char,
# st_srid, theta_sketch_agg, ...) are registered the same way, before the
# statement that calls them is analyzed.


class _Recorder:
    """Stands in for `spark.udf` / `spark.udtf` while the table is built."""

    def __init__(self, table: dict, kind: str):
        self._table, self._kind = table, kind

    def register(self, name: str, f, returnType=None) -> None:
        self._table[name] = (self._kind, f, returnType)


@functools.cache
def bundle() -> dict[str, tuple]:
    """name -> (kind, function, return type): "udf" entries go to
    `spark.udf.register`, "udtf" entries to `spark.udtf.register`."""
    from types import SimpleNamespace

    from trino_spark.dialect.ptf import register_builtin_table_functions
    from trino_spark.functions.geosql import register_geo_functions
    from trino_spark.functions.sqlagg import register_sql_aggregates

    table: dict[str, tuple] = {}
    recorder = SimpleNamespace(udf=_Recorder(table, "udf"), udtf=_Recorder(table, "udtf"))
    for register in (
        register_builtin_table_functions,
        register_sql_functions,
        register_sql_functions_r4,
        register_sql_functions_r5,
        register_sql_aggregates,
        register_geo_functions,
    ):
        register(recorder)
    return table


_LOCK = threading.Lock()
# translate() takes only the statement text, so the session it registers
# on reaches it through this per-thread binding.
_BOUND = threading.local()


def bind_session(spark: SparkSession | None) -> SparkSession | None:
    """Make `spark` the session this thread's translated statements
    register functions on; returns the previous binding. TrinoEngine.sql
    binds its own session for the length of each statement."""
    previous = getattr(_BOUND, "spark", None)
    _BOUND.spark = spark
    return previous


def settled(spark: SparkSession) -> set[str]:
    """Names whose entry on `spark` is final: the bundle functions
    registered so far, and user routines that shadow a bundle name."""
    return spark.__dict__.setdefault("_ts_functions", set())


def register_functions(names: Iterable[str], spark: SparkSession | None = None) -> None:
    """Register the bundle functions among `names` on `spark`, each at most
    once per session; other names are ignored. `spark` defaults to the
    session bound to this thread, else the process's session.

    Callers that put bundle names into Spark SQL without going through
    `engine.sql` (F.expr, selectExpr, raw spark.sql) call this first."""
    spark = spark or getattr(_BOUND, "spark", None) or SparkSession._instantiatedSession
    if spark is None:
        return
    table = bundle()
    done = settled(spark)
    todo = [n for n in {n.lower() for n in names} if n in table and n not in done]
    if not todo:
        return
    with _LOCK:
        for name in todo:
            if name in done:
                continue
            kind, f, return_type = table[name]
            register = spark.udtf.register if kind == "udtf" else spark.udf.register
            if return_type is None:
                register(name, f)
            else:
                register(name, f, return_type)
            done.add(name)

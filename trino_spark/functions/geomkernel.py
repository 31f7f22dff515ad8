"""Pure-Python planar geometry kernel backing the SQL geospatial surface.

Reference surface: docs/src/main/sphinx/functions/geospatial.md and
plugin/trino-geospatial (GeoFunctions.java) — Trino evaluates these with
the Esri geometry library; this kernel re-implements the required subset
from the published computational-geometry algorithms (ray casting,
monotone-chain hull, Douglas–Peucker, Greiner–Hormann clipping, Welzl
minimum enclosing circle, Google encoded-polyline codec, OGC WKT/WKB).

Geometry model: ``(gtype, data)`` tuples —
  POINT (x, y) | MULTIPOINT [pt] | LINESTRING [pt] | MULTILINESTRING
  [[pt]] | POLYGON [ring] (rings closed, ring[0] shell, rest holes) |
  MULTIPOLYGON [[ring]] | GEOMETRYCOLLECTION [geom]; data None = EMPTY.

Scale note: these run row-at-a-time under the SQL surface (formatting /
analysis scalars). The hot distributed path stays the expression-only
Column API (functions/geo.py) and the grid-bucketed spatial join
(operators/spatial.py).
"""

from __future__ import annotations

import math
import re
import struct

_EPS = 1e-9


# ------------------------------------------------------------------ WKT


def _num(s):
    return float(s)


def _parse_coords_list(body: str) -> list[tuple[float, float]]:
    pts = []
    for part in body.split(","):
        xy = part.split()
        pts.append((_num(xy[0]), _num(xy[1])))
    return pts


def _split_groups(body: str) -> list[str]:
    """Split '(...), (...)' at depth-0 commas, stripping one paren level."""
    groups, depth, start = [], 0, None
    for i, ch in enumerate(body):
        if ch == "(":
            if depth == 0:
                start = i + 1
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                groups.append(body[start:i])
    return groups


def parse_wkt(wkt: str):
    s = wkt.strip()
    m = re.match(r"^([A-Za-z]+)\s*(EMPTY|\(.*\))$", s, re.DOTALL)
    if not m:
        raise ValueError(f"Invalid WKT: {wkt!r}")
    gtype = m.group(1).upper()
    body = m.group(2)
    if body == "EMPTY":
        return (gtype, None)
    body = body.strip()[1:-1].strip()  # outermost parens
    if gtype == "POINT":
        (pt,) = _parse_coords_list(body)
        return ("POINT", pt)
    if gtype == "LINESTRING":
        return ("LINESTRING", _parse_coords_list(body))
    if gtype == "MULTIPOINT":
        if "(" in body:
            return ("MULTIPOINT", [_parse_coords_list(g)[0] for g in _split_groups(body)])
        return ("MULTIPOINT", _parse_coords_list(body))
    if gtype == "POLYGON":
        return ("POLYGON", [_close_ring(_parse_coords_list(g)) for g in _split_groups(body + ",")])
    if gtype == "MULTILINESTRING":
        return ("MULTILINESTRING", [_parse_coords_list(g) for g in _split_groups(body + ",")])
    if gtype == "MULTIPOLYGON":
        polys, depth, start = [], 0, None
        for i, ch in enumerate(body):
            if ch == "(":
                if depth == 0:
                    start = i + 1
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    inner = body[start:i]
                    polys.append([_close_ring(_parse_coords_list(g)) for g in _split_groups(inner + ",")])
        return ("MULTIPOLYGON", polys)
    if gtype == "GEOMETRYCOLLECTION":
        geoms, depth, start = [], 0, 0
        for i, ch in enumerate(body + ","):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                part = body[start:i].strip() if i <= len(body) else body[start:].strip()
                if part:
                    geoms.append(parse_wkt(part))
                start = i + 1
        return ("GEOMETRYCOLLECTION", geoms)
    raise ValueError(f"Unsupported WKT type: {gtype}")


def _close_ring(pts):
    if pts and pts[0] != pts[-1]:
        return pts + [pts[0]]
    return pts


def _fmt_pt(p):
    def f(v):
        if v == int(v) and abs(v) < 1e16:
            return str(int(v))
        r = "%r" % v
        # strip trailing zeros only from plain decimal reprs — rstrip on a
        # scientific repr like '1e-10' would eat the exponent's zero
        return r.rstrip("0").rstrip(".") if "e" not in r and "." in r else r

    return f"{f(p[0])} {f(p[1])}"


def to_wkt(g) -> str:
    gtype, data = g
    if data is None or data == []:
        return f"{gtype} EMPTY"
    if gtype == "POINT":
        return f"POINT ({_fmt_pt(data)})"
    if gtype == "MULTIPOINT":
        return "MULTIPOINT (" + ", ".join(f"({_fmt_pt(p)})" for p in data) + ")"
    if gtype == "LINESTRING":
        return "LINESTRING (" + ", ".join(_fmt_pt(p) for p in data) + ")"
    if gtype == "MULTILINESTRING":
        return ("MULTILINESTRING ("
                + ", ".join("(" + ", ".join(_fmt_pt(p) for p in line) + ")" for line in data) + ")")
    if gtype == "POLYGON":
        return ("POLYGON ("
                + ", ".join("(" + ", ".join(_fmt_pt(p) for p in r) + ")" for r in data) + ")")
    if gtype == "MULTIPOLYGON":
        return ("MULTIPOLYGON ("
                + ", ".join(
                    "(" + ", ".join("(" + ", ".join(_fmt_pt(p) for p in r) + ")" for r in poly) + ")"
                    for poly in data) + ")")
    if gtype == "GEOMETRYCOLLECTION":
        return "GEOMETRYCOLLECTION (" + ", ".join(to_wkt(x) for x in data) + ")"
    raise ValueError(gtype)


# ------------------------------------------------------------------ WKB

_WKB_CODES = {"POINT": 1, "LINESTRING": 2, "POLYGON": 3, "MULTIPOINT": 4,
              "MULTILINESTRING": 5, "MULTIPOLYGON": 6, "GEOMETRYCOLLECTION": 7}
_WKB_NAMES = {v: k for k, v in _WKB_CODES.items()}


def to_wkb(g) -> bytes:
    gtype, data = g
    out = [b"\x01", struct.pack("<I", _WKB_CODES[gtype])]

    def pt(p):
        return struct.pack("<dd", p[0], p[1])

    if gtype == "POINT":
        out.append(pt(data if data else (float("nan"), float("nan"))))
    elif gtype == "LINESTRING":
        out.append(struct.pack("<I", len(data or [])))
        out.extend(pt(p) for p in data or [])
    elif gtype == "POLYGON":
        out.append(struct.pack("<I", len(data or [])))
        for r in data or []:
            out.append(struct.pack("<I", len(r)))
            out.extend(pt(p) for p in r)
    elif gtype == "MULTIPOINT":
        out.append(struct.pack("<I", len(data or [])))
        out.extend(to_wkb(("POINT", p)) for p in data or [])
    elif gtype == "MULTILINESTRING":
        out.append(struct.pack("<I", len(data or [])))
        out.extend(to_wkb(("LINESTRING", line)) for line in data or [])
    elif gtype == "MULTIPOLYGON":
        out.append(struct.pack("<I", len(data or [])))
        out.extend(to_wkb(("POLYGON", poly)) for poly in data or [])
    elif gtype == "GEOMETRYCOLLECTION":
        out.append(struct.pack("<I", len(data or [])))
        out.extend(to_wkb(x) for x in data or [])
    return b"".join(out)


_EWKB_SRID_FLAG = 0x20000000


def to_ewkb(g, srid: int = 0) -> bytes:
    """PostGIS-style EWKB: WKB with the 0x20000000 SRID flag on the type
    word and a little-endian srid int following it (public PostGIS
    format; ST_AsEWKB role)."""
    wkb = to_wkb(g)
    if not srid:
        return wkb
    code = struct.unpack_from("<I", wkb, 1)[0] | _EWKB_SRID_FLAG
    return wkb[:1] + struct.pack("<II", code, srid) + wkb[5:]


def from_wkb(b: bytes):
    def read(buf, off):
        little = buf[off] == 1
        fmt = "<" if little else ">"
        code = struct.unpack_from(fmt + "I", buf, off + 1)[0]
        off += 5
        if code & _EWKB_SRID_FLAG:  # EWKB: skip the embedded srid int
            off += 4
        gtype = _WKB_NAMES[code & 0xFF]
        if gtype == "POINT":
            x, y = struct.unpack_from(fmt + "dd", buf, off)
            return ("POINT", None if math.isnan(x) else (x, y)), off + 16
        if gtype in ("LINESTRING",):
            n = struct.unpack_from(fmt + "I", buf, off)[0]
            off += 4
            pts = [struct.unpack_from(fmt + "dd", buf, off + 16 * i) for i in range(n)]
            return ("LINESTRING", [tuple(p) for p in pts]), off + 16 * n
        if gtype == "POLYGON":
            nr = struct.unpack_from(fmt + "I", buf, off)[0]
            off += 4
            rings = []
            for _ in range(nr):
                n = struct.unpack_from(fmt + "I", buf, off)[0]
                off += 4
                rings.append([tuple(struct.unpack_from(fmt + "dd", buf, off + 16 * i)) for i in range(n)])
                off += 16 * n
            return ("POLYGON", rings), off
        n = struct.unpack_from(fmt + "I", buf, off)[0]
        off += 4
        parts = []
        for _ in range(n):
            sub, off = read(buf, off)
            parts.append(sub)
        if gtype == "MULTIPOINT":
            return ("MULTIPOINT", [p[1] for p in parts]), off
        if gtype == "MULTILINESTRING":
            return ("MULTILINESTRING", [p[1] for p in parts]), off
        if gtype == "MULTIPOLYGON":
            return ("MULTIPOLYGON", [p[1] for p in parts]), off
        return ("GEOMETRYCOLLECTION", parts), off

    g, _ = read(bytes(b), 0)
    return g


# -------------------------------------------------------------- GeoJSON


def to_geojson(g) -> str:
    import json

    gtype, data = g
    name = {"POINT": "Point", "MULTIPOINT": "MultiPoint", "LINESTRING": "LineString",
            "MULTILINESTRING": "MultiLineString", "POLYGON": "Polygon",
            "MULTIPOLYGON": "MultiPolygon", "GEOMETRYCOLLECTION": "GeometryCollection"}[gtype]
    if gtype == "GEOMETRYCOLLECTION":
        return json.dumps({"type": name, "geometries": [
            __import__("json").loads(to_geojson(x)) for x in data or []]})
    coords = {
        "POINT": lambda d: list(d) if d else [],
        "MULTIPOINT": lambda d: [list(p) for p in d or []],
        "LINESTRING": lambda d: [list(p) for p in d or []],
        "MULTILINESTRING": lambda d: [[list(p) for p in line] for line in d or []],
        "POLYGON": lambda d: [[list(p) for p in r] for r in d or []],
        "MULTIPOLYGON": lambda d: [[[list(p) for p in r] for r in poly] for poly in d or []],
    }[gtype](data)
    return json.dumps({"type": name, "coordinates": coords})


def from_geojson(s: str):
    import json

    o = json.loads(s)
    name = o["type"].upper()
    if name == "GEOMETRYCOLLECTION":
        return ("GEOMETRYCOLLECTION", [from_geojson(json.dumps(x)) for x in o["geometries"]])
    c = o["coordinates"]
    if name == "POINT":
        return ("POINT", tuple(c) if c else None)
    if name == "MULTIPOINT":
        return ("MULTIPOINT", [tuple(p) for p in c])
    if name == "LINESTRING":
        return ("LINESTRING", [tuple(p) for p in c])
    if name == "MULTILINESTRING":
        return ("MULTILINESTRING", [[tuple(p) for p in line] for line in c])
    if name == "POLYGON":
        return ("POLYGON", [[tuple(p) for p in r] for r in c])
    if name == "MULTIPOLYGON":
        return ("MULTIPOLYGON", [[[tuple(p) for p in r] for r in poly] for poly in c])
    raise ValueError(name)


# ----------------------------------------------------- encoded polyline


def encode_polyline(pts) -> str:
    """Google encoded-polyline algorithm (public spec), 1e5 precision."""
    out = []
    last_lat = last_lng = 0
    for x, y in pts:  # WKT order is (lng, lat)
        lat, lng = round(y * 1e5), round(x * 1e5)
        for v in (lat - last_lat, lng - last_lng):
            v = ~(v << 1) if v < 0 else v << 1
            while v >= 0x20:
                out.append(chr((0x20 | (v & 0x1F)) + 63))
                v >>= 5
            out.append(chr(v + 63))
        last_lat, last_lng = lat, lng
    return "".join(out)


def decode_polyline(s: str):
    pts, i, lat, lng = [], 0, 0, 0
    while i < len(s):
        for which in (0, 1):
            shift = result = 0
            while True:
                b = ord(s[i]) - 63
                i += 1
                result |= (b & 0x1F) << shift
                shift += 5
                if b < 0x20:
                    break
            d = ~(result >> 1) if result & 1 else result >> 1
            if which == 0:
                lat += d
            else:
                lng += d
        pts.append((lng / 1e5, lat / 1e5))
    return pts


# ------------------------------------------------------- primitive math


def _cross(o, a, b):
    return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])


def _point_on_seg(p, a, b):
    if abs(_cross(a, b, p)) > _EPS * max(1.0, abs(a[0]), abs(a[1]), abs(b[0]), abs(b[1])):
        return False
    return (min(a[0], b[0]) - _EPS <= p[0] <= max(a[0], b[0]) + _EPS
            and min(a[1], b[1]) - _EPS <= p[1] <= max(a[1], b[1]) + _EPS)


def _seg_intersection(a, b, c, d):
    """Intersection point(s) of segments ab and cd: [] | [pt] | [pt, pt]
    (collinear overlap returns its endpoints)."""
    d1, d2 = _cross(c, d, a), _cross(c, d, b)
    d3, d4 = _cross(a, b, c), _cross(a, b, d)
    if ((d1 > _EPS and d2 < -_EPS) or (d1 < -_EPS and d2 > _EPS)) and (
        (d3 > _EPS and d4 < -_EPS) or (d3 < -_EPS and d4 > _EPS)
    ):
        t = d1 / (d1 - d2)
        return [(a[0] + t * (b[0] - a[0]), a[1] + t * (b[1] - a[1]))]
    pts = []
    for p, s1, s2 in ((a, c, d), (b, c, d), (c, a, b), (d, a, b)):
        if _point_on_seg(p, s1, s2) and not any(_dist2(p, q) < _EPS**2 for q in pts):
            pts.append(p)
    return pts[:2]


def _dist2(p, q):
    return (p[0] - q[0]) ** 2 + (p[1] - q[1]) ** 2


def _pt_seg_dist(p, a, b):
    vx, vy = b[0] - a[0], b[1] - a[1]
    L2 = vx * vx + vy * vy
    if L2 == 0:
        return math.sqrt(_dist2(p, a)), a
    t = max(0.0, min(1.0, ((p[0] - a[0]) * vx + (p[1] - a[1]) * vy) / L2))
    q = (a[0] + t * vx, a[1] + t * vy)
    return math.sqrt(_dist2(p, q)), q


def _seg_seg_nearest(a, b, c, d):
    if _seg_intersection(a, b, c, d):
        p = _seg_intersection(a, b, c, d)[0]
        return 0.0, p, p
    best = None
    for p, s1, s2, flip in ((a, c, d, False), (b, c, d, False), (c, a, b, True), (d, a, b, True)):
        dist, q = _pt_seg_dist(p, s1, s2)
        pair = (q, p) if flip else (p, q)
        if best is None or dist < best[0]:
            best = (dist, pair[0], pair[1])
    return best


def _point_in_ring(p, ring):
    """'in' | 'on' | 'out' by ray casting with boundary detection."""
    for i in range(len(ring) - 1):
        if _point_on_seg(p, ring[i], ring[i + 1]):
            return "on"
    inside = False
    x, y = p
    for i in range(len(ring) - 1):
        (x1, y1), (x2, y2) = ring[i], ring[i + 1]
        if (y1 > y) != (y2 > y):
            xint = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
            if xint > x:
                inside = not inside
    return "in" if inside else "out"


def _point_in_polygon(p, rings):
    r = _point_in_ring(p, rings[0])
    if r != "in":
        return r
    for hole in rings[1:]:
        h = _point_in_ring(p, hole)
        if h == "in":
            return "out"
        if h == "on":
            return "on"
    return "in"


# --------------------------------------------------------- decomposition


def _points_of(g):
    gtype, data = g
    if data is None:
        return []
    if gtype == "POINT":
        return [data]
    if gtype == "MULTIPOINT":
        return list(data)
    if gtype == "LINESTRING":
        return list(data)
    if gtype == "MULTILINESTRING":
        return [p for line in data for p in line]
    if gtype == "POLYGON":
        return [p for r in data for p in r]
    if gtype == "MULTIPOLYGON":
        return [p for poly in data for r in poly for p in r]
    return [p for sub in data for p in _points_of(sub)]


def _segments_of(g):
    gtype, data = g
    if data is None:
        return []
    if gtype == "LINESTRING":
        return [(data[i], data[i + 1]) for i in range(len(data) - 1)]
    if gtype == "MULTILINESTRING":
        return [s for line in data for s in _segments_of(("LINESTRING", line))]
    if gtype == "POLYGON":
        return [s for r in data for s in _segments_of(("LINESTRING", r))]
    if gtype == "MULTIPOLYGON":
        return [s for poly in data for s in _segments_of(("POLYGON", poly))]
    if gtype == "GEOMETRYCOLLECTION":
        return [s for sub in data for s in _segments_of(sub)]
    return []


def _polygons_of(g):
    gtype, data = g
    if data is None:
        return []
    if gtype == "POLYGON":
        return [data]
    if gtype == "MULTIPOLYGON":
        return list(data)
    if gtype == "GEOMETRYCOLLECTION":
        return [p for sub in data for p in _polygons_of(sub)]
    return []


def locate_point(g, p):
    """'in' | 'on' | 'out' of point p relative to geometry g (closure:
    'on' means on a boundary/line/point of g)."""
    gtype, data = g
    if data is None:
        return "out"
    polys = _polygons_of(g)
    if polys:
        states = [_point_in_polygon(p, poly) for poly in polys]
        if "in" in states:
            return "in"
        if "on" in states:
            return "on"
        if gtype == "GEOMETRYCOLLECTION":
            rest = ("GEOMETRYCOLLECTION", [s for s in data if not _polygons_of(s)])
            return locate_point(rest, p)
        return "out"
    for a, b in _segments_of(g):
        if _point_on_seg(p, a, b):
            return "on"
    for q in _points_of(g) if gtype in ("POINT", "MULTIPOINT", "GEOMETRYCOLLECTION") else []:
        if _dist2(p, q) < _EPS**2:
            return "on"
    return "out"


# ------------------------------------------------------------ predicates


def intersects(a, b):
    if a[1] is None or b[1] is None:
        return False
    # any vertex of one inside/on the other
    for p in _points_of(a):
        if locate_point(b, p) != "out":
            return True
    for p in _points_of(b):
        if locate_point(a, p) != "out":
            return True
    # any edge pair crossing
    for s1 in _segments_of(a):
        for s2 in _segments_of(b):
            if _seg_intersection(*s1, *s2):
                return True
    return False


def disjoint(a, b):
    return not intersects(a, b)


def _edge_samples(g, other):
    """Sample points of g's edges split at intersections with other's
    edges — classifies where each sub-edge lies relative to `other`."""
    samples = []
    osegs = _segments_of(other)
    for s in _segments_of(g):
        cuts = [0.0, 1.0]
        for o in osegs:
            for p in _seg_intersection(*s, *o):
                L = math.sqrt(_dist2(s[0], s[1]))
                if L > 0:
                    t = math.sqrt(_dist2(s[0], p)) / L
                    cuts.append(max(0.0, min(1.0, t)))
        cuts = sorted(set(cuts))
        for t0, t1 in zip(cuts, cuts[1:]):
            tm = (t0 + t1) / 2
            samples.append((s[0][0] + tm * (s[1][0] - s[0][0]), s[0][1] + tm * (s[1][1] - s[0][1])))
    return samples


def _interior_point(rings):
    """A point strictly inside the polygon (scanline midpoint method)."""
    shell = rings[0]
    ys = sorted({p[1] for p in shell})
    candidates = [(ys[i] + ys[i + 1]) / 2 for i in range(len(ys) - 1)] or [ys[0]]
    for y in candidates:
        xs = []
        for i in range(len(shell) - 1):
            (x1, y1), (x2, y2) = shell[i], shell[i + 1]
            if (y1 > y) != (y2 > y):
                xs.append(x1 + (y - y1) * (x2 - x1) / (y2 - y1))
        xs.sort()
        for x0, x1 in zip(xs[::2], xs[1::2]):
            p = ((x0 + x1) / 2, y)
            if _point_in_polygon(p, rings) == "in":
                return p
    return None


def contains(a, b):
    """OGC ST_Contains: no point of b in the exterior of a, and interiors
    intersect (a point of b strictly interior to a)."""
    if a[1] is None or b[1] is None:
        return False
    probe = _points_of(b) + _edge_samples(b, a)
    for poly in _polygons_of(b):
        ip = _interior_point(poly)
        if ip is not None:
            probe.append(ip)
    interior_hit = False
    for p in probe:
        loc = locate_point(a, p)
        if loc == "out":
            return False
        if loc == "in":
            interior_hit = True
    if _polygons_of(a):
        return interior_hit
    # line/point containers: b must lie on a entirely; dimension rule —
    # a line contains points/lines on it, a point only an equal point.
    if a[0] in ("LINESTRING", "MULTILINESTRING"):
        return True
    return b[0] in ("POINT", "MULTIPOINT")


def within(a, b):
    return contains(b, a)


def equals(a, b):
    return contains(a, b) and contains(b, a) if _dim(a) == _dim(b) else False


def touches(a, b):
    """OGC ST_Touches via the DE-9IM matrix: intersecting, but the
    interior-interior cell is empty (pattern FT*******|F**T*****|
    F***T****). The earlier probe-based version missed line-line PROPER
    crossings — the crossing point is interior to both lines but is
    neither a vertex nor an edge sample, so it reported touches=true
    where Trino/JTS say false (round-5 DE-9IM consistency fuzz)."""
    if not intersects(a, b):
        return False
    if a[0] == "GEOMETRYCOLLECTION" or b[0] == "GEOMETRYCOLLECTION":
        # matrix path excludes collections; fall back to sampled probes
        probe_a = _points_of(a) + _edge_samples(a, b)
        probe_b = _points_of(b) + _edge_samples(b, a)
        for poly in _polygons_of(a):
            ip = _interior_point(poly)
            if ip is not None and locate_point(b, ip) == "in":
                return False
        for poly in _polygons_of(b):
            ip = _interior_point(poly)
            if ip is not None and locate_point(a, ip) == "in":
                return False
        for p in probe_a:
            if locate_point(b, p) == "in":
                return False
        for p in probe_b:
            if locate_point(a, p) == "in":
                return False
        return True
    m = relate_matrix(a, b)
    return m[0] == "F" and (m[1] != "F" or m[3] != "F" or m[4] != "F")


def crosses(a, b):
    if not intersects(a, b):
        return False
    da, db = _dim(a), _dim(b)
    if da == 1 and db == 2:
        samples = _edge_samples(a, b)
        return any(locate_point(b, p) == "in" for p in samples) and any(
            locate_point(b, p) == "out" for p in samples
        )
    if da == 2 and db == 1:
        return crosses(b, a)
    if da == 1 and db == 1:
        cross_pts = [
            p for s1 in _segments_of(a) for s2 in _segments_of(b) for p in _seg_intersection(*s1, *s2)
        ]
        # line/line crosses is an INTERIOR-interior point intersection
        # (DE-9IM II dim 0): an intersection at either line's mod-2
        # boundary endpoint is touches, not crosses (round-6 geo_fuzz
        # de9im264 — two lines sharing a start point reported True)
        bnd = [p for g in (a, b) for p in _line_boundary_pts(g)]
        interior_pts = [
            p
            for p in cross_pts
            if not any(
                abs(p[0] - q[0]) <= _EPS and abs(p[1] - q[1]) <= _EPS
                for q in bnd
            )
        ]
        return len(interior_pts) > 0 and not contains(a, b) and not contains(b, a) and not _collinear_overlap(a, b)
    if da == 0:
        pts = _points_of(a)
        ins = [locate_point(b, p) != "out" for p in pts]
        return any(ins) and not all(ins)
    return False


def _collinear_overlap(a, b):
    for s1 in _segments_of(a):
        for s2 in _segments_of(b):
            pts = _seg_intersection(*s1, *s2)
            if len(pts) == 2:
                return True
    return False


def overlaps(a, b):
    if _dim(a) != _dim(b) or not intersects(a, b):
        return False
    if contains(a, b) or contains(b, a):
        return False
    if _dim(a) == 2:
        ia = any(locate_point(b, p) == "in" for p in _points_of(a) + _edge_samples(a, b))
        ib = any(locate_point(a, p) == "in" for p in _points_of(b) + _edge_samples(b, a))
        return ia or ib
    if _dim(a) == 1:
        return _collinear_overlap(a, b)
    pa, pb = set(_points_of(a)), set(_points_of(b))
    return bool(pa & pb) and bool(pa - pb) and bool(pb - pa)


def _dim(g):
    gtype = g[0]
    if gtype in ("POINT", "MULTIPOINT"):
        return 0
    if gtype in ("LINESTRING", "MULTILINESTRING"):
        return 1
    if gtype in ("POLYGON", "MULTIPOLYGON"):
        return 2
    return max((_dim(s) for s in g[1] or []), default=0)


# -------------------------------------------------------------- measures


def ring_area(ring):
    s = 0.0
    for i in range(len(ring) - 1):
        s += ring[i][0] * ring[i + 1][1] - ring[i + 1][0] * ring[i][1]
    return s / 2.0


def area(g):
    gtype, data = g
    if data is None:
        return 0.0
    if gtype == "POLYGON":
        return abs(ring_area(data[0])) - sum(abs(ring_area(r)) for r in data[1:])
    if gtype == "MULTIPOLYGON":
        return sum(area(("POLYGON", poly)) for poly in data)
    if gtype == "GEOMETRYCOLLECTION":
        return sum(area(s) for s in data)
    return 0.0


def length(g):
    return sum(math.sqrt(_dist2(a, b)) for a, b in _segments_of(g))


def distance(a, b):
    if a[1] is None or b[1] is None:
        return None
    if intersects(a, b):
        return 0.0
    best = math.inf
    pa, pb = _points_of(a), _points_of(b)
    sa, sb = _segments_of(a), _segments_of(b)
    for p in pa:
        for q in pb:
            best = min(best, math.sqrt(_dist2(p, q)))
        for s in sb:
            best = min(best, _pt_seg_dist(p, *s)[0])
    for q in pb:
        for s in sa:
            best = min(best, _pt_seg_dist(q, *s)[0])
    for s1 in sa:
        for s2 in sb:
            best = min(best, _seg_seg_nearest(*s1, *s2)[0])
    return best


def nearest_points(a, b):
    if a[1] is None or b[1] is None:
        return None
    if intersects(a, b):
        for p in _points_of(a):
            if locate_point(b, p) != "out":
                return (p, p)
        for s1 in _segments_of(a):
            for s2 in _segments_of(b):
                hit = _seg_intersection(*s1, *s2)
                if hit:
                    return (hit[0], hit[0])
    best = (math.inf, None, None)
    sa = _segments_of(a) or [(p, p) for p in _points_of(a)]
    sb = _segments_of(b) or [(p, p) for p in _points_of(b)]
    for s1 in sa:
        for s2 in sb:
            d, p, q = _seg_seg_nearest(*s1, *s2)
            if d < best[0]:
                best = (d, p, q)
    return (best[1], best[2])


def centroid(g):
    gtype, data = g
    if data is None:
        return None
    if gtype == "POINT":
        return data
    if gtype == "MULTIPOINT":
        xs, ys = zip(*data)
        return (sum(xs) / len(xs), sum(ys) / len(ys))
    if gtype in ("LINESTRING", "MULTILINESTRING"):
        tot = cx = cy = 0.0
        for a, b in _segments_of(g):
            w = math.sqrt(_dist2(a, b))
            tot += w
            cx += w * (a[0] + b[0]) / 2
            cy += w * (a[1] + b[1]) / 2
        if tot == 0:
            return _points_of(g)[0]
        return (cx / tot, cy / tot)
    if gtype in ("POLYGON", "MULTIPOLYGON"):
        tot = cx = cy = 0.0
        for poly in _polygons_of(g):
            for k, ring in enumerate(poly):
                sgn = 1.0 if k == 0 else -1.0
                a2 = ring_area(ring)
                w = sgn * abs(a2)
                rx = ry = 0.0
                for i in range(len(ring) - 1):
                    cross = ring[i][0] * ring[i + 1][1] - ring[i + 1][0] * ring[i][1]
                    rx += (ring[i][0] + ring[i + 1][0]) * cross
                    ry += (ring[i][1] + ring[i + 1][1]) * cross
                if a2 != 0:
                    rx /= 6 * a2
                    ry /= 6 * a2
                tot += w
                cx += w * rx
                cy += w * ry
        if tot == 0:
            return centroid(("MULTIPOINT", _points_of(g)))
        return (cx / tot, cy / tot)
    pts = _points_of(g)
    xs, ys = zip(*pts)
    return (sum(xs) / len(xs), sum(ys) / len(ys))


def envelope(g):
    pts = _points_of(g)
    if not pts:
        return ("POLYGON", None)
    xs, ys = zip(*pts)
    x0, x1, y0, y1 = min(xs), max(xs), min(ys), max(ys)
    return ("POLYGON", [[(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]])


def convex_hull(pts):
    pts = sorted(set(pts))
    if len(pts) <= 2:
        return pts
    lower, upper = [], []
    for p in pts:
        while len(lower) >= 2 and _cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    for p in reversed(pts):
        while len(upper) >= 2 and _cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    return lower[:-1] + upper[:-1]


def simplify(g, tol):
    """Douglas–Peucker on each linework component."""

    def dp(pts):
        if len(pts) < 3:
            return pts
        a, b = pts[0], pts[-1]
        imax, dmax = 0, -1.0
        for i in range(1, len(pts) - 1):
            d, _ = _pt_seg_dist(pts[i], a, b)
            if d > dmax:
                imax, dmax = i, d
        if dmax <= tol:
            return [a, b]
        left = dp(pts[: imax + 1])
        return left[:-1] + dp(pts[imax:])

    gtype, data = g
    if data is None:
        return g
    if gtype == "LINESTRING":
        return (gtype, dp(data))
    if gtype == "MULTILINESTRING":
        return (gtype, [dp(line) for line in data])
    if gtype == "POLYGON":
        rings = [r for r in (dp(r) for r in data) if len(r) >= 4]
        return (gtype, rings or None)
    if gtype == "MULTIPOLYGON":
        polys = []
        for poly in data:
            rings = [r for r in (dp(r) for r in poly) if len(r) >= 4]
            if rings:
                polys.append(rings)
        return (gtype, polys or None)
    return g


def is_valid(g):
    return invalid_reason(g) is None


def invalid_reason(g):
    gtype, data = g
    if data is None:
        return None
    for poly in _polygons_of(g):
        for ring in poly:
            if len(ring) < 4:
                return "Polygon ring has fewer than 4 points"
            if ring[0] != ring[-1]:
                return "Polygon ring is not closed"
            # self-intersection: non-adjacent edges must not touch
            n = len(ring) - 1
            for i in range(n):
                for j in range(i + 1, n):
                    if j == i + 1 or (i == 0 and j == n - 1):
                        continue
                    if _seg_intersection(ring[i], ring[i + 1], ring[j], ring[j + 1]):
                        return "Polygon ring self-intersects"
    if gtype in ("LINESTRING",) and len(data) < 2:
        return "LineString has fewer than 2 points"
    return None


def is_simple(g):
    gtype, data = g
    if gtype in ("LINESTRING", "MULTILINESTRING") and data:
        segs = _segments_of(g)
        for i in range(len(segs)):
            for j in range(i + 1, len(segs)):
                pts = _seg_intersection(*segs[i], *segs[j])
                if not pts:
                    continue
                adjacent = segs[i][1] == segs[j][0] or segs[j][1] == segs[i][0]
                if len(pts) > 1 or not adjacent:
                    # allow shared endpoint contact only
                    if not all(
                        any(_dist2(p, e) < _EPS**2 for e in (segs[i][0], segs[i][1], segs[j][0], segs[j][1]))
                        for p in pts
                    ) or len(pts) > 1:
                        return False
    if gtype == "MULTIPOINT" and data:
        return len(set(data)) == len(data)
    return invalid_reason(g) is None


# --------------------------------------------- Greiner–Hormann clipping


def _gh_clip(subject, clip, op):
    """Greiner–Hormann boolean op on two simple rings (no holes).
    op: 'intersection' | 'union' | 'difference'. Returns list of rings."""
    subject = subject[:-1] if subject[0] == subject[-1] else subject[:]
    clip = clip[:-1] if clip[0] == clip[-1] else clip[:]
    if ring_area(subject + [subject[0]]) < 0:
        subject.reverse()
    if ring_area(clip + [clip[0]]) < 0:
        clip.reverse()

    class V:
        __slots__ = ("pt", "next", "prev", "neighbor", "entry", "alpha", "inter")

        def __init__(self, pt, alpha=0.0, inter=False):
            self.pt, self.alpha, self.inter = pt, alpha, inter
            self.next = self.prev = self.neighbor = None
            self.entry = True

    def build(ring):
        head = None
        for p in ring:
            v = V(p)
            if head is None:
                head = v
                v.next = v.prev = v
            else:
                last = head.prev
                last.next = v
                v.prev = last
                v.next = head
                head.prev = v
        return head

    def verts(head):
        out, v = [], head
        while True:
            out.append(v)
            v = v.next
            if v is head:
                break
        return out

    s_head, c_head = build(subject), build(clip)
    # insert intersection vertices
    any_inter = False
    for sv in [v for v in verts(s_head) if not v.inter]:
        s_next = sv.next
        while s_next.inter:
            s_next = s_next.next
        for cv in [v for v in verts(c_head) if not v.inter]:
            c_next = cv.next
            while c_next.inter:
                c_next = c_next.next
            hit = _seg_intersection(sv.pt, s_next.pt, cv.pt, c_next.pt)
            if len(hit) != 1:
                continue
            p = hit[0]
            if any(_dist2(p, e.pt) < _EPS**2 for e in (sv, s_next, cv, c_next)):
                continue  # degenerate vertex contact: treated by locate fallback
            any_inter = True
            La = math.sqrt(_dist2(sv.pt, s_next.pt))
            Lb = math.sqrt(_dist2(cv.pt, c_next.pt))
            a1 = math.sqrt(_dist2(sv.pt, p)) / La
            a2 = math.sqrt(_dist2(cv.pt, p)) / Lb
            i1, i2 = V(p, a1, True), V(p, a2, True)
            i1.neighbor, i2.neighbor = i2, i1

            def insert(iv, start):
                pos = start
                nxt = pos.next
                while nxt.inter and nxt.alpha < iv.alpha:
                    pos, nxt = nxt, nxt.next
                iv.next, iv.prev = nxt, pos
                pos.next = iv
                nxt.prev = iv

            insert(i1, sv)
            insert(i2, cv)

    s_ring = subject + [subject[0]]
    c_ring = clip + [clip[0]]
    if not any_inter:
        # no proper crossings: nested, disjoint, or boundary-contact-only.
        # With no crossings, one ring lies inside the other iff ALL its
        # vertices avoid the other's exterior (vertices may sit ON the
        # boundary, e.g. edge-adjacent squares -> neither is inside).
        s_in_c = all(_point_in_ring(p, c_ring) != "out" for p in subject) and any(
            _point_in_ring(p, c_ring) == "in" for p in subject
        )
        c_in_s = all(_point_in_ring(p, s_ring) != "out" for p in clip) and any(
            _point_in_ring(p, s_ring) == "in" for p in clip
        )
        if not s_in_c and not c_in_s:
            # identical rings (all vertices on both boundaries)
            if all(_point_in_ring(p, c_ring) == "on" for p in subject) and all(
                _point_in_ring(p, s_ring) == "on" for p in clip
            ):
                s_in_c = c_in_s = True
        if op == "intersection":
            if s_in_c:
                return [s_ring]
            if c_in_s:
                return [c_ring]
            return []
        if op == "union":
            if s_in_c:
                return [c_ring]
            if c_in_s:
                return [s_ring]
            return [s_ring, c_ring]
        # difference
        if s_in_c:
            return []
        if c_in_s:
            return [s_ring, c_ring[::-1]]  # hole
        return [s_ring]

    # entry/exit flags. Base rule: the first crossing along a chain is an
    # ENTRY into the other polygon iff the chain starts outside it.
    # Operation table (Greiner–Hormann): intersection = (base, base),
    # union = (inverted, inverted), difference A-B = (inverted, base).
    def mark(head, other_ring, invert):
        status = _point_in_ring(head.pt, other_ring) == "out"
        if invert:
            status = not status
        v = head
        while True:
            if v.inter:
                v.entry = status
                status = not status
            v = v.next
            if v is head:
                break

    mark(s_head, c_ring, invert=(op in ("union", "difference")))
    mark(c_head, s_ring, invert=(op == "union"))

    unprocessed = [v for v in verts(s_head) if v.inter]
    results = []
    done = set()
    while unprocessed:
        start = unprocessed.pop()
        if id(start) in done:
            continue
        ring = [start.pt]
        cur = start
        while True:
            done.add(id(cur))
            done.add(id(cur.neighbor))
            if cur.entry:
                while True:
                    cur = cur.next
                    ring.append(cur.pt)
                    if cur.inter:
                        break
            else:
                while True:
                    cur = cur.prev
                    ring.append(cur.pt)
                    if cur.inter:
                        break
            cur = cur.neighbor
            if _dist2(cur.pt, start.pt) < _EPS**2:
                break
        if ring[0] != ring[-1]:
            ring.append(ring[0])
        if len(ring) >= 4 and abs(ring_area(ring)) > _EPS**2:
            results.append(ring)
        unprocessed = [v for v in unprocessed if id(v) not in done]
    return results


def _as_polygon_result(rings):
    """Assemble traversal rings into POLYGON/MULTIPOLYGON. Orientation is
    a traversal artifact, not meaning: a ring is a HOLE only if its
    interior lies inside another ring; every other ring is a shell
    (normalized counter-clockwise)."""
    if not rings:
        return ("POLYGON", None)

    def ring_inside(r, other):
        return all(_point_in_ring(p, other) != "out" for p in r) and any(
            _point_in_ring(p, other) == "in" for p in r
        )

    holes, shells = [], []
    for i, r in enumerate(rings):
        depth = sum(1 for j in range(len(rings)) if j != i and ring_inside(r, rings[j]))
        if depth % 2 == 1:
            holes.append(r if ring_area(r) < 0 else r[::-1])
        else:
            shells.append(r if ring_area(r) > 0 else r[::-1])
    if not shells:
        return ("POLYGON", rings)
    polys = []
    for s in shells:
        poly = [s]
        for h in holes:
            if ring_inside(h, s):
                poly.append(h)
        polys.append(poly)
    if len(polys) == 1:
        return ("POLYGON", polys[0])
    return ("MULTIPOLYGON", polys)


def _poly_boolean(a, b, op):
    pa, pb = _polygons_of(a), _polygons_of(b)
    if any(len(poly) > 1 for poly in pa + pb):
        raise ValueError(f"ST_{op.capitalize()}: polygons with holes are not supported")
    rings = []
    if len(pa) == 1 and len(pb) == 1:
        rings = _gh_clip(pa[0][0], pb[0][0], op)
    else:
        raise ValueError(f"ST_{op.capitalize()}: multi-polygon inputs are not supported")
    return _as_polygon_result(rings)


def intersection(a, b):
    da, db = _dim(a), _dim(b)
    if min(da, db) == 0:  # point side
        pts_g, other = (a, b) if da == 0 else (b, a)
        hits = [p for p in _points_of(pts_g) if locate_point(other, p) != "out"]
        if not hits:
            return ("POINT", None) if len(_points_of(pts_g)) <= 1 else ("MULTIPOINT", None)
        return ("POINT", hits[0]) if len(hits) == 1 else ("MULTIPOINT", hits)
    if da == 2 and db == 2:
        return _poly_boolean(a, b, "intersection")
    if da == 1 and db == 1:
        pts = []
        for s1 in _segments_of(a):
            for s2 in _segments_of(b):
                for p in _seg_intersection(*s1, *s2):
                    if not any(_dist2(p, q) < _EPS**2 for q in pts):
                        pts.append(p)
        if not pts:
            return ("POINT", None)
        return ("POINT", pts[0]) if len(pts) == 1 else ("MULTIPOINT", pts)
    # line ∩ polygon: clip each segment to the polygon interior
    line, poly = (a, b) if da == 1 else (b, a)
    pieces = []
    for s in _segments_of(line):
        cuts = [0.0, 1.0]
        L = math.sqrt(_dist2(s[0], s[1]))
        if L == 0:
            continue
        for ps in _segments_of(poly):
            for p in _seg_intersection(*s, *ps):
                cuts.append(math.sqrt(_dist2(s[0], p)) / L)
        cuts = sorted(set(min(1.0, max(0.0, t)) for t in cuts))
        for t0, t1 in zip(cuts, cuts[1:]):
            tm = (t0 + t1) / 2
            mid = (s[0][0] + tm * (s[1][0] - s[0][0]), s[0][1] + tm * (s[1][1] - s[0][1]))
            if locate_point(poly, mid) != "out":
                p0 = (s[0][0] + t0 * (s[1][0] - s[0][0]), s[0][1] + t0 * (s[1][1] - s[0][1]))
                p1 = (s[0][0] + t1 * (s[1][0] - s[0][0]), s[0][1] + t1 * (s[1][1] - s[0][1]))
                pieces.append([p0, p1])
    if not pieces:
        return ("LINESTRING", None)
    merged = _merge_lines(pieces)
    return ("LINESTRING", merged[0]) if len(merged) == 1 else ("MULTILINESTRING", merged)


def _merge_lines(pieces):
    merged = [list(p) for p in pieces]
    changed = True
    while changed:
        changed = False
        for i in range(len(merged)):
            for j in range(len(merged)):
                if i == j:
                    continue
                if merged[i] and merged[j] and _dist2(merged[i][-1], merged[j][0]) < _EPS**2:
                    merged[i] = merged[i] + merged[j][1:]
                    merged[j] = []
                    changed = True
        merged = [m for m in merged if m]
    return merged


def union(a, b):
    da, db = _dim(a), _dim(b)
    if da == 2 and db == 2:
        return _poly_boolean(a, b, "union")
    if da == 0 and db == 0:
        pts = []
        for p in _points_of(a) + _points_of(b):
            if not any(_dist2(p, q) < _EPS**2 for q in pts):
                pts.append(p)
        return ("POINT", pts[0]) if len(pts) == 1 else ("MULTIPOINT", pts)
    if da == 1 and db == 1:
        lines = ([_points_of(a)] if a[0] == "LINESTRING" else list(a[1] or [])) + (
            [_points_of(b)] if b[0] == "LINESTRING" else list(b[1] or [])
        )
        return ("MULTILINESTRING", lines)
    return ("GEOMETRYCOLLECTION", [a, b])


def difference(a, b):
    if _dim(a) == 2 and _dim(b) == 2:
        return _poly_boolean(a, b, "difference")
    if _dim(a) == 0:
        keep = [p for p in _points_of(a) if locate_point(b, p) == "out"]
        if not keep:
            return ("POINT", None)
        return ("POINT", keep[0]) if len(keep) == 1 else ("MULTIPOINT", keep)
    raise ValueError("ST_Difference: unsupported geometry combination")


def sym_difference(a, b):
    if _dim(a) == 0 and _dim(b) == 0:
        pa = _points_of(a)
        pb = _points_of(b)
        keep = [p for p in pa if not any(_dist2(p, q) < _EPS**2 for q in pb)] + [
            q for q in pb if not any(_dist2(q, p) < _EPS**2 for p in pa)
        ]
        if not keep:
            return ("POINT", None)
        return ("POINT", keep[0]) if len(keep) == 1 else ("MULTIPOINT", keep)
    d1 = difference(a, b)
    d2 = difference(b, a)
    parts = [g for g in (d1, d2) if g[1]]
    if not parts:
        return ("POLYGON", None)
    if len(parts) == 1:
        return parts[0]
    polys = [p for g in parts for p in _polygons_of(g)]
    return ("MULTIPOLYGON", polys)


# ----------------------------------------------------------- constructive


def buffer_geometry(g, dist, n=32):
    """Round buffer. Full support for points/multipoints (N-gon circles,
    the dominant reference usage); other inputs raise — the honest gate,
    like the multimodal codec gates."""
    if _dim(g) == 0:
        circles = []
        for (x, y) in _points_of(g):
            ring = [
                (x + dist * math.cos(2 * math.pi * i / n), y + dist * math.sin(2 * math.pi * i / n))
                for i in range(n)
            ]
            ring.append(ring[0])
            circles.append([ring])
        if len(circles) == 1:
            return ("POLYGON", circles[0])
        return ("MULTIPOLYGON", circles)
    raise ValueError("ST_Buffer: only point buffers are supported")


def min_bounding_circle(pts):
    """Welzl's algorithm (randomized expected O(n))."""
    import random

    pts = list(set(pts))
    random.Random(7).shuffle(pts)

    def circle2(a, b):
        return ((a[0] + b[0]) / 2, (a[1] + b[1]) / 2, math.sqrt(_dist2(a, b)) / 2)

    def circle3(a, b, c):
        ax, ay = a
        bx, by = b
        cx, cy = c
        d = 2 * (ax * (by - cy) + bx * (cy - ay) + cx * (ay - by))
        if abs(d) < 1e-30:
            return None
        ux = ((ax**2 + ay**2) * (by - cy) + (bx**2 + by**2) * (cy - ay) + (cx**2 + cy**2) * (ay - by)) / d
        uy = ((ax**2 + ay**2) * (cx - bx) + (bx**2 + by**2) * (ax - cx) + (cx**2 + cy**2) * (bx - ax)) / d
        return (ux, uy, math.sqrt((ax - ux) ** 2 + (ay - uy) ** 2))

    def inside(c, p):
        return c and math.sqrt((p[0] - c[0]) ** 2 + (p[1] - c[1]) ** 2) <= c[2] + 1e-9

    c = None
    for i, p in enumerate(pts):
        if inside(c, p):
            continue
        c = (p[0], p[1], 0.0)
        for j in range(i):
            q = pts[j]
            if inside(c, q):
                continue
            c = circle2(p, q)
            for k in range(j):
                r = pts[k]
                if inside(c, r):
                    continue
                c = circle3(p, q, r) or c
    return c


def line_locate(line_pts, p):
    """Fraction of line length at the point on the line closest to p."""
    total = sum(math.sqrt(_dist2(a, b)) for a, b in zip(line_pts, line_pts[1:]))
    if total == 0:
        return 0.0
    best = (math.inf, 0.0)
    walked = 0.0
    for a, b in zip(line_pts, line_pts[1:]):
        d, q = _pt_seg_dist(p, a, b)
        if d < best[0]:
            best = (d, walked + math.sqrt(_dist2(a, q)))
        walked += math.sqrt(_dist2(a, b))
    return best[1] / total


def line_interpolate(line_pts, frac):
    total = sum(math.sqrt(_dist2(a, b)) for a, b in zip(line_pts, line_pts[1:]))
    target = frac * total
    walked = 0.0
    for a, b in zip(line_pts, line_pts[1:]):
        seg = math.sqrt(_dist2(a, b))
        if walked + seg >= target and seg > 0:
            t = (target - walked) / seg
            return (a[0] + t * (b[0] - a[0]), a[1] + t * (b[1] - a[1]))
        walked += seg
    return line_pts[-1]


# --------------------------------------------------------------- geodesy

EARTH_RADIUS_KM = 6371.01  # GeoFunctions.java GreatCircleDistance


def great_circle_km(lat1, lng1, lat2, lng2):
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp = p2 - p1
    dl = math.radians(lng2 - lng1)
    h = math.sin(dp / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
    return 2 * EARTH_RADIUS_KM * math.asin(math.sqrt(h))


def spherical_distance_m(a, b):
    """ST_Distance on SphericalGeography: meters between two lng/lat points."""
    return great_circle_km(a[1], a[0], b[1], b[0]) * 1000.0


def spherical_area_m2(g):
    """Spherical excess (l'Huilier) polygon area in m² on the sphere."""
    R = EARTH_RADIUS_KM * 1000.0
    total = 0.0
    for poly in _polygons_of(g):
        for k, ring in enumerate(poly):
            pts = [(math.radians(x), math.radians(y)) for x, y in ring[:-1]]
            s = 0.0
            for i in range(len(pts)):
                (l1, p1), (l2, p2) = pts[i], pts[(i + 1) % len(pts)]
                s += (l2 - l1) * (2 + math.sin(p1) + math.sin(p2))
            area_k = abs(s) / 2.0 * R * R
            total += area_k if k == 0 else -area_k
    return total


# ------------------------------------------------------------ DE-9IM
#
# ST_Relate (plugin/trino-geospatial GeoFunctions.java:1951 — JTS
# RelateNG.relate(left, right, pattern)): the dimensionally-extended
# 9-intersection matrix over {Interior, Boundary, Exterior} x
# {Interior, Boundary, Exterior}. Computed by exact classification of a
# finite witness set: every vertex, every edge-edge intersection point,
# one interior point per polygon (0-dim evidence); midpoints of every
# maximal sub-segment between intersection parameters (1-dim evidence —
# an open sub-segment classifies uniformly, so its midpoint witnesses
# the whole piece); and area comparisons of the Greiner-Hormann
# booleans (2-dim evidence). Exterior-Exterior is always 2 for bounded
# geometries.


def _line_boundary_pts(g):
    """Mod-2 boundary of a 1D geometry (OGC rule): endpoints occurring
    an odd number of times; a closed ring has an empty boundary."""
    if g[1] is None:
        return []
    lines = g[1] if g[0] == "MULTILINESTRING" else [g[1]]
    cnt: dict = {}
    for pts in lines:
        if not pts:
            continue
        for p in (tuple(pts[0]), tuple(pts[-1])):
            cnt[p] = cnt.get(p, 0) + 1
    return [p for p, c in cnt.items() if c % 2 == 1]


def _de9im_class(g, p, bpts=None):
    """Classify point p against g as 'I' / 'B' / 'E' (DE-9IM sets)."""
    d = _dim(g)
    if d == 2:
        return {"in": "I", "on": "B", "out": "E"}[locate_point(g, p)]
    if d == 1:
        if bpts is None:
            bpts = _line_boundary_pts(g)
        for q in bpts:
            if _dist2(p, q) < _EPS**2:
                return "B"
        for a, b in _segments_of(g):
            if _point_on_seg(p, a, b):
                return "I"
        return "E"
    for q in _points_of(g):
        if _dist2(p, q) < _EPS**2:
            return "I"  # a point's boundary is empty
    return "E"


def _piece_midpoints(seg, other):
    """Midpoints of the maximal pieces of `seg` delimited by its
    intersections with `other`'s edges: each open piece lies uniformly
    inside/on/outside `other`, so one midpoint witnesses the piece."""
    p1, p2 = seg
    dx, dy = p2[0] - p1[0], p2[1] - p1[1]
    l2 = dx * dx + dy * dy
    if l2 < _EPS**2:
        return []
    ts = {0.0, 1.0}

    def cut(q):
        t = ((q[0] - p1[0]) * dx + (q[1] - p1[1]) * dy) / l2
        if -1e-12 < t < 1 + 1e-12:
            ts.add(min(1.0, max(0.0, t)))

    for so in _segments_of(other):
        for q in _seg_intersection(p1, p2, *so):
            cut(q)
    # split at `other`'s isolated points on this segment too — a piece
    # midpoint must not coincide with a 0-dim feature of `other`
    # (POINT-on-boundary would otherwise read as a 1-dim intersection)
    for q in _points_of(other):
        if _point_on_seg(q, p1, p2):
            cut(q)
    tl = sorted(ts)
    return [
        (p1[0] + dx * ((t0 + t1) / 2), p1[1] + dy * ((t0 + t1) / 2))
        for t0, t1 in zip(tl, tl[1:])
        if t1 - t0 > 1e-12
    ]


_AREA_TOL = 1e-12


def relate_matrix(a, b) -> str:
    """The 9-character DE-9IM matrix of a vs b, row-major
    (II IB IE / BI BB BE / EI EB EE), characters in {F,0,1,2}."""
    if a[0] == "GEOMETRYCOLLECTION" or b[0] == "GEOMETRYCOLLECTION":
        raise ValueError("ST_Relate: GEOMETRYCOLLECTION inputs are not supported")
    dims = {(r, c): -1 for r in "IBE" for c in "IBE"}

    def bump(r, c, d):
        if d > dims[(r, c)]:
            dims[(r, c)] = d

    bump("E", "E", 2)  # bounded geometries: exteriors share the plane
    da, db = _dim(a), _dim(b)
    empty_a = not _points_of(a)
    empty_b = not _points_of(b)
    if empty_a or empty_b:
        # one side has no I/B sets at all: only the other's own features
        # meet this side's exterior.
        if not empty_b:
            bump("E", "I", db)
            bnd = 1 if db == 2 else (0 if db == 1 and _line_boundary_pts(b) else -1)
            if bnd >= 0:
                bump("E", "B", bnd)
        if not empty_a:
            bump("I", "E", da)
            bnd = 1 if da == 2 else (0 if da == 1 and _line_boundary_pts(a) else -1)
            if bnd >= 0:
                bump("B", "E", bnd)
        return "".join(
            "F" if dims[(r, c)] < 0 else str(dims[(r, c)]) for r in "IBE" for c in "IBE"
        )

    ba = _line_boundary_pts(a) if da == 1 else None
    bb = _line_boundary_pts(b) if db == 1 else None

    def ca(p):
        return _de9im_class(a, p, ba)

    def cb(p):
        return _de9im_class(b, p, bb)

    # 0-dim witnesses
    cands = set()
    for p in _points_of(a) + _points_of(b):
        cands.add(tuple(p))
    for sa in _segments_of(a):
        for sb in _segments_of(b):
            for q in _seg_intersection(*sa, *sb):
                cands.add(tuple(q))
    for poly in _polygons_of(a) + _polygons_of(b):
        ip = _interior_point(poly)
        if ip is not None:
            cands.add(tuple(ip))
    for p in cands:
        bump(ca(p), cb(p), 0)

    # 1-dim witnesses: sub-segment midpoints. A polygon's edges are its
    # boundary; a line's open sub-segments are interior.
    locus_a = "B" if da == 2 else "I"
    locus_b = "B" if db == 2 else "I"
    if da >= 1:
        for seg in _segments_of(a):
            for m in _piece_midpoints(seg, b):
                bump(locus_a, cb(m), 1)
    if db >= 1:
        for seg in _segments_of(b):
            for m in _piece_midpoints(seg, a):
                bump(ca(m), locus_b, 1)

    # 2-dim witnesses (areas): only polygon interiors carry dimension 2.
    if da == 2 and db == 2:
        if area(_poly_boolean(a, b, "intersection")) > _AREA_TOL:
            bump("I", "I", 2)
        if area(_poly_boolean(a, b, "difference")) > _AREA_TOL:
            bump("I", "E", 2)
        if area(_poly_boolean(b, a, "difference")) > _AREA_TOL:
            bump("E", "I", 2)
    elif da == 2:
        bump("I", "E", 2)  # a 0/1-dim b cannot cover a's area
    elif db == 2:
        bump("E", "I", 2)

    return "".join(
        "F" if dims[(r, c)] < 0 else str(dims[(r, c)]) for r in "IBE" for c in "IBE"
    )


def relate(a, b, pattern: str) -> bool:
    """DE-9IM pattern match (T = non-empty, F = empty, 0/1/2 exact,
    * = any) — the JTS IntersectionMatrix.matches contract."""
    if len(pattern) != 9:
        raise ValueError("ST_Relate: relation pattern must have 9 characters")
    m = relate_matrix(a, b)
    for want, got in zip(pattern, m):
        w = want.upper() if want in "tf" else want
        if w == "*":
            continue
        if w == "T":
            if got == "F":
                return False
        elif w == "F":
            if got != "F":
                return False
        elif w in "012":
            if got != w:
                return False
        else:
            raise ValueError(f"ST_Relate: invalid pattern character {want!r}")
    return True


# ----------------------------------------- polygonize / voronoi (r5)
#
# ST_Polygonize (docs geospatial.md; JTS Polygonizer role): node the
# input linework, walk the planar graph's faces, emit every bounded
# face as a polygon; negative (clockwise) cycles other than the global
# outer boundary become holes of the smallest containing shell —
# concentric rings yield both the ring-with-hole and the inner polygon,
# matching the JTS behavior. ST_VoronoiPolygons (JTS
# VoronoiDiagramBuilder role): each site's cell is the intersection of
# its dominance half-planes, clipped to the site envelope expanded by
# the larger envelope dimension (the builder's enlarged clip envelope
# policy; exact JTS clip margins are library-internal, so the envelope
# policy is documented here instead). Both are per-row scalar kernels —
# the distributed path for coverage/tessellation work remains the
# grid-bucketed operators.


def _snap9(v: float) -> float:
    return round(v, 9)


def polygonize(geoms):
    """Form polygons from noded linework. Input: iterable of parsed
    geometries (NULLs already dropped by the SQL wrapper)."""
    raw = []
    for g in geoms:
        if g is None or g[1] is None:
            continue
        raw.extend(_segments_of(g))
    # node: split every segment at its intersections with every other
    segs = set()
    for i, (a, b) in enumerate(raw):
        cuts = {0.0, 1.0}
        dx, dy = b[0] - a[0], b[1] - a[1]
        l2 = dx * dx + dy * dy
        if l2 < _EPS**2:
            continue
        for j, (c, d) in enumerate(raw):
            if i == j:
                continue
            for q in _seg_intersection(a, b, c, d):
                t = ((q[0] - a[0]) * dx + (q[1] - a[1]) * dy) / l2
                if -1e-12 < t < 1 + 1e-12:
                    cuts.add(min(1.0, max(0.0, t)))
        ts = sorted(cuts)
        for t0, t1 in zip(ts, ts[1:]):
            if t1 - t0 < 1e-12:
                continue
            p = (_snap9(a[0] + dx * t0), _snap9(a[1] + dy * t0))
            q = (_snap9(a[0] + dx * t1), _snap9(a[1] + dy * t1))
            if p != q:
                segs.add((p, q) if p < q else (q, p))
    if not segs:
        return ("GEOMETRYCOLLECTION", [])
    # directed half-edge structure with angular ordering at each node
    out_edges: dict = {}
    for p, q in segs:
        out_edges.setdefault(p, []).append(q)
        out_edges.setdefault(q, []).append(p)
    for p, nbrs in out_edges.items():
        nbrs.sort(key=lambda q: math.atan2(q[1] - p[1], q[0] - p[0]))
    visited = set()
    cycles = []
    for a, b in segs:
        for start in ((a, b), (b, a)):
            if start in visited:
                continue
            cycle = []
            u, v = start
            while (u, v) not in visited:
                visited.add((u, v))
                cycle.append(u)
                # arrive at v from u: next edge is the clockwise-next
                # neighbor after the reverse direction (standard planar
                # face traversal)
                nbrs = out_edges[v]
                back = math.atan2(u[1] - v[1], u[0] - v[0])
                best = None
                for w in nbrs:
                    ang = math.atan2(w[1] - v[1], w[0] - v[0])
                    delta = (back - ang) % (2 * math.pi)
                    if delta < 1e-12:
                        delta = 2 * math.pi  # the reverse edge itself: last resort
                    if best is None or delta < best[0]:
                        best = (delta, w)
                u, v = v, best[1]
            cycle.append(cycle[0])
            if len(cycle) >= 4:
                cycles.append(cycle)
    shells = [c for c in cycles if ring_area(c) > _EPS**2]
    holes = [c for c in cycles if ring_area(c) < -(_EPS**2)]
    if holes:
        # drop the global outer boundary (largest negative cycle)
        holes.sort(key=lambda c: ring_area(c))
        holes = holes[1:]
    def _ring_key(c):
        return frozenset((_snap9(x), _snap9(y)) for x, y in c)

    polys = []
    for sh in sorted(shells, key=ring_area):
        rings = [sh]
        sh_key = _ring_key(sh)
        for h in holes:
            if _ring_key(h) == sh_key:
                continue  # a face cannot be punctured by its own ring
            ip = _interior_point([list(reversed(h))])
            if ip is not None and _point_in_ring(ip, sh) == "in" and abs(
                ring_area(h)
            ) < ring_area(sh) - _EPS**2:
                # assign to the SMALLEST properly-containing shell only
                # (shells equal to the hole ring do not count — the hole
                # punctures the face AROUND that shell, not the shell)
                h_key = _ring_key(h)
                smaller = any(
                    s is not sh
                    and _ring_key(s) != h_key
                    and ring_area(s) < ring_area(sh)
                    and _point_in_ring(ip, s) == "in"
                    for s in shells
                )
                if not smaller:
                    rings.append(list(reversed(h)))
        polys.append(rings)
    if not polys:
        return ("GEOMETRYCOLLECTION", [])
    if len(polys) == 1:
        return ("POLYGON", polys[0])
    return ("MULTIPOLYGON", polys)


def _clip_halfplane(cell, p, q):
    """Sutherland-Hodgman clip of convex `cell` (point list, open) to the
    half-plane of points at least as близко to p as to q: the dominance
    region {x : |x-p|^2 <= |x-q|^2}, whose boundary is the perpendicular
    bisector of pq."""
    # inside(x) <=> 2*(q-p)·x <= |q|^2 - |p|^2
    ax = 2 * (q[0] - p[0])
    ay = 2 * (q[1] - p[1])
    b = q[0] * q[0] + q[1] * q[1] - p[0] * p[0] - p[1] * p[1]

    def val(x):
        return ax * x[0] + ay * x[1] - b

    out = []
    n = len(cell)
    for i in range(n):
        cur, nxt = cell[i], cell[(i + 1) % n]
        vc, vn = val(cur), val(nxt)
        if vc <= 1e-12:
            out.append(cur)
        if (vc < -1e-12 < vn) or (vn < -1e-12 < vc):
            t = vc / (vc - vn)
            out.append((cur[0] + t * (nxt[0] - cur[0]), cur[1] + t * (nxt[1] - cur[1])))
    return out


def voronoi_polygons(g, tolerance: float = 0.0):
    """Voronoi cells of g's vertices, as a GEOMETRYCOLLECTION of
    polygons in site order (deduped within `tolerance`)."""
    if tolerance < 0 or not math.isfinite(tolerance):
        raise ValueError("ST_VoronoiPolygons: tolerance must be finite and non-negative")
    pts = _points_of(g)
    sites = []
    tol = max(tolerance, 1e-9)
    for p in pts:
        if not any((p[0] - s[0]) ** 2 + (p[1] - s[1]) ** 2 <= tol * tol for s in sites):
            sites.append(p)
    if len(sites) < 2:
        return ("GEOMETRYCOLLECTION", [])
    xs, ys = [s[0] for s in sites], [s[1] for s in sites]
    w, h = max(xs) - min(xs), max(ys) - min(ys)
    m = max(w, h, 1.0)  # enlarged clip envelope (documented policy)
    x0, x1 = min(xs) - m, max(xs) + m
    y0, y1 = min(ys) - m, max(ys) + m
    cells = []
    for p in sites:
        cell = [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
        for q in sites:
            if q is p:
                continue
            cell = _clip_halfplane(cell, p, q)
            if len(cell) < 3:
                break
        if len(cell) >= 3:
            ring = [(_snap9(x), _snap9(y)) for x, y in cell]
            ring.append(ring[0])
            cells.append(("POLYGON", [ring]))
    return ("GEOMETRYCOLLECTION", cells)


# ------------------------------------------------ KML / hadoop shapes
#
# ST_GeomFromKML (GeoFunctions.java:595): minimal KML geometry reader —
# Point / LineString / Polygon (outer+inner boundaries) / MultiGeometry
# over the public KML 2.2 schema, namespace-agnostic. coordinates are
# 'lng,lat[,alt]' whitespace-separated tuples; altitude is dropped (2D
# engine). geometry_from_hadoop_shape (GeoFunctions.java:603): the
# Spatial Framework for Hadoop layout [int32 LE wkid][byte ogc_type]
# [Esri shapefile record], with the record per the public ESRI
# shapefile specification (type int, bbox, part offsets, xy doubles).


def _kml_coords(text):
    pts = []
    for tup in (text or "").split():
        parts = tup.split(",")
        if len(parts) >= 2:
            pts.append((float(parts[0]), float(parts[1])))
    return pts


def from_kml(s: str):
    import xml.etree.ElementTree as ET

    def local(tag):
        return tag.rsplit("}", 1)[-1]

    def conv(el):
        t = local(el.tag)
        if t == "Point":
            pts = _kml_coords(_text_of(el, "coordinates"))
            return ("POINT", pts[0] if pts else None)
        if t == "LineString":
            return ("LINESTRING", _kml_coords(_text_of(el, "coordinates")))
        if t == "LinearRing":
            return ("LINESTRING", _kml_coords(_text_of(el, "coordinates")))
        if t == "Polygon":
            rings = []
            for child in el.iter():
                ct = local(child.tag)
                if ct in ("outerBoundaryIs", "innerBoundaryIs"):
                    ring = _kml_coords(_text_of(child, "coordinates"))
                    if ring:
                        if ct == "outerBoundaryIs":
                            rings.insert(0, _close_ring(ring))
                        else:
                            rings.append(_close_ring(ring))
            return ("POLYGON", rings or None)
        if t == "MultiGeometry":
            parts = [conv(c) for c in el if local(c.tag) in
                     ("Point", "LineString", "Polygon", "MultiGeometry")]
            kinds = {p[0] for p in parts}
            if kinds == {"POINT"}:
                return ("MULTIPOINT", [p[1] for p in parts])
            if kinds == {"LINESTRING"}:
                return ("MULTILINESTRING", [p[1] for p in parts])
            if kinds == {"POLYGON"}:
                return ("MULTIPOLYGON", [p[1] for p in parts])
            return ("GEOMETRYCOLLECTION", parts)
        raise ValueError(f"ST_GeomFromKML: unsupported element <{t}>")

    def _text_of(el, name):
        for child in el.iter():
            if local(child.tag) == name:
                return child.text
        return ""

    root = ET.fromstring(s)
    if local(root.tag) in ("Point", "LineString", "Polygon", "MultiGeometry"):
        return conv(root)
    for el in root.iter():
        if local(el.tag) in ("Point", "LineString", "Polygon", "MultiGeometry"):
            return conv(el)
    raise ValueError("ST_GeomFromKML: no geometry element found")


def from_hadoop_shape(b: bytes):
    b = bytes(b)
    if len(b) <= 5:
        raise ValueError("Hadoop shape input is too short")
    ogc_type = b[4]
    if ogc_type > 6:
        raise ValueError(f"Invalid Hadoop shape type: {ogc_type}")
    rec = b[5:]
    (esri_type,) = struct.unpack_from("<i", rec, 0)
    if esri_type == 0:  # null shape -> empty of the OGC-declared kind
        names = ["GEOMETRYCOLLECTION", "POINT", "LINESTRING", "POLYGON",
                 "MULTIPOINT", "MULTILINESTRING", "MULTIPOLYGON"]
        return (names[ogc_type], None if ogc_type in (1, 2, 3) else [])
    if esri_type == 1:  # Point
        x, y = struct.unpack_from("<dd", rec, 4)
        return ("POINT", (x, y))
    if esri_type == 8:  # MultiPoint: bbox, n, points
        (n,) = struct.unpack_from("<i", rec, 36)
        pts = [struct.unpack_from("<dd", rec, 40 + 16 * i) for i in range(n)]
        return ("MULTIPOINT", [tuple(p) for p in pts])
    if esri_type in (3, 5):  # PolyLine / Polygon: bbox, nparts, npoints
        nparts, npoints = struct.unpack_from("<ii", rec, 36)
        parts = list(struct.unpack_from(f"<{nparts}i", rec, 44))
        base = 44 + 4 * nparts
        pts = [tuple(struct.unpack_from("<dd", rec, base + 16 * i)) for i in range(npoints)]
        bounds = parts + [npoints]
        rings = [pts[bounds[i] : bounds[i + 1]] for i in range(nparts)]
        if esri_type == 3:
            if len(rings) == 1 and ogc_type == 2:
                return ("LINESTRING", rings[0])
            return ("MULTILINESTRING", rings)
        # shapefile polygons: clockwise ring = shell, counterclockwise =
        # hole (spec); holes attach to the preceding shell group
        polys = []
        for ring in rings:
            ring = _close_ring(list(ring))
            if ring_area(ring) < 0 or not polys:  # CW in y-up == shell
                polys.append([ring])
            else:
                polys[-1].append(ring)
        # normalize orientation: kernel stores shells CCW-agnostic WKT
        if len(polys) == 1 and ogc_type == 3:
            return ("POLYGON", polys[0])
        return ("MULTIPOLYGON", polys)
    raise ValueError(f"Unsupported ESRI shape type: {esri_type}")

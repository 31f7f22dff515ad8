"""Verbatim-SQL geospatial surface (geospatial.md parity) through
TrinoEngine.sql — WKT carrier for GEOMETRY, EWKT tag for SPHERICAL
GEOGRAPHY, struct tiles for Bing. Kernel algorithms are pinned in
closed form (areas, the docs' polyline example, Microsoft quadkey
round-trips)."""

from __future__ import annotations

import pytest

from trino_spark.dialect.engine import TrinoEngine

SQ = "ST_GeometryFromText('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))')"
SQ2 = "ST_GeometryFromText('POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))')"


@pytest.fixture(scope="module")
def eng(spark, sf_dir):
    return TrinoEngine(spark, sf_dir)


def _one(eng, sql):
    return eng.sql(sql).collect()[0][0]


def test_constructors_accessors(eng):
    assert _one(eng, "SELECT ST_AsText(ST_Point(1, 2))") == "POINT (1 2)"
    assert _one(eng, "SELECT ST_X(ST_Point(1.5, 2.5))") == 1.5
    assert _one(eng, "SELECT ST_GeometryType(ST_Point(1,2))") == "ST_Point"
    assert _one(eng, f"SELECT ST_NumPoints({SQ})") == 5
    assert _one(eng, "SELECT ST_AsText(ST_StartPoint(ST_GeometryFromText('LINESTRING (1 2, 3 4)')))") == "POINT (1 2)"
    assert _one(eng, "SELECT ST_AsText(ST_PointN(ST_GeometryFromText('LINESTRING (1 2, 3 4)'), 2))") == "POINT (3 4)"
    assert _one(eng, f"SELECT ST_Dimension({SQ})") == 2
    assert _one(eng, f"SELECT ST_IsValid({SQ})") is True
    assert (
        _one(eng, "SELECT geometry_invalid_reason(ST_GeometryFromText('POLYGON ((0 0, 2 2, 2 0, 0 2, 0 0))'))")
        == "Polygon ring self-intersects"
    )


def test_wkb_roundtrip(eng):
    got = _one(eng, "SELECT ST_AsText(ST_GeomFromBinary(ST_AsBinary(ST_Point(1, 2))))")
    assert got == "POINT (1 2)"


def test_measures(eng):
    assert _one(eng, f"SELECT ST_Area({SQ})") == 16.0
    assert _one(eng, "SELECT ST_Length(ST_GeometryFromText('LINESTRING (0 0, 3 4)'))") == 5.0
    assert _one(eng, f"SELECT ST_AsText(ST_Centroid({SQ}))") == "POINT (2 2)"
    assert _one(eng, "SELECT ST_Distance(ST_Point(0,0), ST_Point(3,4))") == 5.0
    assert (
        _one(eng, "SELECT ST_AsText(ST_Envelope(ST_GeometryFromText('LINESTRING (0 0, 2 3)')))")
        == "POLYGON ((0 0, 2 0, 2 3, 0 3, 0 0))"
    )


def test_predicates(eng):
    assert _one(eng, f"SELECT ST_Contains({SQ}, ST_Point(2, 2))") is True
    assert _one(eng, f"SELECT ST_Contains({SQ}, ST_Point(0, 0))") is False  # boundary
    assert _one(eng, f"SELECT ST_Intersects({SQ}, {SQ2})") is True
    assert _one(eng, f"SELECT ST_Overlaps({SQ}, {SQ2})") is True
    assert _one(eng, f"SELECT ST_Disjoint({SQ}, ST_Point(9, 9))") is True
    assert _one(eng, f"SELECT ST_Crosses(ST_GeometryFromText('LINESTRING (-1 2, 5 2)'), {SQ})") is True
    assert (
        _one(eng, f"SELECT ST_Touches({SQ}, ST_GeometryFromText('POLYGON ((4 0, 8 0, 8 4, 4 4, 4 0))'))")
        is True
    )
    assert _one(eng, f"SELECT ST_Equals({SQ}, ST_GeometryFromText('POLYGON ((4 0, 4 4, 0 4, 0 0, 4 0))'))") is True
    assert _one(eng, f"SELECT ST_Within(ST_Point(2, 2), {SQ})") is True


def test_boolean_ops(eng):
    assert _one(eng, f"SELECT ST_Area(ST_Intersection({SQ}, {SQ2}))") == 4.0
    assert _one(eng, f"SELECT ST_Area(ST_Union({SQ}, {SQ2}))") == 28.0
    assert _one(eng, f"SELECT ST_Area(ST_Difference({SQ}, {SQ2}))") == 12.0
    assert _one(eng, f"SELECT ST_Area(ST_SymDifference({SQ}, {SQ2}))") == 24.0
    # hole creation: containment difference -> donut
    donut = _one(
        eng,
        f"SELECT ST_AsText(ST_Difference({SQ}, ST_GeometryFromText('POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))')))",
    )
    assert donut.startswith("POLYGON ((0 0") and "(1 1" in donut


def test_convex_hull_and_simplify(eng):
    got = _one(
        eng,
        "SELECT ST_AsText(ST_ConvexHull(ST_GeometryFromText('MULTIPOINT ((0 0), (4 0), (2 2), (4 4), (0 4))')))",
    )
    assert got == "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    got = _one(
        eng,
        "SELECT ST_AsText(simplify_geometry(ST_GeometryFromText('LINESTRING (0 0, 1 0.01, 2 0, 4 0)'), 0.1))",
    )
    assert got == "LINESTRING (0 0, 4 0)"


def test_spherical_geography(eng):
    # GeoFunctions.java great-circle example: BNA -> LAX = 2886.45 km
    got = _one(eng, "SELECT great_circle_distance(36.12, -86.67, 33.94, -118.40)")
    assert abs(got - 2886.45) < 0.01
    got = _one(
        eng,
        "SELECT ST_Distance(to_spherical_geography(ST_Point(-86.67, 36.12)),"
        " to_spherical_geography(ST_Point(-118.40, 33.94)))",
    )
    assert abs(got / 1000 - 2886.45) < 0.01


def test_geojson_polyline_codecs(eng):
    assert (
        _one(eng, "SELECT ST_AsText(from_geojson_geometry(to_geojson_geometry(ST_Point(1, 2))))")
        == "POINT (1 2)"
    )
    # the polyline spec's published example
    got = _one(
        eng,
        "SELECT to_encoded_polyline(ST_GeometryFromText("
        "'LINESTRING (-120.2 38.5, -120.95 40.7, -126.453 43.252)'))",
    )
    assert got == "_p~iF~ps|U_ulLnnqC_mqNvxq`@"
    back = _one(eng, f"SELECT ST_AsText(from_encoded_polyline('{got}'))")
    assert back.startswith("LINESTRING (-120.2 38.5")


def test_line_referencing(eng):
    assert (
        _one(eng, "SELECT ST_AsText(line_interpolate_point(ST_GeometryFromText('LINESTRING (0 0, 4 0)'), 0.25))")
        == "POINT (1 0)"
    )
    assert _one(eng, "SELECT line_locate_point(ST_GeometryFromText('LINESTRING (0 0, 4 0)'), ST_Point(1, 5))") == 0.25
    got = _one(
        eng,
        "SELECT ST_AsText(geometry_nearest_points(ST_GeometryFromText('LINESTRING (0 0, 4 0)'), ST_Point(2, 3))[0])",
    )
    assert got == "POINT (2 0)"


def test_bing_tiles(eng):
    # Microsoft quadkey spec round-trip
    qk = _one(eng, "SELECT bing_tile_quadkey(bing_tile(85, 88, 8))")
    back = _one(eng, f"SELECT bing_tile_coordinates(bing_tile('{qk}'))")
    assert (back["x"], back["y"]) == (85, 88)
    assert _one(eng, f"SELECT bing_tile_zoom_level(bing_tile('{qk}'))") == 8
    assert _one(eng, "SELECT cardinality(bing_tiles_around(47.6, -122.3, 8))") == 9
    poly = _one(eng, "SELECT bing_tile_polygon(bing_tile(0, 0, 1))")
    assert poly.startswith("POLYGON")
    n = _one(
        eng,
        "SELECT cardinality(geometry_to_bing_tiles(ST_GeometryFromText('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))'), 10))",
    )
    assert n >= 1


def test_geo_aggregates(eng):
    got = _one(
        eng,
        "SELECT ST_Area(geometry_union_agg(g)) FROM (SELECT CASE WHEN x = 0"
        f" THEN {SQ} ELSE {SQ2} END AS g FROM (SELECT explode(sequence(0, 1)) AS x))",
    )
    assert got == 28.0
    got = _one(
        eng,
        "SELECT convex_hull_agg(g) FROM (SELECT ST_Point(CAST(x AS DOUBLE),"
        " CAST(x * x AS DOUBLE)) AS g FROM (SELECT explode(sequence(0, 4)) AS x))",
    )
    assert got.startswith("POLYGON")
    got = _one(
        eng,
        "SELECT geometry_collect_agg(g) FROM (SELECT ST_Point(CAST(x AS DOUBLE), 0.0) AS g"
        " FROM (SELECT explode(sequence(0, 2)) AS x))",
    )
    assert got == "GEOMETRYCOLLECTION (POINT (0 0), POINT (1 0), POINT (2 0))"


def test_rings_and_parts(eng):
    donut = "ST_GeometryFromText('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))')"
    assert _one(eng, f"SELECT ST_NumInteriorRing({donut})") == 1
    assert _one(eng, f"SELECT ST_AsText(ST_ExteriorRing({donut}))").startswith("LINESTRING (0 0")
    assert _one(eng, f"SELECT ST_Area({donut})") == 96.0
    mp = "ST_GeometryFromText('MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5)))')"
    assert _one(eng, f"SELECT ST_NumGeometries({mp})") == 2
    assert _one(eng, f"SELECT ST_AsText(ST_GeometryN({mp}, 2))").startswith("POLYGON ((5 5")


def test_misc_transforms(eng):
    assert _one(eng, "SELECT ST_SRID(ST_Point(1,2))") == 0
    assert _one(eng, "SELECT ST_SRID(to_spherical_geography(ST_Point(1, 2)))") == 4326
    assert _one(eng, "SELECT ST_AsText(ST_Multi(ST_Point(1, 2)))") == "MULTIPOINT ((1 2))"
    assert (
        _one(eng, "SELECT ST_AsText(ST_ReducePrecision(ST_Point(1.23456, 2.34567), 2))")
        == "POINT (1.23 2.35)"
    )
    got = _one(eng, f"SELECT ST_AsText(ST_PointOnSurface({SQ}))")
    assert got.startswith("POINT")
    assert _one(eng, "SELECT ST_Buffer(ST_Point(0, 0), 1.0)").startswith("POLYGON")
    circle = _one(eng, "SELECT ST_MinimumBoundingCircle(ST_GeometryFromText('MULTIPOINT ((0 0), (4 0))'))")
    assert circle.startswith("POLYGON")


class TestRelateDE9IM:
    """ST_Relate (GeoFunctions.java:1951 — JTS RelateNG.relate): full
    DE-9IM matrix + pattern match, round-5 closure of a documented gap."""

    def test_textbook_matrices(self, eng):
        cases = [
            ("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", "2FFF1FFF2"),
            ("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))", "FF2FF1212"),
            ("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", "POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))", "FF2F11212"),
            ("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))", "212101212"),
            ("POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))", "POLYGON ((0 0, 3 0, 3 3, 0 3, 0 0))", "2FF1FF212"),
            ("LINESTRING (0 0, 2 2)", "LINESTRING (0 2, 2 0)", "0F1FF0102"),
            ("POINT (2 1)", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", "F0FFFF212"),
            ("POINT (1 1)", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", "0FFFFF212"),
        ]
        for wa, wb, want in cases:
            got = _one(
                eng,
                f"SELECT st_relate_matrix(ST_GeometryFromText('{wa}'), ST_GeometryFromText('{wb}'))",
            )
            assert got == want, (wa, wb, got, want)

    def test_pattern_match(self, eng):
        within = f"SELECT ST_Relate(ST_GeometryFromText('POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))'), {SQ}, 'T*F**F***')"
        assert _one(eng, within) is True
        crossing = "SELECT ST_Relate(ST_GeometryFromText('LINESTRING (0 0, 2 2)'), ST_GeometryFromText('LINESTRING (0 2, 2 0)'), 'FT*******')"
        assert _one(eng, crossing) is False

    def test_matrix_consistent_with_predicates(self, eng):
        """The OGC predicates ARE DE-9IM patterns — 400 random pairs per
        shape combo must agree (this fuzz found the touches() line-line
        proper-crossing bug the probe version had)."""
        import random

        from trino_spark.functions import geomkernel as K

        rnd = random.Random(515)

        def rand_poly():
            cx, cy = rnd.uniform(0, 10), rnd.uniform(0, 10)
            w, h = rnd.uniform(0.5, 4), rnd.uniform(0.5, 4)
            return ("POLYGON", [[(cx, cy), (cx + w, cy), (cx + w, cy + h), (cx, cy + h), (cx, cy)]])

        def rand_line():
            return ("LINESTRING", [(rnd.uniform(0, 10), rnd.uniform(0, 10)) for _ in range(rnd.randint(2, 4))])

        def rand_point():
            return ("POINT", (rnd.uniform(0, 10), rnd.uniform(0, 10)))

        gens = [rand_poly, rand_line, rand_point]
        n = 0
        for _ in range(400):
            a, b = rnd.choice(gens)(), rnd.choice(gens)()
            m = K.relate_matrix(a, b)
            da, db = K._dim(a), K._dim(b)
            assert K.intersects(a, b) == (not (m[0] == "F" and m[1] == "F" and m[3] == "F" and m[4] == "F"))
            assert K.contains(a, b) == (m[0] != "F" and m[6] == "F" and m[7] == "F")
            assert K.touches(a, b) == (m[0] == "F" and (m[1] != "F" or m[3] != "F" or m[4] != "F"))
            if da < db:
                exp_cross = m[0] != "F" and m[2] != "F"
            elif da > db:
                exp_cross = m[0] != "F" and m[6] != "F"
            elif da == 1:
                exp_cross = m[0] == "0"
            else:
                exp_cross = False
            assert K.crosses(a, b) == exp_cross, (K.to_wkt(a), K.to_wkt(b), m)
            n += 1
        assert n == 400  # vacuity guard


class TestTransformCRS:
    """ST_Transform / ST_TransformXY (GeoFunctions.java:513):
    4326 <-> 3857 <-> UTM-WGS84, SRID via the EWKT prefix."""

    def test_web_mercator_known_point(self, eng):
        out = _one(
            eng,
            "SELECT st_transform(st_setsrid(ST_Point(-122.4194, 37.7749), 4326), 3857)",
        )
        assert out.startswith("SRID=3857;POINT (")
        x, y = (float(v) for v in out.split("(")[1].rstrip(")").split())
        # published spherical-mercator value for San Francisco
        assert abs(x + 13627665.27) < 1.0 and abs(y - 4547675.35) < 1.0

    def test_utm_roundtrip_and_scale(self, eng):
        import math

        from trino_spark.functions.geosql import _from_lnglat

        out = _one(
            eng,
            "SELECT st_transform(st_transform(st_setsrid(ST_Point(-73.9857, 40.7484), 4326), 32618), 4326)",
        )
        x, y = (float(v) for v in out.split("(")[1].rstrip(")").split())
        assert abs(x + 73.9857) < 1e-6 and abs(y - 40.7484) < 1e-6
        # invariant: point-scale at ~51 km from the central meridian must
        # equal k0 * (1 + d^2 / 2R^2) to ~1e-6 (Snyder series check)
        p1 = _from_lnglat(32610, -122.4194, 37.7749)
        p2 = _from_lnglat(32610, -122.4094, 37.7749)
        utm_d = math.hypot(p2[0] - p1[0], p2[1] - p1[1])
        lat = math.radians(37.7749)
        nu = 6378137.0 / math.sqrt(1 - 0.00669437999 * math.sin(lat) ** 2)
        geo_d = math.radians(0.01) * nu * math.cos(lat)
        assert abs(utm_d / geo_d - 0.99963227) < 1e-5

    def test_srid_zero_rejected(self, eng):
        import pytest as _pytest

        with _pytest.raises(Exception, match="SRID 0"):
            eng.sql("SELECT st_transform(ST_Point(1, 2), 3857)").collect()

    def test_high_latitude_transforms(self, eng):
        # Round-6 (ADVICE): the Mercator projection is defined up to ±90°
        # exclusive — latitudes beyond the ±85.06° tile cutoff transform
        # (GeoTools does), only the poles themselves reject.
        out = _one(
            eng,
            "SELECT st_transform(st_setsrid(ST_Point(10, 88.5), 4326), 3857)",
        )
        y = float(out.split("(")[1].rstrip(")").split()[1])
        assert y > 20_000_000  # far above the 85.06° cutoff's ~19.97 Mm
        import pytest as _pytest

        with _pytest.raises(Exception, match="[Ll]atitude"):
            eng.sql(
                "SELECT st_transform(st_setsrid(ST_Point(0, 90), 4326), 3857)"
            ).collect()

    def test_setsrid_srid_roundtrip(self, eng):
        assert _one(eng, "SELECT ST_SRID(ST_SetSRID(ST_Point(1, 2), 32610))") == 32610
        assert _one(eng, "SELECT ST_SRID(ST_Point(1, 2))") == 0


class TestPolygonizeVoronoi:
    """ST_Polygonize / ST_VoronoiPolygons (docs geospatial.md; JTS
    Polygonizer / VoronoiDiagramBuilder roles) — round-5 closures."""

    def test_polygonize_square(self, eng):
        out = _one(
            eng,
            "SELECT ST_Polygonize(ARRAY[ST_LineFromText('LINESTRING (0 0, 1 0, 1 1, 0 1, 0 0)')])",
        )
        assert out.startswith("POLYGON")

    def test_polygonize_grid_and_nulls(self, eng):
        out = _one(
            eng,
            "SELECT ST_Polygonize(ARRAY["
            "ST_LineFromText('LINESTRING (0 0, 2 0)'), NULL,"
            "ST_LineFromText('LINESTRING (0 1, 2 1)'),"
            "ST_LineFromText('LINESTRING (0 2, 2 2)'),"
            "ST_LineFromText('LINESTRING (0 0, 0 2)'),"
            "ST_LineFromText('LINESTRING (1 0, 1 2)'),"
            "ST_LineFromText('LINESTRING (2 0, 2 2)')])",
        )
        from trino_spark.functions import geomkernel as K

        g = K.parse_wkt(out)
        assert g[0] == "MULTIPOLYGON" and len(g[1]) == 4
        assert abs(K.area(g) - 4.0) < 1e-9  # cells tile the 2x2 square

    def test_polygonize_concentric_holes(self, eng):
        out = _one(
            eng,
            "SELECT ST_Polygonize(ARRAY["
            "ST_LineFromText('LINESTRING (0 0, 4 0, 4 4, 0 4, 0 0)'),"
            "ST_LineFromText('LINESTRING (1 1, 3 1, 3 3, 1 3, 1 1)')])",
        )
        from trino_spark.functions import geomkernel as K

        g = K.parse_wkt(out)
        # JTS shape: the annulus (shell with hole) AND the inner square
        areas = sorted(K.area(("POLYGON", poly)) for poly in g[1])
        assert areas == [4.0, 12.0]

    def test_voronoi_properties(self, eng):
        """Site-in-cell + tiling: the defining properties of the diagram
        (robust to clip-envelope policy differences vs JTS)."""
        import random

        from trino_spark.functions import geomkernel as K

        rnd = random.Random(55)
        sites = [(rnd.uniform(0, 10), rnd.uniform(0, 10)) for _ in range(12)]
        g = ("MULTIPOINT", sites)
        vc = K.voronoi_polygons(g)
        assert len(vc[1]) == len(sites)
        total = 0.0
        for site, cell in zip(sites, vc[1]):
            assert K._point_in_polygon(site, cell[1]) in ("in", "on")
            total += K.area(cell)
        xs, ys = [s[0] for s in sites], [s[1] for s in sites]
        m = max(max(xs) - min(xs), max(ys) - min(ys), 1.0)
        env_area = (max(xs) - min(xs) + 2 * m) * (max(ys) - min(ys) + 2 * m)
        assert abs(total - env_area) < 1e-6 * env_area  # cells tile the clip env
        # nearest-site property on random probes
        for _ in range(200):
            p = (rnd.uniform(min(xs), max(xs)), rnd.uniform(min(ys), max(ys)))
            best = min(range(len(sites)), key=lambda i: (p[0] - sites[i][0]) ** 2 + (p[1] - sites[i][1]) ** 2)
            inside = [i for i, cell in enumerate(vc[1]) if K._point_in_polygon(p, cell[1]) == "in"]
            if inside:  # probes on cell borders legitimately match none
                assert inside == [best]

    def test_voronoi_tolerance_and_errors(self, eng):
        out = _one(
            eng,
            "SELECT ST_VoronoiPolygons(ST_GeometryFromText('MULTIPOINT ((0 0), (2 0), (0.1 0))'), 0.5)",
        )
        from trino_spark.functions import geomkernel as K

        assert len(K.parse_wkt(out)[1]) == 2  # (0.1 0) snapped into (0 0)
        import pytest as _pytest

        with _pytest.raises(Exception, match="tolerance"):
            eng.sql(
                "SELECT ST_VoronoiPolygons(ST_GeometryFromText('MULTIPOINT ((0 0), (2 0))'), -1.0)"
            ).collect()


class TestBinaryCodecs:
    """EWKB / KML / hadoop-shape codecs (round 5): public formats —
    PostGIS EWKB (verified byte-identical to the canonical PostGIS hex
    for SRID=4326 POINT), KML 2.2, ESRI shapefile records."""

    def test_ewkb_postgis_canonical_bytes(self, eng):
        got = _one(eng, "SELECT hex(ST_AsEWKB(ST_SetSRID(ST_Point(1, 2), 4326)))")
        # the exact bytes PostGIS emits for SRID=4326;POINT(1 2)
        assert got == "0101000020E6100000000000000000F03F0000000000000040"
        rt = _one(
            eng,
            "SELECT ST_AsText(ST_GeomFromBinary(ST_AsEWKB(ST_SetSRID("
            f"ST_GeometryFromText('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))'), 3857))))",
        )
        assert rt == "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"

    def test_kml_polygon_with_hole_and_namespace(self, eng):
        kml = (
            "<Polygon><outerBoundaryIs><LinearRing><coordinates>"
            "0,0 4,0 4,4 0,4 0,0</coordinates></LinearRing></outerBoundaryIs>"
            "<innerBoundaryIs><LinearRing><coordinates>1,1 2,1 2,2 1,2 1,1"
            "</coordinates></LinearRing></innerBoundaryIs></Polygon>"
        )
        out = _one(eng, f"SELECT ST_GeomFromKML('{kml}')")
        assert out == "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))"
        ns = (
            '<kml xmlns="http://www.opengis.net/kml/2.2"><Placemark>'
            "<Point><coordinates>-122.4,37.8,15</coordinates></Point>"
            "</Placemark></kml>"
        )
        assert _one(eng, f"SELECT ST_GeomFromKML('{ns}')") == "POINT (-122.4 37.8)"

    def test_hadoop_shape_point_and_polyline(self, eng):
        import struct

        got = _one(
            eng,
            "SELECT geometry_from_hadoop_shape(from_hex("
            "'000000000101000000000000000000F03F0000000000000040'))",
        )
        assert got == "POINT (1 2)"
        pts = [(0.0, 0.0), (1.0, 1.0), (5.0, 5.0), (6.0, 6.0)]
        rec = (
            struct.pack("<i", 4326)
            + bytes([5])
            + struct.pack("<i", 3)
            + struct.pack("<4d", 0, 0, 6, 6)
            + struct.pack("<ii", 2, 4)
            + struct.pack("<2i", 0, 2)
            + b"".join(struct.pack("<dd", *p) for p in pts)
        )
        got = _one(
            eng, f"SELECT geometry_from_hadoop_shape(from_hex('{rec.hex()}'))"
        )
        assert got == "SRID=4326;MULTILINESTRING ((0 0, 1 1), (5 5, 6 6))"


class TestSpatialPartitioning:
    """spatial_partitioning / spatial_partitions (plugin/trino-geospatial
    SpatialPartitioningAggregateFunction; JSON KDB tree) — round 5.
    The grid-bucketed join remains the engine's default distributed
    partitioner; these names serve verbatim reference SQL."""

    def test_kdb_tree_and_lookup(self, eng):
        row = eng.sql(
            "WITH pts AS (SELECT ST_Point(CAST(id % 37 AS DOUBLE),"
            " CAST(id % 23 AS DOUBLE)) AS g"
            " FROM (SELECT explode(sequence(1, 500)) AS id)),"
            " tree AS (SELECT spatial_partitioning_n(g, 8) AS t FROM pts)"
            " SELECT size(spatial_partitions(t, ST_Point(5.0, 5.0))) AS one_cell,"
            " size(spatial_partitions(t, ST_GeometryFromText("
            "'POLYGON ((0 0, 37 0, 37 23, 0 23, 0 0))'))) AS all_cells,"
            " spatial_partitions(t, ST_GeometryFromText('POINT EMPTY'))"
            " IS NULL AS empty_null,"
            " size(spatial_partitions(t, ST_Point(-999.0, -999.0))) AS outside"
            " FROM tree"
        ).collect()[0]
        assert row.one_cell == 1  # a point lands in exactly one leaf
        assert row.all_cells == 8  # the full extent touches every leaf
        assert row.empty_null  # docs: NULL for empty geometry
        assert row.outside == 1  # edge leaves extend to infinity

    def test_bounded_sample_plan(self, eng):
        """Round-6 (VERDICT): the global aggregate must consume a bounded
        bottom-k hash sample — TakeOrderedAndProject (per-partition top-k
        + bounded merge) in the plan, never the full geometry column
        shuffled to one task."""
        df = eng.sql(
            "SELECT spatial_partitioning_n(g, 8) AS t FROM"
            " (SELECT ST_Point(CAST(id % 37 AS DOUBLE),"
            " CAST(id % 23 AS DOUBLE)) AS g"
            " FROM (SELECT explode(sequence(1, 500)) AS id))"
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        tree = df.collect()[0].t
        assert tree and "root" in tree

    def test_raw_session_call_raises_with_pointer(self, eng, spark):
        # r7 (VERDICT): the PUBLIC session registration must not silently
        # ship the full geometry column to one task — raw spark.sql
        # callers get an error pointing at the bounded paths; the dialect
        # renames calls to the __*_sampled registrations.
        import pytest as _pytest

        from trino_spark.functions.registry import register_functions

        # raw spark.sql bypasses the dialect, which registers bundle
        # functions on first reference
        register_functions(["spatial_partitioning_n", "st_point"], spark)
        with _pytest.raises(Exception, match="TrinoEngine|pre-samples"):
            spark.sql(
                "SELECT spatial_partitioning_n(g, 8) FROM"
                " (SELECT ST_Point(CAST(id AS DOUBLE), CAST(id AS DOUBLE)) AS g"
                "  FROM (SELECT explode(sequence(1, 50)) AS id))"
            ).collect()

    def test_bounded_dataframe_api(self, eng, spark, sf_dir):
        # r7: the DataFrame-API twin of the dialect pre-sample — bounded
        # bottom-k reservoir (TakeOrderedAndProject when input size is
        # unknown) feeding the single-group build.
        from pyspark.sql import functions as F

        from trino_spark.functions.geosql import spatial_partitioning_bounded
        from trino_spark.functions.registry import register_functions

        register_functions(["st_point"], spark)  # selectExpr bypasses the dialect
        pts = (
            spark.read.parquet(f"{sf_dir}/nation.parquet")
            .selectExpr(
                "ST_Point(CAST(n_nationkey AS DOUBLE),"
                " CAST(n_regionkey AS DOUBLE)) AS g"
            )
        )
        df = spatial_partitioning_bounded(pts, "g", n=4)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        assert "rangepartitioning" not in plan  # no global sort
        tree = df.collect()[0].tree
        assert tree and "root" in tree

    def test_sample_deterministic_and_complete_under_10k(self, eng):
        # 500 rows < 10000: every center participates, so the tree is
        # identical to the unsampled build; repeated runs agree.
        q = (
            "WITH pts AS (SELECT ST_Point(CAST(id % 37 AS DOUBLE),"
            " CAST(id % 23 AS DOUBLE)) AS g"
            " FROM (SELECT explode(sequence(1, 500)) AS id))"
            " SELECT spatial_partitioning_n(g, 8) AS t FROM pts"
        )
        t1 = eng.sql(q).collect()[0].t
        t2 = eng.sql(q).collect()[0].t
        assert t1 == t2

    def test_distance_expands_coverage(self, eng):
        row = eng.sql(
            "WITH pts AS (SELECT ST_Point(CAST(id % 37 AS DOUBLE),"
            " CAST(id % 23 AS DOUBLE)) AS g"
            " FROM (SELECT explode(sequence(1, 500)) AS id)),"
            " tree AS (SELECT spatial_partitioning_n(g, 8) AS t FROM pts)"
            " SELECT size(spatial_partitions(t, ST_Point(18.0, 11.0), 40.0)) AS wide"
            " FROM tree"
        ).collect()[0]
        assert row.wide == 8  # radius covers the whole extent

    def test_hadoop_shape_polygon_shells_and_holes(self, eng):
        """Shapefile ring convention: clockwise (y-up) rings are shells,
        counterclockwise rings are holes attached to the preceding
        shell; two CW rings form a MULTIPOLYGON."""
        import struct

        from trino_spark.functions import geomkernel as K

        outer = [(0, 0), (0, 4), (4, 4), (4, 0), (0, 0)]  # CW
        hole = [(1, 1), (2, 1), (2, 2), (1, 2), (1, 1)]  # CCW
        pts = outer + hole
        rec = (
            struct.pack("<i", 0)
            + bytes([3])
            + struct.pack("<i", 5)
            + struct.pack("<4d", 0, 0, 4, 4)
            + struct.pack("<ii", 2, len(pts))
            + struct.pack("<2i", 0, len(outer))
            + b"".join(struct.pack("<dd", *p) for p in pts)
        )
        got = _one(eng, f"SELECT geometry_from_hadoop_shape(from_hex('{rec.hex()}'))")
        g = K.parse_wkt(got)
        assert g[0] == "POLYGON" and len(g[1]) == 2
        assert abs(K.area(g) - 15.0) < 1e-9

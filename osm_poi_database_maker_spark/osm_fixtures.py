"""Deterministic OSM-shaped fixtures (FIXTURES.md Part B).

The driver's testdata has no OSM-shaped tables, so the reference-parity
pipeline is exercised on fixtures defined HERE, once, as plain Python
rows — materialized to Spark via ``createDataFrame`` and to the DuckDB
oracle via generated ``VALUES`` SQL. Every edge case called out in
FIXTURES.md Part B appears: empty tags, missing name, exclude-superset
full/partial, multi-TOI-key match, threshold straddlers, ``;`` values,
in_wiki=false, top-100 rank cut, trim keys, escaping, invalid geometry,
duplicate ids, way-id/node-id collision, area-threshold straddlers.

Tags are carried as canonical JSON text (sorted keys) so both engines
parse the identical representation.
"""

from __future__ import annotations

import datetime as _dt
import json

from pyspark.sql import DataFrame, SparkSession

_TS = _dt.datetime(2023, 5, 1, 10, 0, 0)


def _ts(i: int) -> _dt.datetime:
    return _TS + _dt.timedelta(minutes=i)


def _tags(d: dict[str, str]) -> str:
    return json.dumps(d, sort_keys=True)


# --------------------------------------------------------------------------
# taginfo dimension (reference filter.py:235-247 shape)
# --------------------------------------------------------------------------

def _build_taginfo() -> list[tuple[str, str, int, bool]]:
    rows: list[tuple[str, str, int, bool]] = [
        ("amenity", "cafe", 5000, True),
        ("amenity", "bar;pub", 6000, True),   # ';' in value -> dropped at build
        ("amenity", "nowiki", 4000, False),   # in_wiki false -> dropped at build
        ("amenity", "edge", 1000, True),      # == threshold -> dropped by > test
        ("amenity", "rare", 999, True),       # below threshold
        ("shop", "bakery", 1500, True),
        ("shop", "florist", 1200, True),
        ("shop", "seldom", 800, True),
        ("tourism", "hotel", 2000, True),
    ]
    # 110 generic amenity values: counts 3000, 2975, ... — more than 100
    # values for the key, so the top-100 rank cut actually bites.
    for i in range(110):
        rows.append(("amenity", f"v{i:03d}", 3000 - 25 * i, i % 7 != 3))
    return rows


TAGINFO = _build_taginfo()

# --------------------------------------------------------------------------
# osm_nodes (id, version, user_id, tstamp, changeset_id, tags, lon, lat,
#            geom_valid)
# --------------------------------------------------------------------------

NODES: list[tuple] = [
    # plain TOI matches
    (1, 1, 101, _ts(0), 9001, {"amenity": "cafe", "name": "Cafe A"}, 5.10, 52.10, True),
    (2, 1, 101, _ts(1), 9001, {"shop": "bakery", "name": "Bakery B"}, 5.11, 52.11, True),
    (3, 2, 102, _ts(2), 9002, {"tourism": "hotel", "name": "Hotel C"}, 5.12, 52.12, True),
    # multi-TOI-key match -> must emit exactly ONE row (filter.py:199,211)
    (4, 1, 102, _ts(3), 9002, {"amenity": "cafe", "shop": "bakery", "name": "Both D"}, 5.13, 52.13, True),
    # empty tags -> dropped (filter.py:165-166)
    (5, 1, 103, _ts(4), 9003, {}, 5.14, 52.14, True),
    # tags but no TOI match -> dropped
    (6, 1, 103, _ts(5), 9003, {"highway": "bus_stop", "name": "Stop F"}, 5.15, 52.15, True),
    # TOI value below threshold -> dropped (filter.py:176-180)
    (7, 1, 104, _ts(6), 9004, {"amenity": "rare", "name": "Rare G"}, 5.16, 52.16, True),
    # TOI value at threshold (count == 1000, predicate is >) -> dropped
    (8, 1, 104, _ts(7), 9004, {"amenity": "edge", "name": "Edge H"}, 5.17, 52.17, True),
    # in_wiki=false value -> not in dim -> dropped
    (9, 1, 105, _ts(8), 9005, {"amenity": "nowiki", "name": "NoWiki I"}, 5.18, 52.18, True),
    # exclude-superset full match -> dropped (filter.py:170-173)
    (10, 1, 105, _ts(9), 9005, {"amenity": "cafe", "access": "private", "name": "Priv J"}, 5.19, 52.19, True),
    # exclude partial (only one of the pair) -> KEPT
    (11, 1, 106, _ts(10), 9006, {"amenity": "cafe", "access": "public", "name": "Pub K"}, 5.20, 52.20, True),
    # no name tag (kept when SKIP_NO_NAME=False, the default)
    (12, 1, 106, _ts(11), 9006, {"amenity": "cafe"}, 5.21, 52.21, True),
    # trim keys stripped from output map (filter.py:109)
    (13, 1, 107, _ts(12), 9007, {"amenity": "cafe", "note": "internal", "fixme": "check", "name": "Trim M"}, 5.22, 52.22, True),
    # escaping: backslash, quote, newline, tab in values (filter.py:92-100)
    (14, 1, 107, _ts(13), 9007, {"amenity": "cafe", "name": 'Back\\slash "Quote"', "desc": "line1\nline2\tend"}, 5.23, 52.23, True),
    # invalid geometry -> NULL geom -> quarantined (filter.py:127,185-190)
    (15, 1, 108, _ts(14), 9008, {"amenity": "cafe", "name": "BadGeom O"}, None, None, False),
    # duplicate id: v2 supersedes v1 (idempotent-write rule, filter.py:58-64)
    (16, 1, 108, _ts(15), 9008, {"amenity": "cafe", "name": "Dup v1"}, 5.24, 52.24, True),
    (16, 2, 108, _ts(16), 9008, {"amenity": "cafe", "name": "Dup v2"}, 5.25, 52.25, True),
    # id colliding with a way id (disjoint id spaces preserved by osm_type)
    (100, 1, 109, _ts(17), 9009, {"shop": "florist", "name": "Collide Q"}, 5.26, 52.26, True),
    # generic TOI value within top-100 and above threshold
    (17, 1, 109, _ts(18), 9009, {"amenity": "v012", "name": "Generic R"}, 5.27, 52.27, True),
    # generic TOI value cut by the top-100 rank (v105 -> not in dim)
    (18, 1, 110, _ts(19), 9010, {"amenity": "v105", "name": "Cut S"}, 5.28, 52.28, True),
]

# --------------------------------------------------------------------------
# osm_ways: closed rings near (5.0 E, 52.0 N); the ring is stored inline
# (array of lon/lat) plus as way_nodes/nodes rows for the assembly test.
# ~30 m square ≈ 900 m² (≤ 20000 -> centroid-converted);
# ~1000 m square ≈ 1e6 m² (> 20000 -> stays a polygon).
# --------------------------------------------------------------------------

_DLAT_30M = 0.00027  # ~30 m of latitude
_DLON_30M = 0.00044  # ~30 m of longitude at 52 N
_DLAT_1KM = 0.00899
_DLON_1KM = 0.01461


def _square(lon0: float, lat0: float, dlon: float, dlat: float) -> list[tuple[float, float]]:
    return [
        (lon0, lat0),
        (lon0 + dlon, lat0),
        (lon0 + dlon, lat0 + dlat),
        (lon0, lat0 + dlat),
        (lon0, lat0),
    ]


WAYS: list[tuple] = [
    # small square -> centroid conversion applies
    (100, 1, 201, _ts(30), 9101, {"amenity": "cafe", "name": "Small W1"},
     _square(5.300, 52.300, _DLON_30M, _DLAT_30M), True),
    # large square -> stays a polygon
    (101, 1, 201, _ts(31), 9101, {"shop": "bakery", "name": "Large W2"},
     _square(5.400, 52.400, _DLON_1KM, _DLAT_1KM), True),
    # filtered out by TOI (no match)
    (102, 1, 202, _ts(32), 9102, {"landuse": "farmland", "name": "Farm W3"},
     _square(5.500, 52.500, _DLON_30M, _DLAT_30M), True),
    # excluded by superset
    (103, 1, 202, _ts(33), 9102, {"amenity": "cafe", "access": "private", "name": "Priv W4"},
     _square(5.600, 52.600, _DLON_30M, _DLAT_30M), True),
    # invalid geometry -> quarantined
    (104, 1, 203, _ts(34), 9103, {"amenity": "cafe", "name": "BadGeom W5"}, None, False),
    # empty tags -> dropped
    (105, 1, 203, _ts(35), 9103, {}, _square(5.700, 52.700, _DLON_30M, _DLAT_30M), True),
    # second small square, different TOI key
    (106, 1, 204, _ts(36), 9104, {"tourism": "hotel", "name": "Small W6"},
     _square(5.800, 52.800, _DLON_30M, _DLAT_30M), True),
]

# --------------------------------------------------------------------------
# multipolygon relations (reference filter.py:128-144 via osmium areas;
# membership shape schema.sql:112-122). MEMBER_WAYS are untagged geometry
# carriers; rings are stored as drawn (all CCW) — assembly must normalize
# winding by role, never trust input orientation.
# --------------------------------------------------------------------------

MEMBER_WAYS: list[tuple[int, list[tuple[float, float]]]] = [
    # R500 donut: 150 m outer (~22151 m² > 20000) with 60 m hole
    # (~3544 m²) -> net ~18607 m² <= 20000: converts to centroid ONLY
    # when holes are subtracted — the exact case a single-ring engine
    # gets wrong.
    (200, _square(5.900, 52.900, _DLON_30M * 5, _DLAT_30M * 5)),
    (201, _square(5.9008, 52.9004, _DLON_30M * 2, _DLAT_30M * 2)),
    # R501: 150 m outer with 30 m hole -> net ~21704 m² > 20000: stays
    # a polygon (the hole is too small to flip the threshold).
    (202, _square(6.000, 52.000, _DLON_30M * 5, _DLAT_30M * 5)),
    (203, _square(6.0008, 52.0004, _DLON_30M, _DLAT_30M)),
    # R502 two-outer multipolygon: disjoint 30 m squares, net ~1805 m².
    # 205 is stored CW (reversed) to exercise outer-winding normalization.
    (204, _square(6.100, 52.100, _DLON_30M, _DLAT_30M)),
    (205, list(reversed(_square(6.102, 52.102, _DLON_30M, _DLAT_30M)))),
    # shared member of the quarantine/cascade relations
    (206, _square(6.200, 52.200, _DLON_30M, _DLAT_30M)),
    # OPEN way (not closed) -> R504 quarantined with reason open_ring
    (207, [(6.300, 52.300), (6.3004, 52.300), (6.3004, 52.3003)]),
    # member of the id-collision relation (relation id 100 == node id 100
    # and way id 100 — the reference's orig_id() collision hazard)
    (208, _square(6.400, 52.400, _DLON_30M, _DLAT_30M)),
    # R507 stitch donut: the 150 m outer ring split into two OPEN halves
    # (211 stored REVERSED — stitching must flip it) + a closed 60 m
    # hole; net area ~18607 m² <= 20000 only after both stitching AND
    # hole subtraction succeed.
    (210, [(5.950, 52.950), (5.950 + _DLON_30M * 5, 52.950),
           (5.950 + _DLON_30M * 5, 52.950 + _DLAT_30M * 5)]),
    (211, [(5.950, 52.950), (5.950, 52.950 + _DLAT_30M * 5),
           (5.950 + _DLON_30M * 5, 52.950 + _DLAT_30M * 5)]),
    (212, _square(5.9508, 52.9504, _DLON_30M * 2, _DLAT_30M * 2)),
    # R508 gap: two open segments that do NOT share an endpoint ->
    # unstitchable (an endpoint of degree 1), quarantined
    (213, [(6.500, 52.500), (6.5004, 52.500), (6.5004, 52.5003)]),
    (214, [(6.5009, 52.5008), (6.500, 52.5003)]),
]

# (id, version, user_id, tstamp, changeset_id, tags)
RELATIONS: list[tuple] = [
    (500, 1, 301, _ts(50), 9201, {"type": "multipolygon", "amenity": "cafe", "name": "Donut R1"}),
    (501, 1, 301, _ts(51), 9201, {"type": "multipolygon", "shop": "bakery", "name": "SmallHole R2"}),
    # duplicate id: v2 supersedes v1 (same idempotent-write rule as nodes)
    (502, 1, 302, _ts(52), 9202, {"type": "multipolygon", "tourism": "hotel", "name": "TwoOuter R3"}),
    (502, 2, 302, _ts(53), 9202, {"type": "multipolygon", "tourism": "hotel", "name": "TwoOuter R3v2"}),
    # missing member way 999 -> quarantined (missing_member)
    (503, 1, 302, _ts(54), 9202, {"type": "multipolygon", "amenity": "cafe", "name": "Missing R4"}),
    # open member ring -> quarantined (open_ring)
    (504, 1, 303, _ts(55), 9203, {"type": "multipolygon", "amenity": "cafe", "name": "Open R5"}),
    # id collides with way 100 AND node 100 (disjoint OSM id spaces)
    (100, 1, 303, _ts(56), 9203, {"type": "multipolygon", "amenity": "cafe", "name": "Collide R6"}),
    # excluded by superset -> dropped by the cascade before assembly
    (505, 1, 304, _ts(57), 9204, {"type": "multipolygon", "amenity": "cafe", "access": "private", "name": "Priv R7"}),
    # no TOI match -> dropped
    (506, 1, 304, _ts(58), 9204, {"type": "multipolygon", "landuse": "forest", "name": "Forest R8"}),
    # outer ring arrives as two open halves -> STITCHED, then the hole
    # flips it under the centroid threshold
    (507, 1, 305, _ts(59), 9205, {"type": "multipolygon", "amenity": "cafe", "name": "Stitch R9"}),
    # unstitchable gap -> quarantined (open_ring)
    (508, 1, 305, _ts(60), 9205, {"type": "multipolygon", "shop": "bakery", "name": "Gap R10"}),
]

# (relation_id, member_id, member_type, member_role, sequence_id) —
# exactly the reference's relation_members shape (schema.sql:112-122).
# R500 carries a type-'N' label member that area assembly must ignore.
RELATION_MEMBERS: list[tuple[int, int, str, str, int]] = [
    (500, 200, "W", "outer", 0),
    (500, 201, "W", "inner", 1),
    (500, 1, "N", "label", 2),
    (501, 202, "W", "outer", 0),
    (501, 203, "W", "inner", 1),
    (502, 204, "W", "outer", 0),
    (502, 205, "W", "outer", 1),
    (503, 206, "W", "outer", 0),
    (503, 999, "W", "outer", 1),
    (504, 207, "W", "outer", 0),
    (100, 208, "W", "outer", 0),
    (505, 206, "W", "outer", 0),
    (506, 206, "W", "outer", 0),
    (507, 210, "W", "outer", 0),
    (507, 211, "W", "outer", 1),
    (507, 212, "W", "inner", 2),
    (508, 213, "W", "outer", 0),
    (508, 214, "W", "outer", 1),
]

EXCLUDE = (("amenity=cafe", "access=private"),)
TRIM = ("note", "fixme")
MIN_OCCURRENCES = 1000
TOI_TOP = 100

_NODE_SCHEMA = (
    "id long, version int, user_id int, tstamp timestamp, changeset_id long, "
    "tags map<string,string>, lon double, lat double, geom_valid boolean"
)
_WAY_SCHEMA = (
    "id long, version int, user_id int, tstamp timestamp, changeset_id long, "
    "tags map<string,string>, ring array<struct<lon: double, lat: double>>, "
    "geom_valid boolean"
)


def nodes_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(NODES, _NODE_SCHEMA)


def ways_df(spark: SparkSession) -> DataFrame:
    rows = [
        (i, v, u, t, c, tags, [{"lon": x, "lat": y} for x, y in ring] if ring else None, g)
        for (i, v, u, t, c, tags, ring, g) in WAYS
    ]
    return spark.createDataFrame(rows, _WAY_SCHEMA)


def taginfo_df(spark: SparkSession) -> DataFrame:
    """TAGINFO as an inline ``VALUES`` table, i.e. a LocalRelation: the
    TOI dimension's source needs no Python RDD job (``createDataFrame``
    of a list plans as a Python-fed ``Scan ExistingRDD``)."""

    def lit(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

    rows = ", ".join(f"({lit(k)}, {lit(v)}, {c}L, {w})" for (k, v, c, w) in TAGINFO)
    return spark.sql(f"SELECT * FROM VALUES {rows} AS t(key, value, count, in_wiki)")


_RELATION_SCHEMA = (
    "id long, version int, user_id int, tstamp timestamp, changeset_id long, "
    "tags map<string,string>"
)


def relations_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(RELATIONS, _RELATION_SCHEMA)


def relation_members_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        RELATION_MEMBERS,
        "relation_id long, member_id long, member_type string, "
        "member_role string, sequence_id int",
    )


def member_way_rings_df(spark: SparkSession) -> DataFrame:
    """Member-way geometry as already-assembled rings (way_id, ring,
    is_closed) — the shape :func:`geo.assemble_rings` produces; the
    assembly itself is oracle-covered by osm_way_assembly."""
    rows = [
        (
            wid,
            [{"lon": x, "lat": y} for x, y in ring],
            len(ring) >= 4 and ring[0] == ring[-1],
        )
        for wid, ring in MEMBER_WAYS
    ]
    return spark.createDataFrame(
        rows,
        "way_id long, ring array<struct<lon: double, lat: double>>, is_closed boolean",
    )


def way_nodes_and_nodes_df(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """Explode WAYS rings into way_nodes(way_id, node_id, sequence_id) +
    nodes(id, lon, lat) for the relational assembly test (O10/O17).
    Consecutive node ids from 1000; the closing vertex reuses the first id.
    """
    wn, nd = _way_nodes_rows()
    return (
        spark.createDataFrame(wn, "way_id long, node_id long, sequence_id int"),
        spark.createDataFrame(nd, "id long, lon double, lat double"),
    )


# --------------------------------------------------------------------------
# DuckDB VALUES renderers (oracle side)
# --------------------------------------------------------------------------

def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _sql_dbl(x: float | None) -> str:
    # bare numeric literals parse as DECIMAL in DuckDB — force DOUBLE so
    # both engines compute on identical IEEE-754 values
    return "CAST(NULL AS DOUBLE)" if x is None else f"CAST({x!r} AS DOUBLE)"


def nodes_values_sql() -> str:
    rows = []
    for (i, v, u, t, c, tags, lon, lat, g) in NODES:
        rows.append(
            f"({i}, {v}, {u}, TIMESTAMP '{t}', {c}, {_sql_str(_tags(tags))}, "
            f"{_sql_dbl(lon)}, {_sql_dbl(lat)}, {g})"
        )
    return (
        "SELECT * FROM (VALUES\n  " + ",\n  ".join(rows) + "\n) AS t(id, version, "
        "user_id, tstamp, changeset_id, tags_json, lon, lat, geom_valid)"
    )


def ways_values_sql() -> str:
    rows = []
    for (i, v, u, t, c, tags, ring, g) in WAYS:
        if ring is None:
            ring_sql = "NULL"
        else:
            pts = ", ".join(
                f"struct_pack(lon := {_sql_dbl(x)}, lat := {_sql_dbl(y)})" for x, y in ring
            )
            ring_sql = f"list_value({pts})"
        rows.append(
            f"({i}, {v}, {u}, TIMESTAMP '{t}', {c}, {_sql_str(_tags(tags))}, "
            f"{ring_sql}, {g})"
        )
    return (
        "SELECT * FROM (VALUES\n  " + ",\n  ".join(rows) + "\n) AS t(id, version, "
        "user_id, tstamp, changeset_id, tags_json, ring, geom_valid)"
    )


def _way_nodes_rows() -> tuple[list[tuple], list[tuple]]:
    wn, nd = [], []
    nid = 1000
    for (way_id, _v, _u, _t, _c, _tags, ring, _g) in WAYS:
        if ring is None:
            continue
        first_id = None
        for seq, (x, y) in enumerate(ring):
            if seq == len(ring) - 1:
                wn.append((way_id, first_id, seq))
            else:
                if seq == 0:
                    first_id = nid
                wn.append((way_id, nid, seq))
                nd.append((nid, x, y))
                nid += 1
    return wn, nd


def way_nodes_values_sql() -> str:
    wn, _ = _way_nodes_rows()
    rows = ", ".join(f"({w}, {n}, {s})" for (w, n, s) in wn)
    return f"SELECT * FROM (VALUES {rows}) AS t(way_id, node_id, sequence_id)"


def ring_nodes_values_sql() -> str:
    _, nd = _way_nodes_rows()
    rows = ", ".join(f"({i}, {_sql_dbl(x)}, {_sql_dbl(y)})" for (i, x, y) in nd)
    return f"SELECT * FROM (VALUES {rows}) AS t(id, lon, lat)"


def relations_values_sql() -> str:
    rows = []
    for (i, v, u, t, c, tags) in RELATIONS:
        rows.append(
            f"({i}, {v}, {u}, TIMESTAMP '{t}', {c}, {_sql_str(_tags(tags))})"
        )
    return (
        "SELECT * FROM (VALUES\n  " + ",\n  ".join(rows) + "\n) AS t(id, version, "
        "user_id, tstamp, changeset_id, tags_json)"
    )


def relation_members_values_sql() -> str:
    rows = ", ".join(
        f"({r}, {m}, {_sql_str(ty)}, {_sql_str(ro)}, {s})"
        for (r, m, ty, ro, s) in RELATION_MEMBERS
    )
    return (
        f"SELECT * FROM (VALUES {rows}) AS "
        "t(relation_id, member_id, member_type, member_role, sequence_id)"
    )


def member_way_rings_values_sql() -> str:
    rows = []
    for wid, ring in MEMBER_WAYS:
        pts = ", ".join(
            f"struct_pack(lon := {_sql_dbl(x)}, lat := {_sql_dbl(y)})" for x, y in ring
        )
        closed = len(ring) >= 4 and ring[0] == ring[-1]
        rows.append(f"({wid}, list_value({pts}), {closed})")
    return (
        "SELECT * FROM (VALUES\n  " + ",\n  ".join(rows) + "\n) AS t(way_id, ring, is_closed)"
    )


def taginfo_values_sql() -> str:
    rows = [
        f"({_sql_str(k)}, {_sql_str(v)}, {c}, {w})" for (k, v, c, w) in TAGINFO
    ]
    return (
        "SELECT * FROM (VALUES\n  " + ",\n  ".join(rows) + "\n) AS t(key, value, "
        '"count", in_wiki)'
    )


# --------------------------------------------------------------------------
# PBF wire-format fixture (O1): entities fed to pbf.encode_pbf, with the
# oracle side rendered as precomputed literals. Edge cases: unsorted ids
# (negative deltas), negative coordinates, empty tags, unicode tags, a
# closed-ring way, relation members of all three types.
# --------------------------------------------------------------------------

def _ms(t: _dt.datetime) -> int:
    return int(t.replace(tzinfo=_dt.timezone.utc).timestamp() * 1000)


def _pbf_node(i, v, u, t, c, tags, lon, lat):
    return {
        "id": i, "version": v, "user_id": u, "tstamp_ms": _ms(t),
        "changeset_id": c, "tags": tags, "lon": lon, "lat": lat,
    }


PBF_NODES: list[dict] = [
    _pbf_node(1010, 1, 11, _ts(0), 501, {"amenity": "cafe", "name": "Café Ünïcode"}, 5.1234567, 52.0000001),
    _pbf_node(1003, 2, 11, _ts(1), 501, {}, -73.9897001, 40.7484405),
    _pbf_node(1001, 1, 12, _ts(2), 502, {"shop": "bakery", "name": "Bakkerij"}, 5.2, 52.1),
    _pbf_node(1007, 3, 12, _ts(3), 502, {"highway": "bus_stop"}, -0.1275, 51.5072),
    _pbf_node(1002, 1, 13, _ts(4), 503, {"natural": "tree"}, 151.2093, -33.8688),
    _pbf_node(1005, 2, 13, _ts(5), 503, {"amenity": "bench", "backrest": "yes"}, 5.3, 52.3),
    _pbf_node(1004, 1, 14, _ts(6), 504, {}, 5.4, 52.4),
    _pbf_node(1006, 1, 14, _ts(7), 504, {"name": "Ω point", "tourism": "viewpoint"}, 5.5, 52.5),
]

PBF_WAYS: list[dict] = [
    {"id": 2001, "version": 1, "user_id": 21, "tstamp_ms": _ms(_ts(10)),
     "changeset_id": 601, "tags": {"building": "yes", "name": "Hal"},
     "refs": [1010, 1003, 1001, 1010]},
    {"id": 2002, "version": 2, "user_id": 21, "tstamp_ms": _ms(_ts(11)),
     "changeset_id": 601, "tags": {"highway": "residential"},
     "refs": [1002, 1004, 1005, 1006, 1007]},
    {"id": 2003, "version": 1, "user_id": 22, "tstamp_ms": _ms(_ts(12)),
     "changeset_id": 602, "tags": {}, "refs": [1001, 1002]},
]

PBF_RELATIONS: list[dict] = [
    {"id": 3001, "version": 1, "user_id": 31, "tstamp_ms": _ms(_ts(20)),
     "changeset_id": 701, "tags": {"type": "multipolygon", "landuse": "forest"},
     "members": [("way", 2001, "outer"), ("way", 2002, "inner"),
                 ("node", 1010, "admin_centre")]},
    {"id": 3002, "version": 4, "user_id": 31, "tstamp_ms": _ms(_ts(21)),
     "changeset_id": 701, "tags": {"type": "route"},
     "members": [("way", 2002, ""), ("relation", 3001, "subarea")]},
]


def _pbf_tags_sig(tags: dict[str, str]) -> str:
    return "; ".join(sorted(f"{k}={v}" for k, v in tags.items()))


def _pbf_ts_str(ms: int) -> str:
    return _dt.datetime.fromtimestamp(ms / 1000, _dt.timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


def pbf_scan_values_sql() -> str:
    """Oracle literals for the osm_pbf_scan query: the same entities the
    encoder writes, rendered to the query's output columns in Python."""
    rows = []
    for n in PBF_NODES:
        rows.append(
            f"('node', {n['id']}, {n['version']}, {n['user_id']}, "
            f"{_sql_str(_pbf_ts_str(n['tstamp_ms']))}, {n['changeset_id']}, "
            f"{_sql_str(_pbf_tags_sig(n['tags']))}, "
            f"{_sql_dbl(round(n['lon'], 7))}, {_sql_dbl(round(n['lat'], 7))}, "
            f"0, 0, '')"
        )
    for w in PBF_WAYS:
        rows.append(
            f"('way', {w['id']}, {w['version']}, {w['user_id']}, "
            f"{_sql_str(_pbf_ts_str(w['tstamp_ms']))}, {w['changeset_id']}, "
            f"{_sql_str(_pbf_tags_sig(w['tags']))}, "
            f"CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            f"{len(w['refs'])}, {sum(w['refs'])}, '')"
        )
    for r in PBF_RELATIONS:
        sig = ",".join(f"{t}:{i}:{ro}" for (t, i, ro) in r["members"])
        rows.append(
            f"('relation', {r['id']}, {r['version']}, {r['user_id']}, "
            f"{_sql_str(_pbf_ts_str(r['tstamp_ms']))}, {r['changeset_id']}, "
            f"{_sql_str(_pbf_tags_sig(r['tags']))}, "
            f"CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            f"0, 0, {_sql_str(sig)})"
        )
    return (
        "SELECT osm_type, CAST(id AS BIGINT) AS id, CAST(version AS INT) AS version, "
        "CAST(user_id AS INT) AS user_id, tstamp_str, CAST(changeset_id AS BIGINT) AS changeset_id, "
        "tags_sig, lon_r, lat_r, CAST(n_refs AS BIGINT) AS n_refs, "
        "CAST(refs_sum AS BIGINT) AS refs_sum, members_sig "
        "FROM (VALUES\n  " + ",\n  ".join(rows) + "\n) AS t(osm_type, id, version, "
        "user_id, tstamp_str, changeset_id, tags_sig, lon_r, lat_r, n_refs, "
        "refs_sum, members_sig)"
    )


# --------------------------------------------------------------------------
# EP1 end-to-end wire fixture: the FULL cascade fixture (NODES/WAYS above)
# serialized to .osm.pbf so the composed pipeline query
# (queries/osm.q_osm_poi_pipeline_full) can run scan→cascade→route as ONE
# Catalyst DAG over real wire bytes. Invalid geometry (the reference's
# unresolvable-location case, filter.py:127) is encoded as an
# out-of-range coordinate sentinel — DenseNodes requires every node to
# carry coordinates, so "invalid" must be representable in-band; way 104
# (ring None) instead references node ids that do not exist, osmium's
# invalid_ways case.
# --------------------------------------------------------------------------

EP1_BAD_COORD = 999.0
_EP1_MISSING_REFS = (9999, 9998, 9997, 9999)  # way 104: unresolvable


def ep1_pbf_nodes() -> list[dict]:
    """All cascade nodes (sentinel coords where invalid) + the untagged
    geometry-carrier nodes from the way fixtures."""
    out = []
    for (i, v, u, t, c, tags, lon, lat, _g) in NODES:
        out.append(
            {
                "id": i, "version": v, "user_id": u, "tstamp_ms": _ms(t),
                "changeset_id": c, "tags": dict(tags),
                "lon": EP1_BAD_COORD if lon is None else lon,
                "lat": EP1_BAD_COORD if lat is None else lat,
            }
        )
    _, nd = _way_nodes_rows()
    for (nid, x, y) in nd:
        out.append(
            {
                "id": nid, "version": 1, "user_id": 999,
                "tstamp_ms": _ms(_ts(90)), "changeset_id": 9900,
                "tags": {}, "lon": x, "lat": y,
            }
        )
    return out


def _ep1_way_node_rows() -> list[tuple[int, int, int]]:
    wn, _ = _way_nodes_rows()
    rows = list(wn)
    rows.extend((104, ref, seq) for seq, ref in enumerate(_EP1_MISSING_REFS))
    return rows


def ep1_pbf_ways() -> list[dict]:
    by_way: dict[int, list[tuple[int, int]]] = {}
    for (w, n, s) in _ep1_way_node_rows():
        by_way.setdefault(w, []).append((s, n))
    out = []
    for (i, v, u, t, c, tags, _ring, _g) in WAYS:
        refs = [n for _s, n in sorted(by_way[i])]
        out.append(
            {
                "id": i, "version": v, "user_id": u, "tstamp_ms": _ms(t),
                "changeset_id": c, "tags": dict(tags), "refs": refs,
            }
        )
    return out


def ep1_nodes_values_sql() -> str:
    """Oracle twin of ep1_pbf_nodes(): every node the wire file carries
    (tagged + carriers + sentinel coords), as typed VALUES."""
    rows = []
    for (i, v, u, t, c, tags, lon, lat, _g) in NODES:
        lon_v = EP1_BAD_COORD if lon is None else lon
        lat_v = EP1_BAD_COORD if lat is None else lat
        rows.append(
            f"({i}, {v}, {u}, TIMESTAMP '{t}', {c}, {_sql_str(_tags(tags))}, "
            f"{_sql_dbl(lon_v)}, {_sql_dbl(lat_v)})"
        )
    _, nd = _way_nodes_rows()
    for (nid, x, y) in nd:
        rows.append(
            f"({nid}, 1, 999, TIMESTAMP '{_ts(90)}', 9900, '{{}}', "
            f"{_sql_dbl(x)}, {_sql_dbl(y)})"
        )
    return (
        "SELECT * FROM (VALUES\n  " + ",\n  ".join(rows) + "\n) AS t(id, version, "
        "user_id, tstamp, changeset_id, tags_json, lon, lat)"
    )


def ep1_ways_values_sql() -> str:
    rows = [
        f"({i}, {v}, {u}, TIMESTAMP '{t}', {c}, {_sql_str(_tags(tags))})"
        for (i, v, u, t, c, tags, _ring, _g) in WAYS
    ]
    return (
        "SELECT * FROM (VALUES\n  " + ",\n  ".join(rows) + "\n) AS t(id, version, "
        "user_id, tstamp, changeset_id, tags_json)"
    )


def ep1_way_nodes_values_sql() -> str:
    rows = ", ".join(f"({w}, {n}, {s})" for (w, n, s) in _ep1_way_node_rows())
    return f"SELECT * FROM (VALUES {rows}) AS t(way_id, node_id, sequence_id)"

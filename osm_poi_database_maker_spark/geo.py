"""Geometry kernel: WKB codecs + geodesic math, Spark-first.

The reference delegates geometry to libosmium's WKBFactory
(``filter.py:117-130``) and to PostGIS (``ways_to_centroids.sql``:
``ST_Centroid`` on geometry = planar centroid; ``ST_Area(::geography)`` =
geodesic area). Here:

* planar ring centroid and planar shoelace area are **pure column
  expressions** (aggregate/transform over an array of vertex structs) —
  whole-stage codegen, no Python;
* spherical ring area (Chamberlain–Duquette on the WGS84 authalic sphere)
  is likewise a pure expression; it approximates PostGIS's spheroid
  ``ST_Area(geography)`` within ~0.3–0.6% (documented; fixtures are
  generated away from decision boundaries);
* WKB encoding needs raw IEEE-754 little-endian bytes, which Spark SQL
  cannot express — that single step is an Arrow-batched pandas UDF over
  numpy views (the sanctioned slow path). In the POI pipeline's executed
  plan it is the only Python operator besides the PBF decode (the
  ``osmpbf`` BatchScan).

Rings are ``ARRAY<STRUCT<lon: DOUBLE, lat: DOUBLE>>``, closed
(first == last vertex).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# NB: decorators use DataType objects, not DDL strings — string return
# types are parsed eagerly at import time and would require a live
# SparkContext just to import this module.

#: WGS84 authalic sphere radius (meters) — sphere with the same surface
#: area as the WGS84 ellipsoid.
EARTH_RADIUS_M = 6371007.1809


# --------------------------------------------------------------------------
# WKB codecs (hex, little-endian, matching osmium WKBFactory output shape)
# --------------------------------------------------------------------------

@pandas_udf(T.StringType())
def wkb_point_hex(lon: pd.Series, lat: pd.Series) -> pd.Series:
    """(lon, lat) → hex WKB POINT, little-endian, 21 bytes.

    Layout: 01 (LE) | 01000000 (type=Point) | f8 lon | f8 lat. NULL in
    either coordinate yields NULL (the O7 invalid-geometry contract).
    """
    n = len(lon)
    buf = np.zeros((n, 21), dtype=np.uint8)
    buf[:, 0] = 1
    buf[:, 1] = 1
    buf[:, 5:13] = lon.to_numpy(dtype=np.float64).view(np.uint8).reshape(n, 8)
    buf[:, 13:21] = lat.to_numpy(dtype=np.float64).view(np.uint8).reshape(n, 8)
    out = pd.Series([bytes(row).hex() for row in buf])
    out[lon.isna() | lat.isna()] = None
    return out


@pandas_udf(T.StringType())
def wkb_linestring_hex(points: pd.Series) -> pd.Series:
    """array<struct<lon,lat>> → hex WKB LINESTRING, little-endian.

    Layout: 01 | 02000000 | npoints | (f8 lon, f8 lat)*. The geometry the
    reference's ways table stores in its ``linestring`` column
    (filter.py:43, the per-table geom column switch). NULL input or
    fewer than 2 points yields NULL (O7 quarantine contract). Coordinate
    payload packs as one numpy buffer per row, like the sibling codecs.
    """
    import struct

    def enc(pts):
        if pts is None or len(pts) < 2:
            return None
        arr = np.array([(p["lon"], p["lat"]) for p in pts], dtype="<f8")
        return (struct.pack("<BII", 1, 2, len(arr)) + arr.tobytes()).hex()

    return points.apply(enc)


@pandas_udf(T.StringType())
def wkb_polygon_hex(rings: pd.Series) -> pd.Series:
    """array<struct<lon,lat>> (single closed outer ring) → hex WKB POLYGON.

    Layout: 01 | 03000000 | nrings=1 | npoints | (f8 lon, f8 lat)*.
    NULL/undersized/unclosed rings yield NULL (quarantine contract).
    The coordinate payload — all but 13 bytes of the output — is packed
    as one numpy buffer per ring (`.tobytes()`), not per-point struct
    calls; the per-ring loop remains (rings are ragged), matching the
    vectorization level of :func:`wkb_point_hex`.
    """
    import struct

    def enc(ring):
        if ring is None or len(ring) < 4:
            return None
        arr = np.array([(p["lon"], p["lat"]) for p in ring], dtype="<f8")
        if arr[0, 0] != arr[-1, 0] or arr[0, 1] != arr[-1, 1]:
            return None
        return (struct.pack("<BII I", 1, 3, 1, len(arr)) + arr.tobytes()).hex()

    return rings.apply(enc)


@pandas_udf(T.StringType())
def _wkb_multipolygon_hex_json(polys_json: pd.Series) -> pd.Series:
    """JSON-encoded array<array<array<struct<lon,lat>>>> → hex WKB
    MULTIPOLYGON. Internal: use :func:`wkb_multipolygon_hex`, which
    serializes the nested column to JSON JVM-side first — Arrow cannot
    transfer RAGGED triple-nested arrays into pandas (inhomogeneous
    ndarray), and WKB byte-packing is per-row Python regardless, so a
    string payload loses nothing."""
    import json
    import struct

    def enc(js):
        if js is None:
            return None
        pl = json.loads(js)
        if not pl:
            return None
        out = [struct.pack("<BII", 1, 6, len(pl))]
        for rings in pl:
            if not rings:
                return None
            out.append(struct.pack("<BII", 1, 3, len(rings)))
            for ring in rings:
                if ring is None or len(ring) < 4:
                    return None
                pts = [(p["lon"], p["lat"]) for p in ring]
                if pts[0] != pts[-1]:
                    return None
                out.append(struct.pack("<I", len(pts)))
                out.append(b"".join(struct.pack("<dd", x, y) for x, y in pts))
        return b"".join(out).hex()

    return polys_json.apply(enc)


def wkb_multipolygon_hex(polys: Column | str) -> Column:
    """array<array<array<struct<lon,lat>>>> column → hex WKB MULTIPOLYGON.

    ``polys[i][0]`` is polygon *i*'s outer ring, ``polys[i][1:]`` its
    holes — the shape osmium's ``WKBFactory.create_multipolygon``
    serializes for every area (reference filter.py:130), covering both
    single-ring way areas and relation-derived donuts. Layout:
    01 | 06000000 | npolys | (01 | 03000000 | nrings | (npts | pts*)*)*.
    NULL input, empty polys, or any undersized/unclosed ring yields NULL
    (the O7 quarantine contract)."""
    col = F.col(polys) if isinstance(polys, str) else polys
    return _wkb_multipolygon_hex_json(F.to_json(col))


def wkb_point_decode(hexcol: Column) -> Column:
    """hex WKB POINT → struct<lon,lat> — pure expression round-trip used in
    tests and by downstream consumers of sink output."""

    @pandas_udf(
        T.StructType(
            [T.StructField("lon", T.DoubleType()), T.StructField("lat", T.DoubleType())]
        )
    )
    def _decode(h: pd.Series) -> pd.DataFrame:
        import struct

        lons, lats = [], []
        for v in h:
            if v is None:
                lons.append(None)
                lats.append(None)
            else:
                raw = bytes.fromhex(v)
                x, y = struct.unpack("<dd", raw[5:21])
                lons.append(x)
                lats.append(y)
        return pd.DataFrame({"lon": lons, "lat": lats})

    return _decode(hexcol)


# --------------------------------------------------------------------------
# Pure-expression geodesic / planar math
# --------------------------------------------------------------------------

def haversine_m(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle distance in meters — pure trig expressions."""
    rl1, rl2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = F.sin(dlat) ** 2 + F.cos(rl1) * F.cos(rl2) * F.sin(dlon) ** 2
    return 2 * EARTH_RADIUS_M * F.asin(F.sqrt(a))


def _edge_pairs(ring: Column) -> Column:
    """array<struct<a,b>> of consecutive vertex pairs of a closed ring."""
    n = F.size(ring)
    return F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.struct(
            F.element_at(ring, i).alias("a"), F.element_at(ring, i + 1).alias("b")
        ),
    )


def ring_area_planar(ring: Column) -> Column:
    """Shoelace area in coordinate units² (sign: CCW positive)."""
    terms = F.transform(
        _edge_pairs(ring),
        lambda e: e["a"]["lon"] * e["b"]["lat"] - e["b"]["lon"] * e["a"]["lat"],
    )
    return F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t) / 2


def ring_area_sphere_m2(ring: Column) -> Column:
    """Spherical polygon area (m²), Chamberlain–Duquette formula:
    A = R²/2 · |Σ (λ₂−λ₁)(sin φ₁ + sin φ₂)| — absolute value, so ring
    orientation doesn't matter. Approximates PostGIS geography area within
    ~0.3–0.6% (sphere vs spheroid)."""
    terms = F.transform(
        _edge_pairs(ring),
        lambda e: (F.radians(e["b"]["lon"]) - F.radians(e["a"]["lon"]))
        * (F.sin(F.radians(e["a"]["lat"])) + F.sin(F.radians(e["b"]["lat"]))),
    )
    s = F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t)
    return F.abs(s) * (EARTH_RADIUS_M * EARTH_RADIUS_M) / 2


def ring_centroid(ring: Column) -> Column:
    """Planar polygon centroid (struct<lon,lat>) via the shoelace-weighted
    formula — the semantics of PostGIS ``ST_Centroid`` on a geometry
    polygon (reference ways_to_centroids.sql:2). Degenerate rings
    (zero area) fall back to the vertex mean."""
    pairs = _edge_pairs(ring)
    cross = lambda e: (  # noqa: E731
        e["a"]["lon"] * e["b"]["lat"] - e["b"]["lon"] * e["a"]["lat"]
    )
    a2 = F.aggregate(F.transform(pairs, cross), F.lit(0.0), lambda acc, t: acc + t)
    cx = F.aggregate(
        F.transform(pairs, lambda e: (e["a"]["lon"] + e["b"]["lon"]) * cross(e)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    cy = F.aggregate(
        F.transform(pairs, lambda e: (e["a"]["lat"] + e["b"]["lat"]) * cross(e)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    # vertex mean over the ring without the closing duplicate
    open_ring = F.slice(ring, 1, F.size(ring) - 1)
    mean_lon = F.aggregate(
        open_ring, F.lit(0.0), lambda acc, p: acc + p["lon"]
    ) / (F.size(ring) - 1)
    mean_lat = F.aggregate(
        open_ring, F.lit(0.0), lambda acc, p: acc + p["lat"]
    ) / (F.size(ring) - 1)
    return F.when(
        F.abs(a2) < 1e-12,
        F.struct(mean_lon.alias("lon"), mean_lat.alias("lat")),
    ).otherwise(
        F.struct((cx / (3 * a2)).alias("lon"), (cy / (3 * a2)).alias("lat"))
    )


def ring_moments(ring: Column) -> Column:
    """struct<a2, cx, cy> — the raw shoelace sums of a closed ring
    (``a2`` = 2·signed planar area; centroid = (cx, cy)/(3·a2)).

    These moments are ADDITIVE across the rings of a polygon-with-holes
    when outer rings are wound CCW and holes CW (see
    :func:`ring_oriented`): summing (a2, cx, cy) over all rings and
    dividing once yields the hole-aware planar centroid — the semantics
    of PostGIS ``ST_Centroid`` on the reference's multipolygon
    geometries (ways_to_centroids.sql:2 over filter.py:130 output).
    Additivity is what makes the computation a plain groupBy over
    exploded rings instead of nested higher-order functions."""
    pairs = _edge_pairs(ring)
    cross = lambda e: (  # noqa: E731
        e["a"]["lon"] * e["b"]["lat"] - e["b"]["lon"] * e["a"]["lat"]
    )
    a2 = F.aggregate(F.transform(pairs, cross), F.lit(0.0), lambda acc, t: acc + t)
    cx = F.aggregate(
        F.transform(pairs, lambda e: (e["a"]["lon"] + e["b"]["lon"]) * cross(e)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    cy = F.aggregate(
        F.transform(pairs, lambda e: (e["a"]["lat"] + e["b"]["lat"]) * cross(e)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    return F.struct(a2.alias("a2"), cx.alias("cx"), cy.alias("cy"))


def ring_oriented(ring: Column, ccw: Column) -> Column:
    """Normalize ring winding: returns the ring reversed if its shoelace
    orientation disagrees with the requested one (``ccw`` boolean
    column). OSM imposes no winding on member ways, so assembly must
    normalize by ROLE — outer→CCW, inner→CW — exactly as osmium's area
    assembler does before building multipolygon WKB."""
    is_ccw = ring_area_planar(ring) > 0
    return F.when(is_ccw == ccw, ring).otherwise(F.reverse(ring))


def point_in_ring(lon: Column, lat: Column, ring: Column) -> Column:
    """Ray-casting point-in-polygon as a pure column expression: count
    edges crossing the horizontal ray from (lon, lat) to +∞; odd →
    inside. Boundary vertices follow the half-open convention (an edge
    counts when exactly one endpoint is strictly above the ray), which
    is consistent across both engines because it never divides by a
    zero lat-span. Used to assign each inner ring to its containing
    outer ring when grouping rings into polygons."""
    crossings = F.aggregate(
        _edge_pairs(ring),
        F.lit(0),
        lambda acc, e: acc
        + F.when(
            ((e["a"]["lat"] > lat) != (e["b"]["lat"] > lat))
            & (
                lon
                < e["a"]["lon"]
                + (e["b"]["lon"] - e["a"]["lon"])
                * (lat - e["a"]["lat"])
                / (e["b"]["lat"] - e["a"]["lat"])
            ),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return crossings % 2 == 1


# --------------------------------------------------------------------------
# O10: relational polygon assembly (way_nodes ⨝ nodes → ordered ring)
# --------------------------------------------------------------------------

def assemble_rings(way_nodes: DataFrame, nodes: DataFrame) -> DataFrame:
    """Re-derive osmium's way-geometry assembly relationally
    (reference filter.py:128-137 + locations=True at :260).

    way_nodes(way_id, node_id, sequence_id) ⨝ nodes(id, lon, lat)
    → (way_id, ring array<struct<lon,lat>> ordered by sequence, is_closed,
       has_missing_node).

    Scale: this is THE big shuffle of the OSM pipeline — an equi join on
    node_id followed by a groupBy on way_id. At 100 TB both sides would be
    bucketed by their join keys (see sources module); the assembly itself
    is one sort-merge join + one hash aggregate, with collect_list bounded
    by per-way vertex counts (~2k max in OSM).

    WARNING: ``way_nodes`` must hold ONE version per way. Rows are grouped
    by ``way_id`` only, so feeding every version of a way (e.g.
    ``posexplode(refs)`` over an un-deduplicated scan, as
    ``osm_poi_pipeline_full`` and its oracle's ``wr`` CTE both do) merges
    their refs into one ring with each vertex repeated: a 3-ref A-B-A way
    with two versions becomes a 6-point ring that passes the closed,
    ≥4-point validity test. Because the oracle merges the same way, the
    oracle check cannot see it. Deduplicate the ways before exploding.
    """
    joined = way_nodes.join(
        nodes.select(
            F.col("id").alias("node_id"), F.col("lon"), F.col("lat")
        ),
        "node_id",
        "left",
    )
    per_way = joined.groupBy("way_id").agg(
        F.array_sort(
            F.collect_list(F.struct("sequence_id", "lon", "lat"))
        ).alias("pts"),
        F.max(F.col("lon").isNull().cast("int")).alias("missing"),
    )
    ring = F.transform(
        F.col("pts"), lambda p: F.struct(p["lon"].alias("lon"), p["lat"].alias("lat"))
    )
    first = F.element_at(ring, 1)
    last = F.element_at(ring, -1)
    return per_way.select(
        "way_id",
        ring.alias("ring"),
        (
            (F.size(ring) >= 4)
            & (first["lon"] == last["lon"])
            & (first["lat"] == last["lat"])
        ).alias("is_closed"),
        (F.col("missing") == 1).alias("has_missing_node"),
    )

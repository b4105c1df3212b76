"""Seeded synthetic OSM extract for the POI ETL workload.

``build_extract(seed, n_ways)`` returns the entity lists that
``pbf.encode_pbf`` writes, and ``oracle_tables`` renders the same list as
the three relations the DuckDB rebuild reads (``gen_nodes``, ``gen_ways``,
``gen_way_nodes``). Both sides start from this one list, never from the
engine's decoder.

Shape of the extract:

* most nodes are untagged way vertices; about 4 % are POI nodes whose
  tag values come from ``osm_fixtures.TAGINFO`` (values that pass the
  TOI cut, values cut by rank, threshold, ``in_wiki`` or ``;``), with
  names, trimmed keys, excluded ``access=private`` cafes and escaped
  characters mixed in;
* some POI nodes carry a superseded older version, and some carry the
  out-of-range coordinate sentinel (dead-letter rows);
* ways are closed rings, open lines, degenerate three-point rings, or
  reference a node that does not exist; a few ways carry an older version
  with the same node list;
* ring side lengths span 40 m to 400 m, so areas fall on both sides of
  the 20 000 m^2 centroid threshold.

Coordinates are integers in units of 1e-7 degree and are handed to both
sides as ``1e-9 * (100 * k)``, the value the PBF decoder computes, so the
engine and the oracle see identical doubles.
"""

from __future__ import annotations

import datetime as dt
import json

import numpy as np
import pyarrow as pa

from osm_poi_database_maker_spark import osm_fixtures as fx

BAD_COORD = fx.EP1_BAD_COORD
_T0_MS = int(dt.datetime(2023, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1000)
_NAMES = ["Cafe", "Bakkerij", "Hôtel", 'The "Quote"', "Back\\slash", "Tab\tName", "Line\nBreak", "Ωmega"]
_OTHER_TAGS = [("highway", "bus_stop"), ("natural", "tree"), ("building", "yes")]


def _coord(k: int) -> float:
    return 1e-9 * (100 * k)


def _poi_tags(rng) -> dict[str, str]:
    key, value, _count, _wiki = fx.TAGINFO[rng.integers(0, len(fx.TAGINFO))]
    tags = {key: value}
    if rng.random() < 0.8:
        tags["name"] = f"{_NAMES[rng.integers(0, len(_NAMES))]} {rng.integers(0, 10_000)}"
    if key == "amenity" and value == "cafe" and rng.random() < 0.3:
        tags["access"] = "private" if rng.random() < 0.7 else "public"
    if rng.random() < 0.1:
        tags["note"] = "check"
    if rng.random() < 0.05:
        tags["fixme"] = "position"
    if rng.random() < 0.2:
        k, v = _OTHER_TAGS[rng.integers(0, len(_OTHER_TAGS))]
        tags[k] = v
    return tags


def _way_tags(rng) -> dict[str, str]:
    r = rng.random()
    if r < 0.35:
        return _poi_tags(rng)
    if r < 0.85:
        k, v = _OTHER_TAGS[rng.integers(0, len(_OTHER_TAGS))]
        return {k: v}
    return {}


def _meta(rng, i: int, version: int, ts_ms: int) -> dict:
    return {
        "id": i, "version": version,
        "user_id": int(rng.integers(1, 5000)),
        "tstamp_ms": ts_ms,
        "changeset_id": int(rng.integers(1, 1_000_000)),
    }


def _exactly(rng, n: int, share: float) -> np.ndarray:
    """Boolean mask with exactly ``round(share * n)`` True, in seeded places."""
    return rng.permutation(n) < round(share * n)


def build_extract(seed: int, n_ways: int) -> tuple[list[dict], list[dict]]:
    """(nodes, ways) entity dicts for ``pbf.encode_pbf``, ids ascending.
    Every seed gives the same entity counts; only values differ."""
    rng = np.random.default_rng(seed)
    nodes: list[dict] = []
    ways: list[dict] = []
    next_node = 1

    def ts() -> int:
        return _T0_MS + int(rng.integers(0, 365 * 86_400)) * 1000

    # way shapes: 5 % degenerate (A B A), 60 % closed, 30 % open, 5 % with a
    # reference to a node that does not exist
    rank = rng.permutation(n_ways) / n_ways
    way_dup = _exactly(rng, n_ways, 0.03)
    has_poi = _exactly(rng, n_ways, 0.18)
    n_poi = int(has_poi.sum())
    poi_bad = _exactly(rng, n_poi, 0.03)
    poi_dup = _exactly(rng, n_poi, 0.05)
    k = 0
    for wid in range(1, n_ways + 1):
        shape = rank[wid - 1]
        lon0 = int(rng.integers(40_000_000, 70_000_000))
        lat0 = int(rng.integers(510_000_000, 530_000_000))
        side_m = float(np.exp(rng.uniform(np.log(40.0), np.log(400.0))))
        dlat = round(side_m / 111_320.0 * 1e7)
        dlon = round(side_m / (111_320.0 * 0.62) * 1e7)
        corners = [(0, 0), (dlon, 0), (dlon, dlat), (0, dlat)]
        if shape < 0.05:
            corners = corners[:2]
        ids = []
        for cx, cy in corners:
            nodes.append({
                **_meta(rng, next_node, 1, ts()), "tags": {},
                "lon": _coord(lon0 + cx), "lat": _coord(lat0 + cy),
            })
            ids.append(next_node)
            next_node += 1
        if shape < 0.65:
            refs = ids + [ids[0]]
        elif shape < 0.95:
            refs = ids
        else:
            refs = ids + [10_000_000_000 + wid, ids[0]]
        tags = _way_tags(rng)
        w_ts = ts()
        if way_dup[wid - 1]:
            old = dict(tags, name="superseded")
            ways.append({**_meta(rng, wid, 1, w_ts - 86_400_000), "tags": old, "refs": refs})
            ways.append({**_meta(rng, wid, 2, w_ts), "tags": tags, "refs": refs})
        else:
            ways.append({**_meta(rng, wid, 1, w_ts), "tags": tags, "refs": refs})
        if has_poi[wid - 1]:
            t = ts()
            lon = _coord(lon0 + int(rng.integers(0, dlon)))
            lat = _coord(lat0 + int(rng.integers(0, dlat)))
            if poi_bad[k]:
                lon = lat = BAD_COORD
            tags = _poi_tags(rng)
            if poi_dup[k]:
                nodes.append({**_meta(rng, next_node, 1, t - 3_600_000),
                              "tags": _poi_tags(rng), "lon": lon, "lat": lat})
                nodes.append({**_meta(rng, next_node, 2, t), "tags": tags, "lon": lon, "lat": lat})
            else:
                nodes.append({**_meta(rng, next_node, 1, t), "tags": tags, "lon": lon, "lat": lat})
            next_node += 1
            k += 1
    return nodes, ways


def _ts(ms_list) -> pa.Array:
    return pa.array(np.asarray(ms_list, dtype=np.int64) * 1000, pa.timestamp("us"))


def _tags_json(tags: dict[str, str]) -> str:
    return json.dumps(tags, sort_keys=True)


def oracle_tables(nodes: list[dict], ways: list[dict]) -> dict[str, pa.Table]:
    """The relations the DuckDB rebuild reads, with the column names and
    types of the inline VALUES in ``ORACLE_POI_PIPELINE_FULL``."""
    i64, i32 = pa.int64(), pa.int32()
    raw_nodes = pa.table({
        "id": pa.array([n["id"] for n in nodes], i64),
        "version": pa.array([n["version"] for n in nodes], i32),
        "user_id": pa.array([n["user_id"] for n in nodes], i32),
        "tstamp": _ts([n["tstamp_ms"] for n in nodes]),
        "changeset_id": pa.array([n["changeset_id"] for n in nodes], i64),
        "tags_json": [_tags_json(n["tags"]) for n in nodes],
        "lon": pa.array([n["lon"] for n in nodes], pa.float64()),
        "lat": pa.array([n["lat"] for n in nodes], pa.float64()),
    })
    raw_ways = pa.table({
        "id": pa.array([w["id"] for w in ways], i64),
        "version": pa.array([w["version"] for w in ways], i32),
        "user_id": pa.array([w["user_id"] for w in ways], i32),
        "tstamp": _ts([w["tstamp_ms"] for w in ways]),
        "changeset_id": pa.array([w["changeset_id"] for w in ways], i64),
        "tags_json": [_tags_json(w["tags"]) for w in ways],
    })
    wn = [(w["id"], ref, seq) for w in ways for seq, ref in enumerate(w["refs"])]
    way_nodes = pa.table({
        "way_id": pa.array([r[0] for r in wn], i64),
        "node_id": pa.array([r[1] for r in wn], i64),
        "sequence_id": pa.array([r[2] for r in wn], i64),
    })
    return {"gen_nodes": raw_nodes, "gen_ways": raw_ways, "gen_way_nodes": way_nodes}

"""The osmpbf Python DataSource must agree row-for-row with read_pbf
(same codec, two Spark plumbing paths) and behave like a real source:
schema from the source, partition planning from the blob index, Catalyst
filters composing on top."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osm_poi_database_maker_spark import pbf
from osm_poi_database_maker_spark.pbf_datasource import (
    OsmPbfDataSource,
    OsmPbfReader,
    register,
)


@pytest.fixture(scope="module")
def pbf_file(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ds") / "mini.osm.pbf")
    nodes = [
        {
            "id": i,
            "version": 1,
            "user_id": 7,
            "tstamp_ms": 1_700_000_000_000 + i * 1000,
            "changeset_id": 99,
            "tags": {"amenity": "cafe", "name": f"n{i}"} if i % 2 else {},
            "lon": 13.0 + i * 0.001,
            "lat": 52.0 + i * 0.001,
        }
        for i in range(25)
    ]
    ways = [
        {
            "id": 100 + w,
            "version": 2,
            "user_id": 7,
            "tstamp_ms": 1_700_000_100_000,
            "changeset_id": 99,
            "tags": {"highway": "path"},
            "refs": [w, w + 1, w + 2],
        }
        for w in range(5)
    ]
    rels = [
        {
            "id": 200,
            "version": 1,
            "user_id": 7,
            "tstamp_ms": 1_700_000_200_000,
            "changeset_id": 99,
            "tags": {"type": "multipolygon"},
            "members": [("way", 100, "outer"), ("way", 101, "inner")],
        }
    ]
    # small block_size -> several OSMData blobs -> several partitions
    pbf.encode_pbf(path, nodes, ways, rels, block_size=10)
    return path


def _canon(df):
    return sorted(
        (
            r.osm_type,
            r.id,
            r.version,
            r.tstamp.isoformat() if r.tstamp else None,
            tuple(sorted((r.tags or {}).items())),
            r.lon,
            r.lat,
            tuple(r.refs or ()),
            tuple(r.member_ids or ()),
            tuple(r.member_types or ()),
            tuple(r.member_roles or ()),
        )
        for r in df.collect()
    )


def test_datasource_matches_read_pbf(spark, pbf_file):
    register(spark)
    via_source = spark.read.format("osmpbf").load(pbf_file)
    via_mapinpandas = pbf.read_pbf(spark, pbf_file)
    assert via_source.schema == via_mapinpandas.schema
    assert _canon(via_source) == _canon(via_mapinpandas)
    assert via_source.count() == 31


def test_datasource_partition_planning(pbf_file):
    reader = OsmPbfReader({"path": pbf_file, "blobspertask": "1"})
    parts = reader.partitions()
    # 25 nodes /10 + 5 ways /10 + 1 rel /10 -> 5 OSMData blobs, 1 each
    assert len(parts) == 5
    assert all(len(p.blobs) == 1 for p in parts)
    grouped = OsmPbfReader({"path": pbf_file, "blobspertask": "4"}).partitions()
    assert len(grouped) == 2


def test_datasource_composes_with_catalyst(spark, pbf_file):
    register(spark)
    df = (
        spark.read.format("osmpbf")
        .load(pbf_file)
        .filter((F.col("osm_type") == "node") & (F.col("tags")["amenity"] == "cafe"))
        .select("id", "lon", "lat")
    )
    rows = df.collect()
    assert {r.id for r in rows} == {i for i in range(25) if i % 2}
    assert df.schema.simpleString() == "struct<id:bigint,lon:double,lat:double>"


def test_datasource_requires_path():
    with pytest.raises(ValueError, match="path"):
        OsmPbfReader({})


def test_datasource_name_and_schema():
    assert OsmPbfDataSource.name() == "osmpbf"
    src = OsmPbfDataSource(options={"path": "x"})
    assert "osm_type string" in src.schema()


def test_union_of_type_branches_over_one_load(spark, pbf_file):
    """Two branches of ONE load, filtered to different osm_types and
    unioned in one query, must each read their own rows. A reader that
    accepted pushed filters would be shared by both scans of the load
    and return one branch's rows twice (module docstring)."""
    register(spark)
    scan = spark.read.format("osmpbf").load(pbf_file)
    nodes = scan.filter(F.col("osm_type") == "node").select("osm_type", "id")
    ways = scan.filter(F.col("osm_type") == "way").select("osm_type", "id")
    got = sorted(tuple(r) for r in nodes.unionByName(ways).collect())
    assert got == [("node", i) for i in range(25)] + [("way", 100 + w) for w in range(5)]

"""The workloads: inputs from a seed, the op list, how one op runs
and how its output is checked.

A workload's ``prepare`` writes its inputs under ``work`` and computes the
expected output of every op (once per generated input). ``ops`` is the
op list of one pass in run order. ``run_op`` executes one op through the
engine's public functions, inside ``tracer`` spans, and returns a zero-arg
check that yields None or a mismatch reason.
"""

from __future__ import annotations

import hashlib
import os
import struct

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from osm_poi_database_maker_spark import geo, osm_fixtures as fx, pbf, pipeline, sink
from osm_poi_database_maker_spark.io import load_table
from osm_poi_database_maker_spark.ops import tags as tag_ops
from osm_poi_database_maker_spark.pbf_datasource import OsmPbfReader, register
from osm_poi_database_maker_spark.queries import QUERIES
from osm_poi_database_maker_spark.queries.osm import ORACLE_POI_PIPELINE_FULL, SETTINGS

import check
import gen_osm
import gen_tables


def _file_sha(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()[:16]


# --------------------------------------------------------------------------
# curation_replica: registry queries over a generated parquet replica
# --------------------------------------------------------------------------

class CurationReplica:
    """Ops are registry queries; one op = the registry call (``plan``,
    including any eager jobs it runs) then ``collect()`` (``exec``), and
    the collected rows are compared with the query's DuckDB oracle."""

    name = "curation_replica"
    # a producer/consumer pair for the near-dup pair and BPE memo caches,
    # the range-pid bounds cache, the dense k-means loop, and one
    # watermarked micro-batch stream through streaming.py
    ops_list = (
        "doc_dedup_clusters",
        "doc_dedup_survivors",
        "doc_bpe_merges",
        "doc_bpe_encode",
        "doc_global_index",
        "emb_kmeans_iterations",
        "stream_hourly_window",
    )
    sf = 0.005
    replicas = 4

    def prepare(self, seed: int, work: str) -> dict:
        self.data_dir = os.path.join(work, "data")
        tables = gen_tables.replicate_constant(
            gen_tables.build_tables(seed, self.sf), self.replicas
        )
        info = gen_tables.write_tables(tables, self.data_dir)
        self.input_rows = sum(v["rows"] for v in info.values())
        self.expected = check.registry_oracles(
            self.data_dir, list(self.ops_list), self.sf * self.replicas
        )
        for name, v in info.items():
            v["sha256"] = _file_sha(os.path.join(self.data_dir, f"{name}.parquet"))
        return info

    def ops(self) -> list[str]:
        return list(self.ops_list)

    @staticmethod
    def module_of(op: str) -> str:
        return QUERIES[op].__module__.rsplit(".", 1)[-1]

    def run_op(self, spark, op: str, tracer):
        with tracer.span("plan"):
            df = QUERIES[op](spark, self.data_dir)
        with tracer.span("exec"):
            rows = [tuple(r) for r in df.collect()]
        cols = df.columns
        return lambda: self.expected[op].mismatch(cols, rows)

    def layer_probes(self, spark, tracer) -> dict[str, float]:
        """io.scan_s: every input table through ``io.load_table`` to the
        noop sink."""
        with tracer.span("io.scan"):
            for t in check.SOURCE_TABLES:
                load_table(spark, self.data_dir, t).write.format("noop").mode("overwrite").save()
        return {"io.scan_s": tracer.total("io.scan")}


# --------------------------------------------------------------------------
# poi_etl: the reference's deliverable over a generated extract
# --------------------------------------------------------------------------

_VALUES_CTES = (
    (fx.ep1_nodes_values_sql(), "SELECT * FROM gen_nodes"),
    (fx.ep1_ways_values_sql(), "SELECT * FROM gen_ways"),
    (fx.ep1_way_nodes_values_sql(), "SELECT * FROM gen_way_nodes"),
)


def pipeline_oracle_sql() -> str:
    """``ORACLE_POI_PIPELINE_FULL`` with its three inline fixture VALUES
    replaced by the tables ``gen_nodes``, ``gen_ways`` and ``gen_way_nodes``:
    the same SQL fragments and settings, over any entity list."""
    sql = ORACLE_POI_PIPELINE_FULL
    for values, table in _VALUES_CTES:
        if sql.count(values) != 1:
            raise ValueError("fixture VALUES block not found exactly once in the oracle")
        sql = sql.replace(values, table)
    return sql


_DEAD_LETTER_SQL = """
SELECT id FROM (
  SELECT id, lon, lat,
         row_number() OVER (PARTITION BY id ORDER BY version DESC, tstamp DESC) AS rn
  FROM gen_nodes
) WHERE rn = 1 AND NOT (lon BETWEEN -180 AND 180 AND lat BETWEEN -90 AND 90)
"""

POI_OPS = ("write_routed", "copy_text", "dead_letter", "centroids")
ROUTED_COLS = ["osm_type", "id", "copy_line", "lon_r", "lat_r", "n_points", "area_r"]


def poi_frames(spark, pbf_path: str) -> dict:
    """The composed pass as DataFrames, as the registry's
    ``osm_poi_pipeline_full`` composes it, plus the COPY geometry
    columns, the dead-letter branch and the centroid conversion."""
    register(spark)
    scan = spark.read.format("osmpbf").load(pbf_path)
    taginfo = fx.taginfo_df(spark)
    nodes = scan.filter(F.col("osm_type") == "node").select(
        "id", "version", "user_id", "tstamp", "changeset_id", "tags", "lon", "lat",
        (F.col("lon").between(-180.0, 180.0) & F.col("lat").between(-90.0, 90.0)).alias("geom_valid"),
    )
    node_pois = pipeline.poi_nodes(nodes, taginfo, SETTINGS)
    nodes_out = node_pois.select(
        "id", "version", "user_id", "tstamp", "changeset_id", "tags_hstore", "lon", "lat",
        F.lit(None).cast("long").alias("n_points"),
        F.lit(None).cast("double").alias("area_r"),
    )
    ways_meta = scan.filter(F.col("osm_type") == "way").select(
        "id", "version", "user_id", "tstamp", "changeset_id", "tags", "refs"
    )
    wn = ways_meta.select(
        F.col("id").alias("way_id"), F.posexplode("refs").alias("sequence_id", "node_id")
    )
    rings = geo.assemble_rings(wn, nodes.select("id", "lon", "lat"))
    ways_df = ways_meta.join(rings, ways_meta["id"] == rings["way_id"], "left").select(
        ways_meta["id"], "version", "user_id", "tstamp", "changeset_id", "tags", "ring",
        (~F.coalesce(F.col("has_missing_node"), F.lit(True))).alias("geom_valid"),
    )
    pw = pipeline.poi_ways(ways_df, taginfo, SETTINGS)
    trimmed = tag_ops.trim_tag_keys(F.col("tags"), SETTINGS.trim_tags)
    way_pois = pw.select(
        "id", "version", "user_id",
        F.date_format("tstamp", "yyyy-MM-dd HH:mm:ss").alias("tstamp"),
        "changeset_id",
        tag_ops.hstore_literal(trimmed).alias("tags_hstore"),
        F.size("ring").cast("long").alias("n_points"),
        F.round("area_m2", 2).alias("area_r"),
        geo.wkb_polygon_hex(F.col("ring")).alias("geom"),
    )
    ways_out = way_pois.select(
        "id", "version", "user_id", "tstamp", "changeset_id", "tags_hstore",
        F.lit(None).cast("double").alias("lon"),
        F.lit(None).cast("double").alias("lat"),
        "n_points", "area_r",
    )
    routed = pipeline.route_pois(nodes_out, ways_out).select(
        "osm_type", "id",
        sink.copy_line(
            ("id", "version", "user_id", "tstamp", "changeset_id", "tags_hstore")
        ).alias("copy_line"),
        F.round("lon", 7).alias("lon_r"),
        F.round("lat", 7).alias("lat_r"),
        "n_points", "area_r",
    )
    return {
        "nodes": nodes, "ways_meta": ways_meta, "ways_df": ways_df, "taginfo": taginfo, "pw": pw,
        "node_pois": node_pois, "way_pois": way_pois, "routed": routed,
        "quarantine": pipeline.quarantined_nodes(nodes),
        "centroids": pipeline.ways_to_centroids(pw, SETTINGS),
    }


def _read_lines(path: str) -> list[str]:
    out = []
    for name in sorted(os.listdir(path)):
        if name.startswith("part-"):
            with open(os.path.join(path, name), encoding="utf-8") as f:
                out.extend(f.read().splitlines())
    return out


def _split_geom(lines: list[str]) -> tuple[list[str], list[bytes]]:
    heads, geoms = [], []
    for ln in lines:
        head, hexwkb = ln.rsplit("\t", 1)
        heads.append(head)
        geoms.append(bytes.fromhex(hexwkb))
    return heads, geoms


class PoiEtl:
    """One pass = the composed pipeline over a generated extract, written
    through the engine's sinks; every written output is read back and
    compared with an independent DuckDB rebuild from the generator's own
    entity list."""

    name = "poi_etl"
    n_ways = 2_500

    def prepare(self, seed: int, work: str) -> dict:
        self.work = work
        self.pbf_path = os.path.join(work, "extract.osm.pbf")
        nodes, ways = gen_osm.build_extract(seed, self.n_ways)
        pbf.encode_pbf(self.pbf_path, nodes=nodes, ways=ways)
        self.input_rows = len(nodes) + len(ways)
        self.expected = self.expectations(gen_osm.oracle_tables(nodes, ways))
        return {
            "extract.osm.pbf": {
                "rows": self.input_rows, "nodes": len(nodes), "ways": len(ways),
                "bytes": os.path.getsize(self.pbf_path), "sha256": _file_sha(self.pbf_path),
            }
        }

    @staticmethod
    def expectations(tables: dict, sql: str | None = None) -> dict:
        con = duckdb.connect()
        try:
            for name, tbl in tables.items():
                con.register(f"{name}_arrow", tbl)
                con.execute(f"CREATE TABLE {name} AS SELECT * FROM {name}_arrow")
            rel = con.sql(sql or pipeline_oracle_sql())
            cols = list(rel.columns)
            rows = rel.fetchall()
            dead = sorted(r[0] for r in con.sql(_DEAD_LETTER_SQL).fetchall())
        finally:
            con.close()
        i = {c: k for k, c in enumerate(cols)}
        node_rows = [r for r in rows if r[i["osm_type"]] == "node"]
        way_rows = [r for r in rows if r[i["osm_type"]] == "way"]
        return {
            "routed": check.Expected(cols, rows),
            "copy_text": sorted(r[i["copy_line"]] for r in rows),
            "node_xy": {r[i["id"]]: (r[i["lon_r"]], r[i["lat_r"]]) for r in node_rows},
            "way_points": {r[i["id"]]: r[i["n_points"]] for r in way_rows},
            "dead_letter": dead,
            "centroids": sorted(
                r[i["id"]] + SETTINGS.centroid_id_offset
                for r in way_rows if r[i["area_r"]] <= SETTINGS.centroid_area_m2
            ),
        }

    def ops(self) -> list[str]:
        return list(POI_OPS)

    def begin_pass(self, spark, pass_no: int) -> None:
        self.out = os.path.join(self.work, f"out{pass_no}")
        self.frames = poi_frames(spark, self.pbf_path)

    def run_op(self, spark, op: str, tracer):
        fr, out = self.frames, os.path.join(self.out, op)
        with tracer.span("exec"):
            if op == "write_routed":
                sink.write_routed(fr["routed"], out)
            elif op == "copy_text":
                pois = fr["node_pois"].select(*sink.NODE_COPY_COLUMNS).unionByName(
                    fr["way_pois"].select(*sink.WAY_COPY_COLUMNS)
                )
                sink.render_copy_rows(pois).write.text(out)
            elif op == "dead_letter":
                sink.write_dead_letter(fr["quarantine"], out)
            elif op == "centroids":
                fr["centroids"].write.parquet(out)
        return lambda: self.check_output(op, out)

    def check_output(self, op: str, out: str) -> str | None:
        exp = self.expected
        if op == "write_routed":
            con = duckdb.connect()
            try:
                rel = con.sql(
                    f"SELECT {', '.join(ROUTED_COLS)} FROM read_parquet("
                    f"'{out}/*/*.parquet', hive_partitioning = true)"
                )
                return exp["routed"].mismatch(list(rel.columns), rel.fetchall())
            finally:
                con.close()
        if op == "copy_text":
            heads, geoms = _split_geom(_read_lines(out))
            if sorted(heads) != exp[op]:
                return f"{len(heads)} COPY rows differ from the {len(exp[op])} expected"
            for head, g in zip(heads, geoms):
                oid = int(head.split("\t", 1)[0])
                kind = struct.unpack_from("<I", g, 1)[0]  # WKB type: 1 point, 3 polygon
                if kind == 1:
                    x, y = struct.unpack_from("<dd", g, 5)
                    if (round(x, 7), round(y, 7)) != exp["node_xy"].get(oid):
                        return f"node {oid}: WKB point {x},{y} differs"
                elif kind != 3 or struct.unpack_from("<I", g, 9)[0] != exp["way_points"].get(oid):
                    return f"way {oid}: WKB polygon differs"
            return None
        if op == "dead_letter":
            ids = sorted(pq.read_table(out, columns=["id"])["id"].to_pylist())
            return None if ids == exp["dead_letter"] else f"dead letter ids: {len(ids)} != {len(exp['dead_letter'])}"
        if op == "centroids":
            ids = sorted(pq.read_table(out, columns=["id"])["id"].to_pylist())
            return None if ids == exp["centroids"] else f"centroid ids: {len(ids)} != {len(exp['centroids'])}"
        raise KeyError(op)

    def layer_probes(self, spark, tracer) -> dict[str, float]:
        """Decode cost in-process; scan, dedup, cascade, rings and WKB as
        cumulative prefix runs to the noop sink (each minus the one before;
        approximate, as Catalyst fuses stages); exact funnel counts; sink
        output sizes of the first pass."""
        m: dict[str, float] = {}
        with tracer.span("pbf.decode"):
            n = 0
            with open(self.pbf_path, "rb") as f:
                for btype, off, size in pbf.scan_blob_index(self.pbf_path):
                    f.seek(off)
                    raw = pbf.decompress_blob(f.read(size))
                    if btype == "OSMData":
                        n += len(pbf.decode_primitive_block(raw))
        m["pbf.decode_us_per_entity"] = tracer.total("pbf.decode") / n * 1e6
        m["pbf_datasource.partitions"] = len(OsmPbfReader({"path": self.pbf_path}).partitions())

        fr = poi_frames(spark, self.pbf_path)
        nodes, ways = fr["nodes"], fr["ways_meta"]
        dim = pipeline.build_toi_dim(fr["taginfo"], SETTINGS)
        dn, dw = pipeline.dedup_latest(nodes), pipeline.dedup_latest(ways)
        prefixes = {
            "scan": (nodes, ways),
            "dedup": (dn, dw),
            "cascade": (pipeline.poi_filter(dn, dim, SETTINGS), pipeline.poi_filter(dw, dim, SETTINGS)),
            "rings": (pipeline.poi_filter(dn, dim, SETTINGS), fr["pw"]),
            "wkb": (fr["node_pois"], fr["way_pois"]),
        }
        t = {}
        for stage, frames in prefixes.items():
            with tracer.span(f"prefix.{stage}"):
                for df in frames:
                    df.write.format("noop").mode("overwrite").save()
            t[stage] = tracer.total(f"prefix.{stage}")
        m["pbf_datasource.scan_s"] = t["scan"]
        m["pipeline.dedup_s"] = t["dedup"] - t["scan"]
        m["pipeline.cascade_s"] = t["cascade"] - t["dedup"]
        m["geo.assemble_rings_s"] = t["rings"] - t["cascade"]
        m["geo.wkb_s"] = t["wkb"] - t["rings"]

        both = dn.select("tags").unionByName(dw.select("tags"))
        nonempty = both.filter(tag_ops.non_empty_tags(F.col("tags")))
        kept = nonempty.filter(~tag_ops.excluded_by_superset(F.col("tags"), SETTINGS.exclude))
        funnel = {
            "in": both.count(),
            "nonempty": nonempty.count(),
            "named": nonempty.filter(tag_ops.has_tag_key(F.col("tags"), "name")).count(),
            "not_excluded": kept.count(),
            "toi": pipeline.poi_filter(dn, dim, SETTINGS).count()
            + pipeline.poi_filter(dw, dim, SETTINGS).count(),
        }
        for k, v in funnel.items():
            m[f"pipeline.funnel.{k}"] = v
        m["pipeline.survival_ratio"] = funnel["toi"] / funnel["in"]
        ring = F.col("ring")
        valid = (
            F.col("geom_valid") & ring.isNotNull() & (F.size(ring) >= 4)
            & (F.element_at(ring, 1) == F.element_at(ring, -1))
        )
        m["geo.rings_invalid"] = pipeline.dedup_latest(fr["ways_df"]).filter(~valid).count()

        out0 = os.path.join(self.work, "out0")
        files = [
            os.path.join(d, f) for d, _s, fs in os.walk(out0) for f in fs if f.startswith("part-")
        ]
        size = sum(os.path.getsize(f) for f in files)
        exp = self.expected
        rows = (
            2 * exp["routed"].n_rows + len(exp["dead_letter"]) + len(exp["centroids"])
        )
        m["sink.write_s"] = sum(
            tracer.dur(s) for s in tracer.spans
            if s["name"] == "exec" and s["op"] and s["op"].startswith("p0:")
        )
        m["sink.bytes_written"] = size
        m["sink.bytes_per_row"] = size / rows
        m["sink.files_written"] = len(files)
        return m


WORKLOADS = {
    w.name: w for w in (PoiEtl, CurationReplica)
}

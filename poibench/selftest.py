"""Checker self-test: the benchmark's poi_etl path on the registry fixture.

1. The fixture entities of ``osm_poi_pipeline_full`` are written as PBF
   and run through the benchmark's own composition and sinks; every
   written output must match ``ORACLE_POI_PIPELINE_FULL`` unmodified.
2. The oracle the benchmark uses on generated extracts (the same SQL with
   the fixture VALUES swapped for tables) must give the identical rows
   when those tables hold the fixture entities.
3. The checker must reject a copy of each output with one altered row.

Run with ``python3 poibench/run.py --selftest``; exit code 0 means pass.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from osm_poi_database_maker_spark import osm_fixtures as fx, pbf
from osm_poi_database_maker_spark.queries.osm import ORACLE_POI_PIPELINE_FULL

import gen_osm
from probe import Tracer
from workloads import PoiEtl, pipeline_oracle_sql


def _alter_parquet(src: str, dst: str) -> None:
    """Copy a partitioned parquet output and change one copy_line."""
    shutil.copytree(src, dst)
    for d, _s, files in os.walk(dst):
        for f in sorted(files):
            if f.startswith("part-") and f.endswith(".parquet"):
                path = os.path.join(d, f)
                tbl = pq.read_table(path)
                if tbl.num_rows:
                    lines = tbl["copy_line"].to_pylist()
                    lines[0] = lines[0] + "x"
                    i = tbl.schema.get_field_index("copy_line")
                    pq.write_table(tbl.set_column(i, "copy_line", pa.chunked_array([lines])), path)
                    return
    raise AssertionError("no routed rows to alter")


def _alter_text(src: str, dst: str) -> None:
    shutil.copytree(src, dst)
    for f in sorted(os.listdir(dst)):
        path = os.path.join(dst, f)
        if f.startswith("part-") and os.path.getsize(path):
            with open(path, encoding="utf-8") as fh:
                lines = fh.read().splitlines()
            lines[0] = lines[0].replace("\t", "\t9", 1)
            with open(path, "w", encoding="utf-8") as fh:
                fh.write("\n".join(lines) + "\n")
            return
    raise AssertionError("no COPY rows to alter")


def run(spark, work: str) -> int:
    nodes, ways = fx.ep1_pbf_nodes(), fx.ep1_pbf_ways()
    wl = PoiEtl()
    wl.work = work
    wl.pbf_path = os.path.join(work, "fixture.osm.pbf")
    pbf.encode_pbf(wl.pbf_path, nodes=nodes, ways=ways, block_size=7)
    wl.expected = PoiEtl.expectations(gen_osm.oracle_tables(nodes, ways), ORACLE_POI_PIPELINE_FULL)
    swapped = PoiEtl.expectations(gen_osm.oracle_tables(nodes, ways), pipeline_oracle_sql())
    problems = []
    if swapped["routed"].hash != wl.expected["routed"].hash:
        problems.append("table-fed oracle differs from the registry oracle on the fixture")
    if wl.expected["routed"].n_rows == 0:
        problems.append("fixture oracle has no rows")

    wl.begin_pass(spark, 0)
    outs = {}
    for op in wl.ops():
        verify = wl.run_op(spark, op, Tracer())
        reason = verify()
        if reason:
            problems.append(f"{op}: {reason}")
        outs[op] = os.path.join(wl.out, op)

    bad = os.path.join(work, "altered")
    _alter_parquet(outs["write_routed"], bad + "_routed")
    if wl.check_output("write_routed", bad + "_routed") is None:
        problems.append("checker accepted a routed output with one altered row")
    _alter_text(outs["copy_text"], bad + "_copy")
    if wl.check_output("copy_text", bad + "_copy") is None:
        problems.append("checker accepted a COPY text output with one altered row")

    for p in problems:
        print(f"FAIL {p}")
    print("selftest", "FAILED" if problems else "passed",
          f"({wl.expected['routed'].n_rows} routed rows)")
    return 1 if problems else 0

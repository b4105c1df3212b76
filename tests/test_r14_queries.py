"""Round-14 pins: the three r14 registrations (minhash cap audit + the
two streaming sampling twins), the driver-window policy for queries
changed this round, and the r13-verdict #5 self-tuning route of
curation_with_neardup."""

from __future__ import annotations

import os

from tests.conftest import SF_SMOKE


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_changed_this_round_leads_window():
    """Every query in CHANGED_THIS_ROUND is registered, appears once and
    sits in the driver's 50-entry window; the two streaming twins reuse
    their batch twins' oracles VERBATIM (the property the r13
    differential pins certified)."""
    from osm_poi_database_maker_spark import queries as q
    from osm_poi_database_maker_spark.queries import curation, events

    window = list(q.QUERIES)[:50]
    changed = q.CHANGED_THIS_ROUND
    assert len(changed) == len(set(changed))
    for n in changed:
        assert n in q.QUERIES and n in q.ORACLES, n
        assert n in window, n
    assert q.ORACLES["stream_reservoir_sample"] is events.ORACLE_RESERVOIR
    assert q.ORACLES["stream_weighted_sample"] is curation.ORACLE_WEIGHTED_SAMPLE
    assert "saturated_buckets" in q.ORACLES["doc_minhash_cap_audit"]


def test_cap_audit_stock_fixture_unsaturated(spark, tmp_path):
    """r13 verdict #3 done-criteria: the audit reads 0 saturated buckets
    on the stock fixture — and the row must match the DuckDB oracle
    exactly (schema + values)."""
    import duckdb

    from osm_poi_database_maker_spark.queries.dedup import (
        ORACLE_MINHASH_CAP_AUDIT,
        q_doc_minhash_cap_audit,
    )

    df = q_doc_minhash_cap_audit(spark, SF_SMOKE)
    [row] = df.collect()
    assert row.n_buckets > 0 and row.multi_buckets > 0
    assert row.saturated_buckets == 0 and row.capped_pair_delta == 0
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(SF_SMOKE, 'documents.parquet')}'"
    )
    assert con.sql(ORACLE_MINHASH_CAP_AUDIT).fetchall() == [tuple(row)]


def test_cap_audit_binds_on_twin_mass(spark, tmp_path):
    """On a corpus with more verbatim twins than the bucket cap, every
    band's shared bucket saturates and the audit reports the EXACT
    capped-pair delta — pinned against the closed form and against the
    DuckDB oracle replay on the same parquet."""
    import duckdb

    from osm_poi_database_maker_spark.dedup import DEFAULT_BANDS
    from osm_poi_database_maker_spark.queries.dedup import (
        _MINHASH_MAX_BUCKET,
        ORACLE_MINHASH_CAP_AUDIT,
        q_doc_minhash_cap_audit,
    )

    m = _MINHASH_MAX_BUCKET + 10  # 10 rows past the cap in every bucket
    d = spark.range(1, m + 1).selectExpr(
        "id AS doc_id", "'alpha beta gamma delta epsilon' AS text"
    )
    out = str(tmp_path / "twins")
    d.coalesce(1).write.parquet(out)
    # rename part file so the oracle's view glob and load_table both work
    part = [f for f in os.listdir(out) if f.endswith(".parquet")][0]
    os.replace(
        os.path.join(out, part), os.path.join(out, "documents.parquet")
    )
    [row] = q_doc_minhash_cap_audit(spark, out).collect()
    c2 = lambda k: k * (k - 1) // 2  # noqa: E731
    assert row.n_buckets == DEFAULT_BANDS  # identical sig → 1 bucket/band
    assert row.saturated_buckets == DEFAULT_BANDS
    assert row.max_bucket_size == m
    assert row.capped_pair_delta == DEFAULT_BANDS * (
        c2(m) - c2(_MINHASH_MAX_BUCKET)
    )
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(out, 'documents.parquet')}'"
    )
    assert con.sql(ORACLE_MINHASH_CAP_AUDIT).fetchall() == [tuple(row)]


def test_global_rank_above_sampling_threshold(spark):
    """r14 sf1.0-battery regression: _global_rank must be exact and
    run-stable ABOVE the range-partitioner sampling threshold (~50k
    rows), where the old repartitionByRange+spark_partition_id pattern
    let the rank branch and the offset branch sample DIFFERENT
    boundaries (48k/50k rows mis-ranked at the 10x replica, unstable
    across runs). Sparse two-block ids mimic the replica's +1e9 offset
    layout that exposed it."""
    from pyspark.sql import functions as F

    from osm_poi_database_maker_spark.queries.curation import _global_rank

    d = spark.range(0, 50000).select(
        (F.when(F.col("id") % 2 == 0, F.col("id"))
         .otherwise(F.col("id") + 1_000_000_000)).alias("k")
    )
    expected = {k: i for i, k in enumerate(sorted(
        (i if i % 2 == 0 else i + 1_000_000_000) for i in range(50000)
    ))}
    for _ in range(2):  # twice: the old failure mode was run-unstable
        got = {r.k: r.global_id for r in _global_rank(d, ["k"]).collect()}
        assert len(got) == 50000
        assert got == expected


def test_session_overlap_sweep_boundary_semantics(spark, tmp_path):
    """The r14 sweep-line rewrite of events_session_overlap rests on two
    facts pinned here with hand-built sessions: (1) touching intervals
    COUNT (t0_b == t1_a satisfies the inclusive predicate — the ≤ vs <
    tie rules in the two sweeps), and (2) same-user islands are
    >gap-separated so the only same-user overlap is self (the −1)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from osm_poi_database_maker_spark.queries.events import (
        _OVL_GAP_US,
        q_events_session_overlap,
    )

    base = dt.datetime(2024, 1, 1)
    us = lambda x: base + dt.timedelta(microseconds=x)  # noqa: E731
    m = 60_000_000  # one minute; events inside an island stay < the 30-min gap
    rows = [
        # user 1, island A: [0, 20m]; island B: one event past the gap
        (1, 1, us(0)),
        (2, 1, us(20 * m)),
        (3, 1, us(20 * m + _OVL_GAP_US + 1)),
        # user 2: one session [20m, 40m] — touches user1-A at exactly 20m
        (4, 2, us(20 * m)),
        (5, 2, us(40 * m)),
        # user 3: one session strictly inside user2's: [25m, 30m]
        (6, 3, us(25 * m)),
        (7, 3, us(30 * m)),
    ]
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "ts": pa.array([r[2] for r in rows], pa.timestamp("us")),
            "event_type": pa.array(["e"] * len(rows)),
            "value": pa.array([1.0] * len(rows)),
        }
    )
    d = str(tmp_path / "sfov")
    os.makedirs(d)
    pq.write_table(tbl, os.path.join(d, "events.parquet"))
    out = q_events_session_overlap(spark, d).collect()
    per_user: dict = {}
    for r in sorted(out, key=lambda r: (r.user_id, r.session_t0_us)):
        per_user.setdefault(r.user_id, []).append(r.n_concurrent)
    assert per_user == {
        # island A touches user2 at the boundary (counts); island B is
        # past the gap — no self/same-user count
        1: [1, 0],
        2: [2],  # user1-A (touching) + user3 (contained)
        3: [1],  # inside user2 only
    }


def test_neardup_twin_mass_probe(spark, tmp_path):
    """The curation auto-routing probe (r13 verdict #5): zero on the
    twin-free stock fixture (→ direct path), positive on the twin-heavy
    growth replica (→ collapsed path)."""
    import shutil
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from scale_experiment import build_replica

    from osm_poi_database_maker_spark.io import load_table
    from osm_poi_database_maker_spark.queries.curation import neardup_twin_mass

    assert neardup_twin_mass(load_table(spark, SF_SMOKE, "documents")) == 0
    dst = str(tmp_path / "growth4x")
    build_replica(SF_SMOKE, dst, 4, "growth")
    try:
        assert neardup_twin_mass(load_table(spark, dst, "documents")) > 0
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_curation_autoroute_row_identity(spark, tmp_path):
    """collapsed=None must route by the probe AND stay row-identical to
    the explicitly-forced paths (which are pinned identical to each
    other in test_r13_queries): auto == collapsed-path rows on the
    twin-heavy replica, auto == direct-path rows on the stock fixture."""
    import shutil
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from scale_experiment import build_replica

    from osm_poi_database_maker_spark.queries.curation import (
        curation_with_neardup,
    )

    dst = str(tmp_path / "growth4x")
    build_replica(SF_SMOKE, dst, 4, "growth")
    try:
        auto = _rows(curation_with_neardup(spark, dst))
        forced = _rows(curation_with_neardup(spark, dst, collapsed=True))
        assert auto == forced and len(auto) > 0
    finally:
        shutil.rmtree(dst, ignore_errors=True)
    auto_stock = _rows(curation_with_neardup(spark, SF_SMOKE))
    direct_stock = _rows(curation_with_neardup(spark, SF_SMOKE, collapsed=False))
    assert auto_stock == direct_stock and len(auto_stock) > 0


def test_distinct_shingle_hash_matches_string_path(spark):
    """The r14 composed-fold distinct shingle hashes must equal hashing
    the DISTINCT shingle STRINGS (word_shingles + portable_token_hash)
    value-for-value and order-for-order — including the leading/trailing
    empty-token shingles, duplicated shingles (distinct by string, not
    by multiset), and the <3-token empty-array gate the explicit filter
    used to provide."""
    from pyspark.sql import functions as F

    from osm_poi_database_maker_spark.dedup import (
        distinct_shingle_hash_array,
        portable_token_hash,
        word_shingles,
    )

    texts = [
        "a b c ",
        " a b c",
        "x y x y x y z",
        "spam spam spam spam",
        "a",
        "",
        "  ",
        "t1 t2 t3 t1 t2 t3 t1 t2 t3",
        "a b",
        "one two three four five",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    ge3 = F.size(F.split("text", " +")) >= 3
    rows = df.select(
        "text",
        F.when(
            ge3,
            F.transform(
                word_shingles(F.col("text")), lambda s: portable_token_hash(s)
            ),
        )
        .otherwise(F.array().cast("array<bigint>"))
        .alias("old"),
        distinct_shingle_hash_array(F.split("text", " +")).alias("new"),
    ).collect()
    for r in rows:
        assert list(r.old) == list(r.new), r.text


def test_collapse_repeats_shifted_zip_matches_indexed_form(spark):
    """The r14 shifted-array zip_with formulation of
    doc_collapse_repeats must be row-identical to the previous
    get(t, i−1) indexed-lambda formulation (which needed a shuffle
    barrier against CollapseProject's quadratic re-split)."""
    from pyspark.sql import functions as F

    from osm_poi_database_maker_spark.io import load_table
    from osm_poi_database_maker_spark.queries.text import q_doc_collapse_repeats

    d = load_table(spark, SF_SMOKE, "documents")
    tok = d.select("doc_id", F.split(F.col("text"), " +").alias("t")).repartition(
        "doc_id"
    )
    t = F.col("t")
    kept = F.filter(t, lambda x, i: (i == F.lit(0)) | (x != F.get(t, i - F.lit(1))))
    old = (
        tok.select(
            "doc_id",
            F.size(t).alias("n_tokens"),
            F.size(kept).alias("n_after"),
            (F.size(t) - F.size(kept)).alias("n_removed"),
            F.substring(F.concat_ws(" ", kept), 1, 50).alias("cleaned_prefix"),
        )
        .filter(F.col("n_removed") > 0)
        .orderBy("doc_id")
    )
    assert _rows(old) == _rows(q_doc_collapse_repeats(spark, SF_SMOKE))

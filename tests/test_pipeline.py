"""Flagship pipeline + blue-green publish end-to-end (FIXTURES.md §4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geospatial_data_pipeline_spark_sedona_on_aws_spark.plans import (
    catalog,
    fixtures,
    pipeline,
)

from tests.conftest import SF_SMOKE

def test_fixture_parity_spark_vs_duckdb(spark, duck):
    """The Spark fixture derivation and the oracle CTE text must agree
    bit-for-bit — this is the foundation of every spatial oracle."""
    s = fixtures.land_use_areas(spark, SF_SMOKE).toPandas()
    o = duck.execute(
        f"WITH {fixtures.LAND_USE_CTE.strip()} SELECT * FROM land_use"
    ).df()
    key = ["property_id", "region_id", "season_id", "land_type_id", "x1", "y1", "x2", "y2"]
    assert sorted(map(tuple, s[key].values.tolist())) == sorted(map(tuple, o[key].values.tolist()))

    sr = fixtures.geographic_regions(spark, SF_SMOKE).toPandas().sort_values("id")
    orc = duck.execute(
        f"WITH {fixtures.REGIONS_CTE.strip()} SELECT * FROM regions ORDER BY id"
    ).df()
    assert sr[["id", "gx1", "gy1", "gx2", "gy2"]].values.tolist() == \
        orc[["id", "gx1", "gy1", "gx2", "gy2"]].values.tolist()

def _drop_snapshots(spark, table):
    for t in catalog.list_snapshots(spark, table):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    spark.sql(f"DROP VIEW IF EXISTS vw_{table}")

def _read_csv_sink(path):
    import glob
    import os

    import pandas as pd

    parts = [p for p in sorted(glob.glob(os.path.join(path, "part-*")))
             if os.path.getsize(p)]
    return pd.concat(
        [pd.read_csv(p, header=None, float_precision="round_trip",
                     names=["region_id", "season_id", "land_type_id", "area"])
         for p in parts],
        ignore_index=True)

def _assert_equals_crop_oracle(pdf, duck):
    key = ["region_id", "season_id", "land_type_id"]
    o = duck.execute(pipeline.CROP_ANALYTICS_ORACLE).df()
    s = pdf.sort_values(key).reset_index(drop=True)
    o = o.sort_values(key).reset_index(drop=True)
    assert len(s) == len(o)
    assert (s[key].values == o[key].values).all()
    assert (s["area"] == o["area"]).all()

def test_crop_analytics_matches_oracle(spark, duck):
    _assert_equals_crop_oracle(pipeline.crop_analytics(spark, SF_SMOKE).toPandas(), duck)

def test_full_chain_positive_areas(spark):
    rows = pipeline._crop_analytics_full_area(spark, SF_SMOKE).collect()
    assert len(rows) > 0
    assert all(r["area"] >= 0 for r in rows)


def test_full_chain_oracle_quantization_margin(spark, duck):
    """crop_analytics_full is gate-checked through a 0.01 m² quantization
    (round(area·100) BIGINT on both engines). This test measures the RAW
    cross-engine disagreement — engine chain vs the oracle SQL with the
    final rounding stripped — and asserts it stays ≥1e4 below the quantum,
    so the hash match is robust, not luck. It also asserts no true value
    sits so close to a rounding boundary that ulp noise could flip it."""
    raw_sql = pipeline.CROP_ANALYTICS_FULL_ORACLE.replace(
        "CAST(round(coalesce(sum(ra.a), 0.0) * 100) AS BIGINT) AS area_q",
        "coalesce(sum(ra.a), 0.0) AS area")
    assert "area_q" not in raw_sql  # replacement actually happened
    o = duck.execute(raw_sql).df()
    key = ["region_id", "season_id", "land_type_id"]
    oracle = {tuple(int(r[k]) for k in key): float(r["area"])
              for _, r in o.iterrows()}
    engine = {tuple(int(r[k]) for k in key): float(r["area"])
              for r in pipeline._crop_analytics_full_area(spark, SF_SMOKE).collect()}
    assert set(engine) == set(oracle)
    worst = max(abs(engine[k] - oracle[k]) for k in engine)
    assert worst < 1e-6, f"cross-engine disagreement {worst} too close to quantum"
    # distance of each true value (×100) to the nearest .5 rounding boundary
    margin = min(abs((v * 100) % 1.0 - 0.5) for v in engine.values())
    assert margin > 1e-3, f"a value sits {margin} from a rounding boundary"

def test_full_chain_matches_planar_times_jacobian(spark):
    """Value check for the full parity chain (MakeValid/Buffer/Union/
    Intersection/Transform composition — reference
    spark_job/process_geodata.py:102-139), closing the r2 rows-only hole.

    The fixture domain spans ~115 m of EPSG:3857 near (0 m, 0 m), where the
    3857→5880 map is affine to ~1e-9 relative (second-order terms scale with
    domain/earth-radius). Under an affine map every polygon area scales by
    the SAME factor — |det J| of the transform — so the full chain must
    equal the planar cell-count variant times that one constant, group by
    group. |det J| comes from the closed-form projection equations
    (kernel/transform.py, Snyder USGS PP 1395) evaluated at the domain
    center; its theoretical value at lat→0, Δλ=54° is
    (M'(0)/a + Δλ²/2) ≈ 0.99330 + 0.44413 ≈ 1.4374 (x-scale is exactly 1:
    parallels are standard in both projections at the equator)."""
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel.transform import (
        mercator_to_polyconic,
    )

    # |det J| by central finite differences at the domain center (60, 60) m
    h = 1.0
    xpx, xpy = mercator_to_polyconic(60 + h, 60)
    xmx, xmy = mercator_to_polyconic(60 - h, 60)
    ypx, ypy = mercator_to_polyconic(60, 60 + h)
    ymx, ymy = mercator_to_polyconic(60, 60 - h)
    jac = abs(((xpx - xmx) * (ypy - ymy) - (ypx - ymx) * (xpy - xmy)) / (4 * h * h))
    assert abs(jac - 1.4374) < 2e-3  # closed-form sanity anchor

    key = ["region_id", "season_id", "land_type_id"]
    full = {tuple(r[k] for k in key): r["area"]
            for r in pipeline._crop_analytics_full_area(spark, SF_SMOKE).collect()}
    planar = {tuple(r[k] for k in key): r["area"]
              for r in pipeline.crop_analytics(spark, SF_SMOKE).collect()}
    # planar filters area>0; every planar group must appear in full with
    # area = planar_area × |det J|. Tolerance 2e-5: J drifts a few 1e-6
    # across the domain's ~115 m of latitude (measured worst deviation
    # 5.4e-6 after the half-angle transform + anchored-shoelace fixes —
    # this test caught both).
    assert set(planar) <= set(full)
    for k, a_planar in planar.items():
        ratio = full[k] / (a_planar * jac)
        assert abs(ratio - 1.0) < 2e-5, (k, full[k], a_planar, jac)
    # groups only in full are the empty-clip ones the planar variant drops
    for k in set(full) - set(planar):
        assert full[k] <= 1e-9 * jac, (k, full[k])

def test_blue_green_publish(spark, tmp_path):
    df1 = pipeline.crop_analytics(spark, SF_SMOKE)
    name1 = catalog.publish_snapshot(
        spark, df1, "crop_analytics", "2026-01-01",
        grain=["region_id", "season_id", "land_type_id"],
    )
    assert spark.table("vw_crop_analytics").count() == df1.count()
    # second snapshot repoints the view and retention drops the first
    df2 = df1.withColumn("area", F.col("area") * 2)
    name2 = catalog.publish_snapshot(
        spark, df2, "crop_analytics", "2026-01-02",
        grain=["region_id", "season_id", "land_type_id"],
    )
    assert catalog.list_snapshots(spark, "crop_analytics") == [name2]
    v = spark.table("vw_crop_analytics")
    base = df1.agg(F.sum("area")).first()[0]
    assert v.agg(F.sum("area")).first()[0] == pytest.approx(2 * base)
    # view still resolves after the old table is gone
    assert v.count() == df1.count()

def test_grain_violation_detected(spark):
    dup = spark.createDataFrame(
        [(1, 1, 1, 2.0), (1, 1, 1, 3.0)],
        "region_id int, season_id int, land_type_id int, area double",
    )
    with pytest.raises(catalog.GrainViolation):
        catalog.publish_snapshot(
            spark, dup, "crop_dup", "2026-01-01",
            grain=["region_id", "season_id", "land_type_id"],
        )

def test_backfill_publish_keeps_live_snapshot(spark):
    """Publishing a date older than the current snapshot repoints the view
    at the backfill; retention then drops the newer table, never the one
    the view reads."""
    df = spark.createDataFrame(
        [(1, 1, 1, 2.0), (1, 1, 2, 3.0)],
        "region_id int, season_id int, land_type_id int, area double",
    )
    try:
        catalog.publish_snapshot(spark, df, "crop_bf", "2026-05-01")
        name = catalog.publish_snapshot(spark, df, "crop_bf", "2026-04-01")
        assert catalog.list_snapshots(spark, "crop_bf") == [name]
        assert spark.table("vw_crop_bf").count() == 2
    finally:
        _drop_snapshots(spark, "crop_bf")

def test_refresh_cli_end_to_end(spark, duck, tmp_path):
    """The refresh CLI as the reference runs it: extract, dissolve, CSV
    sink, publish. The view and the CSV both equal the flagship oracle; a
    re-run of a date overwrites it; the next date retires the previous."""
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.__main__ import main

    csv = str(tmp_path / "csv")
    try:
        assert main([SF_SMOKE, "--date", "2031-03-01", "--csv", csv]) == 0
        _assert_equals_crop_oracle(spark.table("vw_crop_analytics").toPandas(), duck)
        _assert_equals_crop_oracle(_read_csv_sink(csv), duck)
        assert main([SF_SMOKE, "--date", "2031-03-01", "--csv", csv]) == 0
        assert catalog.list_snapshots(spark, "crop_analytics") == \
            ["crop_analytics_2031_03_01"]
        assert main([SF_SMOKE, "--date", "2031-03-02", "--csv", csv]) == 0
        assert catalog.list_snapshots(spark, "crop_analytics") == \
            ["crop_analytics_2031_03_02"]
        _assert_equals_crop_oracle(spark.table("vw_crop_analytics").toPandas(), duck)
    finally:
        spark.sparkContext.setLogLevel("ERROR")  # main sets WARN
        _drop_snapshots(spark, "crop_analytics")

def test_refresh_evaluates_flagship_once(spark, monkeypatch, tmp_path):
    """The CSV sink, the grain check and the table write all read one
    materialized result: every result row passes through the flagship
    plan exactly once per refresh, not once per action."""
    rows = spark.sparkContext.accumulator(0)
    flagship = pipeline.crop_analytics

    def tap(batches):
        for b in batches:
            rows.add(len(b))
            yield b

    def counted(spark_, sf_dir):
        df = flagship(spark_, sf_dir)
        return df.mapInPandas(tap, df.schema)

    monkeypatch.setattr(pipeline, "crop_analytics", counted)
    try:
        name = catalog.run_pipeline(spark, SF_SMOKE, "2031-04-01",
                                    csv_path=str(tmp_path / "csv"))
        n = spark.table(name).count()
        assert n > 0
        assert rows.value == n
    finally:
        _drop_snapshots(spark, "crop_analytics")

def test_csv_sink_round_trip(spark, tmp_path):
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.sources.io import (
        read_csv_sink,
        write_csv_sink,
    )

    df = pipeline.crop_analytics(spark, SF_SMOKE)
    path = str(tmp_path / "csv_out")
    write_csv_sink(df, path, num_partitions=3, max_records_per_file=20)
    back = read_csv_sink(
        spark, path,
        "region_id long, season_id long, land_type_id long, area double",
    )
    assert back.count() == df.count()
    assert back.agg(F.sum("area")).first()[0] == df.agg(F.sum("area")).first()[0]

def test_entry_contract(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    assert df.count() > 0
    qs, os_ = E.queries(), E.oracle_sql()
    assert set(os_) <= set(qs)
    # r4: every registry query carries a value oracle — no rows-only rows left
    assert set(qs) - set(os_) == set()


def test_bucketed_join_is_shuffle_free(spark):
    """Co-located bucketed tables join without any Exchange in the plan —
    the write-time partitioning investment that pays off at every read."""
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.sources import io as IO

    for t in ("b_lineitem", "b_orders"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    IO.write_bucketed(li.withColumnRenamed("l_orderkey", "okey"), "b_lineitem", ["okey"], 8)
    IO.write_bucketed(o.withColumnRenamed("o_orderkey", "okey"), "b_orders", ["okey"], 8)

    # at test scale AQE would (rightly) broadcast; force the sort-merge path
    # the buckets exist for, then check it needs neither shuffle nor sort
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # SPARK-28632: since 3.0 per-bucket sortedness is only trusted behind the
    # legacy flag (and only with one file per bucket, which write_bucketed
    # guarantees); without it the shuffle still disappears but a Sort stays
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try:
        joined = IO.bucketed_join(spark, "b_lineitem", "b_orders", ["okey"])
        plan = IO.physical_plan(joined.select("okey", "l_quantity", "o_totalprice"))
        assert "SortMergeJoin" in plan, plan
        assert "ShuffleExchange" not in plan and "Exchange hashpartitioning" not in plan, plan
        assert "+- Sort " not in plan, plan  # sortBy buckets arrive pre-sorted
        # and the result is the plain join's result
        n_plain = li.join(o, li["l_orderkey"] == o["o_orderkey"]).count()
        assert joined.count() == n_plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "false")


def test_fused_full_chain_equals_verbatim_chain(spark):
    """crop_analytics_full (fused dissolve_transform_area) must reproduce
    the verbatim F.expr("ST_…") chain exactly at the oracle quantum —
    same groups, same quantized areas."""
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.plans import (
        pipeline as P,
    )

    sf = "/root/testdata/sf0.001"
    fused = {tuple(r[:3]): r[3]
             for r in P.crop_analytics_full(spark, sf).collect()}
    chain = {tuple(r[:3]): r[3]
             for r in P.crop_analytics_full_chain(spark, sf).collect()}
    assert fused == chain
    assert len(fused) > 0


def test_fused_full_chain_general_geometry_slow_path(spark):
    """Non-rect members route through the kernel hygiene inside the fused
    combine: an L-shape (two rects' worth of area) grouped with rects must
    contribute its clipped, transformed area like the chain would."""
    from pyspark.sql import functions as F

    from geospatial_data_pipeline_spark_sedona_on_aws_spark.operators.dissolve import (
        dissolve_transform_area,
    )
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.plans import (
        pipeline as P,  # noqa: F401  (registers nothing; parity of imports)
    )

    rows = [
        # group 1: two overlapping rects + one L-shape, clip window [0,20]²
        (1, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),
        (1, "POLYGON ((5 0, 15 0, 15 10, 5 10, 5 0))"),
        (1, "POLYGON ((0 10, 5 10, 5 20, 10 20, 10 25, 0 25, 0 10))"),
    ]
    df = (
        spark.createDataFrame(rows, "gid int, g string")
        .withColumn("cx1", F.lit(0.0)).withColumn("cy1", F.lit(0.0))
        .withColumn("cx2", F.lit(20.0)).withColumn("cy2", F.lit(20.0))
    )
    out = dissolve_transform_area(
        df, group_cols=["gid"], geom_col="g",
        clip_bounds=["cx1", "cy1", "cx2", "cy2"], out_col="area",
    ).collect()
    assert len(out) == 1
    # expected: kernel replay of the same semantics — canonical band
    # decomposition of the 4-rect union (2 rects + the L's 2 bands),
    # clipped to [0,20]², per-vertex polyconic transform, shoelace sum.
    # Planar clipped area is 200; EPSG:3857 x≈0 sits 54° from the 5880
    # central meridian, so the transformed area is far from 200 — the
    # point of the check is that the SLOW-path L routed through the same
    # hygiene+union as the fast rects, not a planar identity.
    import numpy as np

    from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import (
        geom as G,
    )
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import (
        rectnp as R,
    )
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import (
        transform as T,
    )

    rects = np.array(
        [[0, 0, 10, 10], [5, 0, 15, 10], [0, 10, 5, 25], [5, 20, 10, 25]],
        dtype=np.float64,
    )
    m = R.union_decompose(rects)
    nx1 = np.maximum(m[:, 0], 0.0)
    ny1 = np.maximum(m[:, 1], 0.0)
    nx2 = np.minimum(m[:, 2], 20.0)
    ny2 = np.minimum(m[:, 3], 20.0)
    keep = (nx2 > nx1) & (ny2 > ny1)
    pieces = list(zip(nx1[keep], ny1[keep], nx2[keep], ny2[keep]))
    expected = G.area(T.transform_geom(G.rects_to_geom(pieces)))
    assert abs(out[0]["area"] - expected) < 1e-6 * expected


def test_fused_transform_area_randomized_vs_kernel_replay(spark):
    """Randomized equivalence: mixed rect / L-shape / overlapping member
    sets across several groups, fused operator vs a pure-kernel replay of
    the same semantics (hygiene -> canonical decompose -> clip -> vertex
    transform -> shoelace). Catches combine/finish bookkeeping errors the
    fixed fixtures can't (group boundaries, partial merges, slow-path
    routing)."""
    import random

    import numpy as np

    from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import (
        geom as G,
    )
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import (
        rectnp as R,
    )
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import (
        transform as T,
    )
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.operators.dissolve import (
        dissolve_transform_area,
    )
    from pyspark.sql import functions as F

    rng = random.Random(17)
    rows, expected = [], {}
    for gid in range(12):
        rects = []
        for _ in range(rng.randint(1, 30)):
            x1 = rng.randint(0, 80)
            y1 = rng.randint(0, 80)
            w, h = rng.randint(1, 15), rng.randint(1, 15)
            rects.append((float(x1), float(y1), float(x1 + w), float(y1 + h)))
            rows.append((gid,
                         f"POLYGON (({x1} {y1}, {x1+w} {y1}, {x1+w} {y1+h},"
                         f" {x1} {y1+h}, {x1} {y1}))"))
        if gid % 3 == 0:
            # an L-shape member (slow path): two stacked rects
            x1, y1 = rng.randint(0, 60), rng.randint(0, 60)
            rows.append((gid, f"POLYGON (({x1} {y1}, {x1+10} {y1},"
                              f" {x1+10} {y1+5}, {x1+5} {y1+5},"
                              f" {x1+5} {y1+12}, {x1} {y1+12}, {x1} {y1}))"))
            rects.append((float(x1), float(y1), float(x1 + 10), float(y1 + 5)))
            rects.append((float(x1), float(y1 + 5), float(x1 + 5),
                          float(y1 + 12)))
        cx1, cy1, cx2, cy2 = 5.0, 5.0, 75.0, 75.0
        merged = R.union_decompose(np.array(rects))
        nx1 = np.maximum(merged[:, 0], cx1)
        ny1 = np.maximum(merged[:, 1], cy1)
        nx2 = np.minimum(merged[:, 2], cx2)
        ny2 = np.minimum(merged[:, 3], cy2)
        keep = (nx2 > nx1) & (ny2 > ny1)
        pieces = list(zip(nx1[keep], ny1[keep], nx2[keep], ny2[keep]))
        expected[gid] = (G.area(T.transform_geom(G.rects_to_geom(pieces)))
                         if pieces else 0.0)
    df = (
        spark.createDataFrame(rows, "gid int, g string")
        .withColumn("cx1", F.lit(5.0)).withColumn("cy1", F.lit(5.0))
        .withColumn("cx2", F.lit(75.0)).withColumn("cy2", F.lit(75.0))
    )
    out = {r["gid"]: r["area"] for r in dissolve_transform_area(
        df, group_cols=["gid"], geom_col="g",
        clip_bounds=["cx1", "cy1", "cx2", "cy2"], out_col="area",
    ).collect()}
    assert set(out) == set(expected)
    for gid, exp in expected.items():
        assert abs(out[gid] - exp) <= 1e-9 * max(1.0, exp), (gid, out[gid], exp)

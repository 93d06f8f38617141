"""Real-JDBC tests against embedded Derby (shipped in Spark's own jars — no
external database needed). Closes the r2 gap: `read_jdbc_partitioned`
(sources/io.py) mirrors the reference's `_read_data_from_db`
(spark_job/process_geodata.py:74-96) but had never executed against a live
database. Here it does: a range-partitioned parallel read with pushed
predicates, plus the partition-parallel JDBC write standing in for the
reference's COPY loader (ecs_loader/load_to_postgres.py:183-187)."""

from __future__ import annotations

import pytest

from geospatial_data_pipeline_spark_sedona_on_aws_spark.sources.io import (
    physical_plan,
    read_jdbc_partitioned,
)

N_ROWS = 200


@pytest.fixture(scope="module")
def derby(spark):
    """In-memory Derby DB seeded with a readings table. Executors are
    threads of the same JVM in local mode, so the memory: database is
    visible to every task."""
    jvm = spark._jvm
    url = "jdbc:derby:memory:jdbctest;create=true"
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.execute("CREATE TABLE readings(id INT PRIMARY KEY, v DOUBLE)")
    ps = conn.prepareStatement("INSERT INTO readings VALUES (?, ?)")
    for i in range(N_ROWS):
        ps.setInt(1, i)
        ps.setDouble(2, (i * 37 % 100) / 4.0)
        ps.addBatch()
    ps.executeBatch()
    ps.close()
    st.close()
    yield url
    conn.close()


def test_jdbc_partitioned_read_roundtrip(spark, derby):
    """The reference's exact scan shape (partitionColumn/lowerBound/
    upperBound/numPartitions/fetchsize) against a live database: every row
    comes back exactly once and the scan really is split into the requested
    number of range partitions."""
    df = read_jdbc_partitioned(
        spark, derby, "readings", "id", 0, N_ROWS - 1,
        num_partitions=8, fetchsize=50,
    )
    assert df.rdd.getNumPartitions() == 8
    rows = {r["ID"]: r["V"] for r in df.collect()}
    assert len(rows) == N_ROWS  # no duplicate/missing rows across partitions
    assert rows[10] == (10 * 37 % 100) / 4.0


def test_jdbc_predicate_pushdown_reaches_source(spark, derby):
    """A filter above the JDBC relation must be PUSHED into the source
    (rows filtered inside the database, not post-scan) — the JDBC analog of
    the reference's manual subquery pushdown (process_geodata.py:165-173)."""
    df = read_jdbc_partitioned(
        spark, derby, "readings", "id", 0, N_ROWS - 1, num_partitions=4,
    ).where("id < 50")
    plan = physical_plan(df)
    assert "PushedFilters" in plan and "ID" in plan, plan
    assert df.count() == 50


def test_jdbc_bounds_clip_partitions(spark, derby):
    """Rows outside [lowerBound, upperBound) are NOT dropped (Spark's
    documented JDBC semantics: bounds decide stride, not a filter) — the
    engine must rely on real predicates for filtering, exactly like the
    reference which always passes the true min/max."""
    df = read_jdbc_partitioned(
        spark, derby, "readings", "id", 50, 100, num_partitions=4,
    )
    assert df.count() == N_ROWS


def test_jdbc_blue_green_publish_full_sequence(spark):
    """The reference loader's whole act against a live database: staged DDL
    with a unique grain index, parallel load, transactional view swap,
    retention — and the database-enforced duplicate backstop."""
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    from geospatial_data_pipeline_spark_sedona_on_aws_spark.plans.catalog import (
        publish_snapshot_jdbc,
    )

    url = "jdbc:derby:memory:bluegreen;create=true"
    df1 = spark.createDataFrame(
        [(0, 1, 1, 10.0), (0, 1, 2, 20.0), (1, 2, 1, 30.0)],
        "region_id long, season_id long, land_type_id long, area double",
    )
    publish_snapshot_jdbc(spark, df1, url, "crop", "2026-08-01")
    view = spark.read.jdbc(url, "vw_crop")
    assert view.count() == 3

    # second snapshot: view repoints, retention drops the oldest table
    df2 = df1.withColumn("area", df1["area"] * 2)
    publish_snapshot_jdbc(spark, df2, url, "crop", "2026-08-02")
    view = spark.read.jdbc(url, "vw_crop")
    assert sorted(r[3] for r in view.collect()) == [20.0, 40.0, 60.0]
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    rs = conn.getMetaData().getTables(None, None, "CROP%", None)
    tables = []
    while rs.next():
        tables.append(rs.getString("TABLE_NAME"))
    conn.close()
    assert "CROP_2026_08_01" not in tables  # retention dropped it
    assert "CROP_2026_08_02" in tables

    # the unique grain index is the DB-enforced backstop: a duplicate grain
    # fails the load (same semantics as the reference's unique index)
    dup = spark.createDataFrame(
        [(5, 1, 1, 1.0), (5, 1, 1, 2.0)],
        "region_id long, season_id long, land_type_id long, area double",
    )
    with _pytest.raises(Py4JJavaError):
        publish_snapshot_jdbc(spark, dup, url, "crop", "2026-08-03")
    # failed publish must NOT have moved the view
    assert spark.read.jdbc(url, "vw_crop").count() == 3
    # ...and must NOT have left the partially-loaded staging table behind
    conn = jvm.java.sql.DriverManager.getConnection(url)
    rs = conn.getMetaData().getTables(None, None, "CROP%2026%08%03", None)
    leftovers = [rs.getString("TABLE_NAME") for _ in iter(rs.next, False)]
    conn.close()
    assert leftovers == [], leftovers
    # a RETRY of the same date with clean data now succeeds (self-heal)
    ok = spark.createDataFrame(
        [(5, 1, 1, 1.0), (6, 1, 1, 2.0)],
        "region_id long, season_id long, land_type_id long, area double",
    )
    publish_snapshot_jdbc(spark, ok, url, "crop", "2026-08-03")
    assert spark.read.jdbc(url, "vw_crop").count() == 2


def test_jdbc_backfill_publish_keeps_live_snapshot(spark):
    """A backfill (a date older than the current snapshot) swaps the view
    to its own table; retention must drop the newer table, not the one the
    view now reads."""
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.plans.catalog import (
        publish_snapshot_jdbc,
    )

    url = "jdbc:derby:memory:backfill;create=true"
    df = spark.createDataFrame(
        [(0, 1, 1, 10.0), (1, 2, 1, 30.0)],
        "region_id long, season_id long, land_type_id long, area double",
    )
    publish_snapshot_jdbc(spark, df, url, "crop_bf", "2026-05-01")
    publish_snapshot_jdbc(spark, df, url, "crop_bf", "2026-04-01")
    assert spark.read.jdbc(url, "vw_crop_bf").count() == 2
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    rs = conn.getMetaData().getTables(None, None, "CROP%", None)
    tables = [rs.getString("TABLE_NAME") for _ in iter(rs.next, False)]
    conn.close()
    assert tables == ["CROP_BF_2026_04_01"], tables


def test_jdbc_publish_rejects_unsafe_identifiers(spark):
    """Table/grain/measure/date are interpolated into DDL unquoted — a
    non-identifier must be rejected before any SQL runs."""
    import pytest as _pytest

    from geospatial_data_pipeline_spark_sedona_on_aws_spark.plans.catalog import (
        publish_snapshot_jdbc,
    )

    url = "jdbc:derby:memory:identcheck;create=true"
    df = spark.createDataFrame([(1, 1, 1, 1.0)],
                               "region_id long, season_id long, "
                               "land_type_id long, area double")
    with _pytest.raises(ValueError, match="unsafe SQL identifier"):
        publish_snapshot_jdbc(spark, df, url, "crop; DROP TABLE x", "2026-08-01")
    with _pytest.raises(ValueError, match="unsafe SQL identifier"):
        publish_snapshot_jdbc(spark, df, url, "crop", "2026-08-01'--")
    with _pytest.raises(ValueError, match="unsafe SQL identifier"):
        publish_snapshot_jdbc(spark, df, url, "crop", "2026-08-01",
                              grain=("region_id", "x) --",), measure="area")


def test_jdbc_write_append_parallel(spark, derby):
    """S6 stand-in made real: partition-parallel JDBC append (the Spark
    replacement for the loader's 5-thread COPY pool), then read back and
    check exact content."""
    src = spark.range(100).selectExpr(
        "CAST(id AS INT) AS id", "CAST(id AS DOUBLE) * 0.5 AS v"
    ).repartition(5)
    src.write.option("batchsize", "25").jdbc(derby, "loaded", mode="append")
    back = spark.read.jdbc(derby, "loaded")
    assert back.count() == 100
    # Spark-created tables carry quoted lowercase identifiers; seeded Derby
    # tables fold to uppercase — normalize before comparing
    got = {r[0]: r[1] for r in back.select("id", "v").collect()}
    assert got[42] == 21.0

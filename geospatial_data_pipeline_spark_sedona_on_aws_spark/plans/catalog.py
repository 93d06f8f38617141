"""Blue-green snapshot catalog: versioned tables + atomic view swap +
retention — the reference's publish machinery (SURVEY.md §2.1 S7-S9)
re-expressed on the Spark catalog.

Reference semantics reproduced:
  - snapshot table per run, named {table}_{YYYY_MM_DD}
    (ecs_loader/load_to_postgres.py:121-128);
  - grain uniqueness asserted on (region_id, season_id, land_type_id) —
    Spark has no unique indexes, so the loader's unique-index backstop
    (ecs_loader/load_to_postgres.py:134-136) becomes an explicit check;
  - consumers read the stable view vw_{table}, atomically repointed with
    CREATE OR REPLACE VIEW (ecs_loader/load_to_postgres.py:234-247);
  - retention drops the oldest snapshot only when ≥2 exist
    (ecs_loader/load_to_postgres.py:269-291) — but never the one the view
    points at, so a backfill (a `date` older than the current snapshot)
    does not drop the table it just published.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

_DATE_RE = re.compile(r"_(\d{4}_\d{2}_\d{2})$")
_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

def _validate_idents(*names: str) -> None:
    """Names are interpolated into DDL unquoted — restrict them to plain
    SQL identifiers so a crafted table/grain/date can't smuggle SQL in."""
    for n in names:
        if not _IDENT_RE.match(n):
            raise ValueError(f"unsafe SQL identifier: {n!r}")

def _fold_ident(meta, pattern: str) -> str:
    """Fold a metadata search pattern the way THIS database folds unquoted
    identifiers (DatabaseMetaData contract): Derby/Oracle store them upper,
    Postgres stores them lower, others mixed."""
    if meta.storesUpperCaseIdentifiers():
        return pattern.upper()
    if meta.storesLowerCaseIdentifiers():
        return pattern.lower()
    return pattern

def _table_exists(meta, name: str, types: tuple[str, ...] | None = None) -> bool:
    """Existence probe by exact (case-folded) name. `name` goes through
    getTables as a pattern where '_' is a single-char wildcard, so re-check
    the returned TABLE_NAME verbatim instead of trusting the match."""
    rs = meta.getTables(None, None, _fold_ident(meta, name), None)
    while rs.next():
        if rs.getString("TABLE_NAME").lower() != name.lower():
            continue
        if types is None or rs.getString("TABLE_TYPE") in types:
            return True
    return False

class GrainViolation(ValueError):
    pass

def snapshot_name(table: str, date: str) -> str:
    return f"{table}_{date.replace('-', '_')}"

def assert_unique_grain(df: DataFrame, keys: list[str]) -> None:
    """Engine-side stand-in for the reference's unique composite index."""
    dup = df.groupBy(*keys).count().filter("count > 1").limit(1).collect()
    if dup:
        raise GrainViolation(f"duplicate grain {keys}: {dup[0]}")

def _clear_orphaned_location(spark: SparkSession, name: str) -> None:
    """A killed session leaves the managed table's directory on disk while the
    (in-memory) catalog forgets the table; the next CREATE then fails with
    LOCATION_ALREADY_EXISTS. If the catalog does not know the table but its
    warehouse location exists, remove the orphan (scheme-agnostic Hadoop FS).

    Only safe for the default in-memory catalog, where "not in this session's
    catalog" implies "no live owner". With a shared metastore (hive) another
    session/database may legitimately own the location, so we refuse to touch
    the filesystem there and let CREATE surface the conflict instead."""
    if spark.conf.get("spark.sql.catalogImplementation", "in-memory") != "in-memory":
        return
    if spark.catalog.tableExists(name):
        return
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    path = spark._jvm.org.apache.hadoop.fs.Path(f"{warehouse}/{name.lower()}")
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(path):
        fs.delete(path, True)

def publish_snapshot(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    date: str,
    grain: list[str] | None = None,
    keep: int = 1,
) -> str:
    """Write snapshot table → assert grain → atomically swap the view →
    retention. Returns the snapshot table name."""
    name = snapshot_name(table, date)
    if grain:
        assert_unique_grain(df, grain)
    _clear_orphaned_location(spark, name)
    df.write.mode("overwrite").saveAsTable(name)
    # overwriting an existing snapshot version (re-run of the same refresh)
    # must invalidate the cached file index, or readers of the view hit
    # FAILED_READ_FILE on the replaced part files; refresh both the table
    # and the view (view resolution caches the underlying relation)
    spark.catalog.refreshTable(name)
    spark.sql(f"CREATE OR REPLACE VIEW vw_{table} AS SELECT * FROM {name}")
    spark.catalog.refreshTable(f"vw_{table}")
    # keep > 1 holds prior snapshots through the handover window (the
    # reference's own ordering is swap THEN delete-old, so both versions
    # coexist briefly — snapshot_diff reads that window deliberately)
    drop_old_snapshots(spark, table, keep=keep)
    return name

def list_snapshots(spark: SparkSession, table: str) -> list[str]:
    out = []
    for t in spark.catalog.listTables():
        if t.tableType == "VIEW":
            continue
        if t.name.startswith(table + "_") and _DATE_RE.search(t.name):
            out.append(t.name)
    return sorted(out)

def _view_target(spark: SparkSession, table: str) -> str | None:
    """The snapshot vw_{table} reads (publish writes it as
    `SELECT * FROM <snapshot>`), or None when there is no view."""
    view = f"vw_{table}"
    if not spark.catalog.tableExists(view):
        return None
    for r in spark.sql(f"DESCRIBE TABLE EXTENDED {view}").collect():
        if r.col_name == "View Text":
            return r.data_type.split()[-1].lower()
    return None

def drop_old_snapshots(spark: SparkSession, table: str, keep: int = 1) -> list[str]:
    """Drop oldest snapshots while more than `keep` exist — the reference
    drops the min-dated table only when ≥2 exist
    (ecs_loader/load_to_postgres.py:285-288). The snapshot the view points
    at is never dropped: after a backfill it is the min-dated one."""
    snaps = list_snapshots(spark, table)
    live = _view_target(spark, table)
    old = [t for t in snaps if t != live]
    dropped = old[:max(0, len(snaps) - keep)]
    for t in dropped:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    return dropped

def publish_snapshot_jdbc(
    spark: SparkSession,
    df: DataFrame,
    url: str,
    table: str,
    date: str,
    grain: tuple[str, ...] = ("region_id", "season_id", "land_type_id"),
    measure: str = "area",
    keep: int = 1,
    write_partitions: int = 5,
) -> str:
    """The reference loader's FULL blue-green sequence against a live JDBC
    database (ecs_loader/load_to_postgres.py:293-304), not a catalog
    stand-in:

      1. date-stamped staging DDL with a b-tree index on the first grain
         column and a UNIQUE composite index on the grain — the database
         itself is the duplicate backstop, exactly like the reference
         (:121-137); a duplicate-producing bug fails the load loudly;
      2. partition-parallel JDBC append (the Spark replacement for the
         5-thread COPY pool, :209-227) — `write_partitions` concurrent
         connections, batched inserts;
      3. atomic view swap: DROP+CREATE VIEW inside ONE transaction
         (autocommit off) — transactional DDL gives the same
         consumers-never-see-a-gap guarantee as Postgres's
         CREATE OR REPLACE VIEW (:234-247);
      4. retention: parse {table}_{YYYY_MM_DD} suffixes from database
         metadata, drop oldest while more than `keep` exist (:269-291),
         never the snapshot just swapped in (a backfill's is the oldest).

    Tested end-to-end against embedded Derby (tests/test_jdbc.py); the
    same calls run against Postgres unchanged — metadata lookups fold the
    pattern per DatabaseMetaData.storesUpper/LowerCaseIdentifiers (Derby
    folds unquoted identifiers UP, Postgres folds them DOWN, so a
    hard-coded uppercase pattern would silently never match on Postgres:
    the view-exists probe would miss and retention would never fire)."""
    _validate_idents(table, *grain, measure)
    name = snapshot_name(table, date)
    _validate_idents(name)  # rejects a malformed/injection-y date too
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        meta = conn.getMetaData()
        # self-heal: a failed earlier load of the SAME date leaves its
        # partially-loaded staging table behind; retrying must not die on
        # CREATE TABLE already-exists (no IF EXISTS in Derby → probe first)
        if _table_exists(meta, name):
            st.execute(f"DROP TABLE {name}")
        cols = ", ".join(f"{c} INT" for c in grain) + f", {measure} DOUBLE"
        st.execute(f"CREATE TABLE {name} ({cols})")
        try:
            st.execute(f"CREATE INDEX ix_{name} ON {name} ({grain[0]})")
            st.execute(
                f"CREATE UNIQUE INDEX uq_{name} ON {name} ({', '.join(grain)})")
            casted = df.selectExpr(
                *[f"CAST({c} AS INT) AS {c}" for c in grain],
                f"CAST({measure} AS DOUBLE) AS {measure}",
            )
            (casted.write.mode("append")
             .option("numPartitions", str(write_partitions))
             .option("batchsize", "1000")
             .jdbc(url, name))
            # atomic swap: both DDL statements commit together or not at all
            conn.setAutoCommit(False)
            swap = conn.createStatement()
            if _table_exists(meta, f"vw_{table}", types=("VIEW",)):
                swap.execute(f"DROP VIEW vw_{table}")
            swap.execute(f"CREATE VIEW vw_{table} AS SELECT * FROM {name}")
            conn.commit()
            conn.setAutoCommit(True)
        except Exception:
            # don't leave the staging table behind a failed load (e.g. the
            # unique-grain backstop firing): the view still points at the
            # previous snapshot, so the staging table has no reader and
            # would break the next retry of the same date
            conn.rollback()
            conn.setAutoCommit(True)
            st.execute(f"DROP TABLE {name}")
            raise
        # retention (JDBC '_' is a single-char wildcard — over-match with %
        # and re-filter with the date regex)
        rs = meta.getTables(None, None, _fold_ident(meta, f"{table}%"), None)
        snaps = []
        while rs.next():
            t = rs.getString("TABLE_NAME")
            if t.lower().startswith(table.lower() + "_") and _DATE_RE.search(t.lower()):
                snaps.append(t)
        old = sorted(t for t in snaps if t.lower() != name.lower())
        for oldest in old[:max(0, len(snaps) - keep)]:
            st.execute(f"DROP TABLE {oldest}")
    finally:
        conn.close()
    return name

def run_pipeline(spark: SparkSession, sf_dir: str, date: str,
                 csv_path: str | None = None) -> str:
    """End-to-end refresh = the reference's two entry points fused
    (SURVEY.md §3): flagship transform → CSV interchange sink (optional) →
    snapshot publish with grain check, view swap, retention.

    The result is materialized once, before the first action: the CSV
    sink, the grain check and the table write each run an action, and on
    the lazy DataFrame each would re-run the whole plan (scan, broadcast
    join, dissolve, shuffle) to rebuild the same ~300 grain rows. The
    reference does the same — the Spark job computes once and the loader
    publishes its CSV handoff. `localCheckpoint`, not `persist()`: with
    `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` off, a
    cached plan keeps every shuffle partition in its final Python stage,
    which forks an extra Python worker and raises worker RSS; the
    checkpoint runs as an ordinary AQE query, as the operators' own
    intermediate results do."""
    from ..sources.io import write_csv_sink
    from .pipeline import crop_analytics

    result = crop_analytics(spark, sf_dir).localCheckpoint(eager=True)
    if csv_path:
        write_csv_sink(result, csv_path)
    return publish_snapshot(
        spark, result, "crop_analytics", date,
        grain=["region_id", "season_id", "land_type_id"],
    )

"""Local Outlier Factor (operators/outlier.py — r9, completing the
Sedona-1.7-stats trio): the Spark scores must match an independent
brute-force LOF computed in pure Python with ALL-PAIRS neighbors (no
grid shortcut) and the same integer quantization — pinning both the
algorithm and the 3x3-probe candidate-completeness claim."""

import pytest

from geospatial_data_pipeline_spark_sedona_on_aws_spark.operators import outlier as O

SF_DIR = "/root/testdata/sf0.001"


def _brute_force(points):
    """Textbook LOF, all-pairs, with the module's exact integer math."""
    ids = sorted(points)
    d2s = {}
    for i in ids:
        xi, yi = points[i]
        cand = sorted(
            ((xi - points[j][0]) ** 2 + (yi - points[j][1]) ** 2, j)
            for j in ids if j != i)
        d2s[i] = cand
    kdist2 = {i: d2s[i][O.K - 1][0] for i in ids}
    nk = {i: [(d2, j) for d2, j in d2s[i] if d2 <= kdist2[i]]
          for i in ids}
    lrd_q, sum_reach2 = {}, {}
    for i in ids:
        sr = sum(max(kdist2[j], d2, 1) for d2, j in nk[i])
        sum_reach2[i] = sr
        lrd_q[i] = (len(nk[i]) * O.SCALE) // sr
    out = {}
    for i in ids:
        n = len(nk[i])
        slo = sum(lrd_q[j] for _d2, j in nk[i])
        out[i] = (n, kdist2[i], (slo * sum_reach2[i]) // (n * n))
    return out


@pytest.fixture(scope="module")
def result(spark):
    return {r["id"]: r
            for r in O.local_outlier_factor(spark, SF_DIR).collect()}


@pytest.fixture(scope="module")
def points(spark):
    return {r["id"]: (r["x"], r["y"])
            for r in O._lof_points(spark, SF_DIR).collect()}


def test_matches_all_pairs_brute_force(result, points):
    assert len(result) == len(points) > 0
    expect = _brute_force(points)
    for i, (n_k, kd2, lof_q) in expect.items():
        r = result[i]
        assert r["kdist2"] == kd2, f"kdist2 differs at {i}"
        assert r["n_k"] == n_k, f"N_k size differs at {i}"
        assert r["lof_q"] == lof_q, f"lof_q differs at {i}"


def test_shifted_points_are_outliers(result):
    shifted = [r for i, r in result.items() if i % 97 == 0]
    normal = [r for i, r in result.items() if i % 97 != 0]
    assert shifted, "fixture produced no shifted points"
    assert all(r["is_outlier"] for r in shifted)
    # the bulk of in-blob points must NOT be outliers
    flagged = sum(1 for r in normal if r["is_outlier"])
    assert flagged / len(normal) < 0.3


def test_lof_near_one_for_interior(result):
    # deep-blob points have LOF ~ 1 (the paper's property 1 bound)
    interior = sorted(r["lof_q"] for i, r in result.items()
                      if i % 97 != 0)
    median = interior[len(interior) // 2]
    assert 0.7 * O.SCALE < median < 1.3 * O.SCALE


def test_prune_bound_law_at_gate_sf():
    """Direct assertion of the PRUNE_D2 law the engine's candidate
    filter relies on, at the driver-gate scale (sf0.01) and on the
    UNPRUNED candidate set: the K-th-nearest-neighbor distance of
    every point stays strictly under PRUNE_D2 (= 30^2), so pruning
    cand at d2 < PRUNE_D2 can never drop a top-K or N_k pair. The
    oracle computes from the unfiltered set; this is the guard that
    keeps engine and oracle identical if the fixture law ever drifts."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/events.parquet')")
    worst = con.execute(f"""
        WITH params AS (
            SELECT greatest(count(*) // 25, 1) AS k FROM events
        ),
        base AS (
            SELECT event_id, k,
                   CASE WHEN event_id % 4 = 0
                        THEN (event_id % k) % greatest(k // 10, 1)
                        ELSE event_id % k END AS blob
            FROM events CROSS JOIN params
        ),
        pts AS (
            SELECT event_id AS id,
                   (blob % 1000) * 40
                       + ((event_id // k * 5 + event_id % 7) % 13)
                       + CASE WHEN event_id % 97 = 0 THEN 15 ELSE 0 END AS x,
                   (blob // 1000) * 40
                       + ((event_id // k * 7 + event_id % 11) % 13) AS y
            FROM base
        ),
        cells AS (
            SELECT id, x, y, x // {O.GRID} AS cx, y // {O.GRID} AS cy
            FROM pts
        ),
        probe AS (
            SELECT c.id, c.x, c.y, c.cx + tx.dx AS px, c.cy + ty.dy AS py
            FROM cells c, unnest([-1, 0, 1]) AS tx(dx),
                 unnest([-1, 0, 1]) AS ty(dy)
        ),
        cand AS (
            SELECT a.id AS a,
                   (a.x - b.x) * (a.x - b.x)
                       + (a.y - b.y) * (a.y - b.y) AS d2
            FROM cells a JOIN probe b ON a.cx = b.px AND a.cy = b.py
            WHERE a.id <> b.id
        ),
        ranked AS (
            SELECT a, d2,
                   row_number() OVER (PARTITION BY a ORDER BY d2) AS rn
            FROM cand
        )
        SELECT max(d2) FROM ranked WHERE rn <= {O.K}
    """).fetchone()[0]
    assert worst < O.PRUNE_D2, (
        f"5-NN law violated: worst kdist2 {worst} >= {O.PRUNE_D2}")


def test_tiled_matrices_bit_equal(spark, result, monkeypatch):
    """r10: the TILE×TILE block decomposition of the neighborhood
    matrices (the dense-cell memory cap) is bit-equal to the
    whole-matrix arithmetic — TILE=7 forces every fixture group
    through multi-tile accumulation on both axes."""
    monkeypatch.setattr(O, "TILE", 7)
    tiled = {r["id"]: r
             for r in O.local_outlier_factor(spark, SF_DIR).collect()}
    assert len(tiled) == len(result)
    for i, r in result.items():
        t = tiled[i]
        assert (t["n_k"], t["kdist2"], t["lof_q"], t["is_outlier"]) \
            == (r["n_k"], r["kdist2"], r["lof_q"], r["is_outlier"])


def test_forced_shuffle_join_config(spark, result):
    """r10: with the broadcast budget forced to 0 the two per-point
    joins (kdist, lrd) must run as shuffle joins — no BroadcastHashJoin
    anywhere in the plan — and produce the identical result. This is
    the no-OOM-cliff path a 10^10-point run takes automatically.
    r13: AQE's RUNTIME stats may still convert a join whose measured
    side is tiny — that is safe, data-driven behavior orthogonal to the
    operator's gate — so the no-broadcast assertion also zeroes the AQE
    threshold; the result-parity check is the real contract."""
    spark.conf.set(O.BROADCAST_CONF, "0")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # r14 (ADVICE r13, medium): a tiny Arrow batch cap makes the lrd
    # pass's cell groups straddle batch boundaries, so this exercises
    # stream_groups' multi-batch tail carry — at sf0.001 the whole
    # partition otherwise fits one batch. A fragmented (id-sorted)
    # input would fail stream_groups' contiguity check.
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "500")
    try:
        df = O.local_outlier_factor(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        shuffled = {r["id"]: r for r in df.collect()}
    finally:
        spark.conf.unset(O.BROADCAST_CONF)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert len(shuffled) == len(result)
    for i, r in result.items():
        s = shuffled[i]
        assert (s["n_k"], s["kdist2"], s["lof_q"]) \
            == (r["n_k"], r["kdist2"], r["lof_q"])
    # and the default (small-input) path does broadcast the slim frames
    default_plan = (O.local_outlier_factor(spark, SF_DIR)
                    ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in default_plan


def test_small_neighborhood_raises_loudly(spark, monkeypatch):
    """r10 (ADVICE r9): a neighborhood with <= K total points must fail
    with the descriptive point-law error, not a numpy ValueError or a
    silent sentinel kdist2. Forcing K above any fixture group size
    exercises the guard through the real executor path."""
    monkeypatch.setattr(O, "K", 10 ** 6)
    with pytest.raises(Exception, match="point law is violated"):
        O.local_outlier_factor(spark, SF_DIR).collect()


def test_lof_single_cell_exchange(spark):
    """r11 plan shape: the exploded 9x frame is hash-partitioned by cell
    ONCE (inside the checkpoint) and both stream_groups matrix passes
    reuse it — the live plan carries exactly one hash exchange (the final
    pair-sum aggregation) plus the gated broadcast, never a re-shuffle
    of the 9x frame per pass."""
    import re

    plan = (O.local_outlier_factor(spark, SF_DIR)
            ._jdf.queryExecution().executedPlan().toString())
    live_exchanges = re.findall(r"Exchange hashpartitioning", plan)
    assert len(live_exchanges) == 1, plan[:1500]
    assert "BroadcastHashJoin" in plan

"""operators.groups.stream_groups: the one streamed-group loop behind the
partition-local grouped kernels (LOF, IVF, trajectory, LSH, near-dup).

The pandas-only cases compare the helper against a plain groupby over
the same sorted rows, cut into Arrow-sized batches so groups straddle
batch boundaries; the guard cases feed fragmented groups, which must
raise instead of reaching the kernel as fragments."""
from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from geospatial_data_pipeline_spark_sedona_on_aws_spark.operators.groups import (
    stream_groups,
)


def _sorted_frame(n=400, seed=3):
    """Rows sorted by (a, b) the way Spark's ascending sort leaves them:
    NULL keys first, each key group one contiguous run."""
    rng = np.random.default_rng(seed)
    a = rng.integers(0, 12, n).astype(float)
    a[rng.random(n) < 0.1] = np.nan
    b = rng.choice(["x", "y", None], n)
    df = pd.DataFrame({"a": a, "b": b, "v": rng.integers(0, 1000, n)})
    return df.sort_values(["a", "b"], na_position="first",
                          kind="stable").reset_index(drop=True)


def _batches(df, size, empty_every=0):
    out = []
    for i, lo in enumerate(range(0, len(df), size)):
        if empty_every and i % empty_every == 0:
            out.append(df.iloc[:0])
        out.append(df.iloc[lo:lo + size])
    return out


def _summary(keys):
    def fn(g):
        return g[keys].iloc[:1].assign(s=g["v"].sum(), n=len(g))
    return fn


def _streamed(batches, keys):
    outs = list(stream_groups(iter(batches), keys, _summary(keys)))
    return pd.concat(outs, ignore_index=True)


def _reference(df, keys):
    return (df.groupby(keys, dropna=False, sort=False)["v"]
            .agg(s="sum", n="size").reset_index())


def _assert_same_groups(got, ref):
    """Frame equality with every NULL spelled None (groupby turns the
    string key's None into NaN)."""
    def norm(df):
        df = df.astype(object)
        return df.where(df.notna(), None)
    pd.testing.assert_frame_equal(norm(got), norm(ref))


@pytest.mark.parametrize("keys", [["a"], ["a", "b"]])
@pytest.mark.parametrize("size", [1, 7, 50])
def test_stream_groups_equals_groupby(keys, size):
    df = _sorted_frame()
    _assert_same_groups(_streamed(_batches(df, size), keys),
                        _reference(df, keys))


def test_stream_groups_skips_empty_batches():
    df = _sorted_frame()
    batches = [df.iloc[:0]] + _batches(df, 7, empty_every=2) + [df.iloc[:0]]
    _assert_same_groups(_streamed(batches, ["a", "b"]),
                        _reference(df, ["a", "b"]))
    assert list(stream_groups(iter([df.iloc[:0]]), ["a"], _summary(["a"]))) \
        == []


def test_stream_groups_one_group_partition():
    df = pd.DataFrame({"a": [4.0] * 23, "v": range(23)})
    got = _streamed(_batches(df, 5), ["a"])
    assert got.to_dict("list") == {"a": [4.0], "s": [253], "n": [23]}


def test_stream_groups_null_keys_form_one_group():
    """Spark groups NULL keys together; a numpy != on NaN would make
    every NULL row its own run."""
    df = pd.DataFrame({"a": [np.nan] * 9 + [1.0] * 3, "v": range(12)})
    for size in (1, 4, 12):
        got = _streamed(_batches(df, size), ["a"])
        assert got["n"].tolist() == [9, 3]
        assert got["s"].tolist() == [36, 30]


def test_stream_groups_drops_empty_results_keeps_order():
    df = pd.DataFrame({"a": [1, 1, 2, 3, 3, 3], "v": range(6)})

    def odd_groups(g):
        return g.iloc[:0] if g["a"].iat[0] % 2 == 0 else g

    got = pd.concat(stream_groups(iter(_batches(df, 2)), ["a"], odd_groups),
                    ignore_index=True)
    assert got["v"].tolist() == [0, 1, 3, 4, 5]


@pytest.mark.parametrize("batches", [
    # within one batch: key 1 closes, then reappears
    [pd.DataFrame({"a": [1, 1, 2, 1], "v": range(4)})],
    # across batches: key 1 closes in the first batch, reappears later
    [pd.DataFrame({"a": [1, 2], "v": [0, 1]}),
     pd.DataFrame({"a": [2, 3], "v": [2, 3]}),
     pd.DataFrame({"a": [1], "v": [4]})],
    # a NULL group is a group too
    [pd.DataFrame({"a": [np.nan, 1.0], "v": [0, 1]}),
     pd.DataFrame({"a": [np.nan], "v": [2]})],
], ids=["within-batch", "across-batches", "null-key"])
def test_stream_groups_raises_on_fragmented_group(batches):
    with pytest.raises(ValueError, match=r"reappears after it closed.*\(a\)"):
        list(stream_groups(iter(batches), ["a"], lambda g: g))


def test_stream_groups_error_names_every_key_column():
    df = pd.DataFrame({"px": [0, 0, 1, 0], "py": [5, 5, 5, 5], "v": range(4)})
    with pytest.raises(ValueError, match=r"\{'px': 0, 'py': 5\}.*\(px, py\)"):
        list(stream_groups(iter([df]), ["px", "py"], lambda g: g))


def _spark_groups(spark, sort_col):
    """Rows hash-partitioned by k and sorted by `sort_col`, streamed
    through mapInPandas + stream_groups in 50-row Arrow batches."""
    def count(g):
        return pd.DataFrame({"k": [g["k"].iat[0]], "n": [len(g)]})

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "50")
        return (spark.range(2000).selectExpr("id", "id % 10 AS k")
                .repartition(2, "k").sortWithinPartitions(sort_col)
                .mapInPandas(lambda it: stream_groups(it, ["k"], count),
                             "k long, n long")
                .collect())
    finally:
        spark.conf.set(key, old)


def test_stream_groups_spark_sorted_partitions(spark):
    rows = _spark_groups(spark, "k")
    assert sorted((r["k"], r["n"]) for r in rows) == [(k, 200)
                                                      for k in range(10)]


def test_stream_groups_spark_fragmented_partitions_raise(spark):
    """Hash-partitioned by k but sorted by id: every k group is
    interleaved with the others, which must fail on the executor."""
    with pytest.raises(Exception, match="reappears after it closed"):
        _spark_groups(spark, "id")

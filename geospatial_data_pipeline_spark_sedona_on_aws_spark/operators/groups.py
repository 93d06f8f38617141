"""Contiguous key groups of pandas frames, for the grouped kernels that
run partition-locally instead of through groupBy().applyInPandas, whose
per-group protocol ships ONE Arrow batch per group (~ms fixed cost each;
~95% of LOF's matrix-pass task time at 4k cell groups).

Group boundaries follow Spark's groupBy NULL semantics: rows compare by
per-column factorize CODES (NaN/None share one code), so NULL keys form
ONE group, where a numpy ``!=`` on NaN would split them one run per row.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence

import numpy as np
import pandas as pd


def _key_codes(frame: pd.DataFrame, keys: Sequence[str]) -> np.ndarray:
    """(rows, len(keys)) factorize codes; NULL keys share code -1, and
    object-typed keys (strings) compare by code, not by value."""
    return np.column_stack([
        pd.factorize(frame[k], use_na_sentinel=True)[0] for k in keys
    ])


def _run_starts(codes: np.ndarray) -> np.ndarray:
    """Offsets of the rows that start a run of equal code rows."""
    change = np.empty(len(codes), dtype=bool)
    change[0] = True
    change[1:] = (codes[1:] != codes[:-1]).any(axis=1)
    return np.flatnonzero(change)


def group_slices(whole: pd.DataFrame, keys: Sequence[str]):
    """(order, starts, ends): `whole.iloc[order]` is sorted by the key
    codes and rows ``starts[i]:ends[i]`` of it are group i — for a
    whole partition held in memory, with no Spark sort. One array
    pass."""
    codes = _key_codes(whole, keys)
    order = np.lexsort(tuple(codes[:, i]
                       for i in range(codes.shape[1] - 1, -1, -1)))
    starts = _run_starts(codes[order])
    return order, starts, np.append(starts[1:], len(codes))


def stream_groups(batches: Iterable[pd.DataFrame], keys: Sequence[str],
                  fn: Callable[[pd.DataFrame], pd.DataFrame],
                  ) -> Iterator[pd.DataFrame]:
    """Apply `fn` to each contiguous `keys` group of one partition,
    streamed as `batches` (mapInPandas's iterator). The caller makes
    every group one contiguous run of one partition::

        (df.repartition(*keys).sortWithinPartitions(*keys)
           .mapInPandas(lambda it: stream_groups(it, keys, fn), schema))

    (the sort may carry extra trailing columns). Groups are passed whole,
    in the order they appear; a group that straddles Arrow batches is the
    only one carried to the next batch. Empty `fn` results are dropped
    and the rest yield as one frame per input batch, so output batches
    stay as large as the input's.

    Raises ValueError when a key reappears after its group closed in
    this partition (within a batch or across batches): the rows were not
    partitioned and sorted by `keys`, and `fn` would see a fragment of
    the group."""
    keys = list(keys)
    closed: set = set()
    tail = None
    for pdf in batches:
        if not len(pdf):
            continue
        if tail is not None:
            pdf = pd.concat([tail, pdf], ignore_index=True)
        starts = _run_starts(_key_codes(pdf, keys))
        heads = pdf[keys].iloc[starts].astype(object)
        run_keys = list(heads.where(heads.notna(), None)
                        .itertuples(index=False, name=None))
        for key in run_keys:
            if key in closed:
                raise ValueError(
                    f"stream_groups: group {dict(zip(keys, key))} "
                    f"reappears after it closed in this partition; rows "
                    f"must be contiguous by ({', '.join(keys)}): "
                    "repartition and sortWithinPartitions by those keys "
                    "before mapInPandas")
            closed.add(key)
        closed.discard(run_keys[-1])  # the last run may continue
        outs = [out for s, e in zip(starts[:-1], starts[1:])
                for out in (fn(pdf.iloc[s:e]),) if len(out)]
        if outs:
            yield pd.concat(outs, ignore_index=True)
        tail = pdf.iloc[starts[-1]:]
    if tail is not None:
        out = fn(tail)
        if len(out):
            yield out

"""Efficient grouped maps for MANY SMALL GROUPS.

``DataFrame.groupBy(...).applyInPandas(fn)`` pays per-group Arrow + pandas
overhead — ruinous when groups are tiny and numerous (one group per
(conv_id, turn_idx) = millions of 3-row groups at scale). This helper keeps
the same semantics with one shuffle and ONE pandas call per Arrow batch:

    repartition(keys) → sortWithinPartitions(keys) → mapInPandas
      → one ``fn`` call per batch of whole groups, carrying the (possibly
        incomplete) trailing group into the next batch.

The carry is required for correctness: Arrow slices a partition into
batches of ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows, so a
group may straddle a batch boundary; within a partition rows are sorted by
the keys, so the trailing group is always contiguous.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame


def sorted_grouped_map(
    df: DataFrame,
    keys: list[str],
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
) -> DataFrame:
    """Apply ``fn`` to groups of rows sharing ``keys`` with per-batch
    instead of per-group overhead. ``fn`` receives a *multi-group* frame
    (every group in it complete, rows key-contiguous), handles grouping
    internally and returns a DataFrame with columns matching ``schema`` —
    the fast path for numpy kernels over millions of tiny groups, where
    even one ``DataFrame.__getitem__`` per group dominates the stage
    (measured ~1 ms per group vs ~μs of actual work for greedy span
    suppression). The shuffle has ``defaultParallelism`` parts, one task
    per core, as ``CheckpointStore.stage`` buckets."""
    parts = df.sparkSession.sparkContext.defaultParallelism
    rep = df.repartition(parts, *keys).sortWithinPartitions(*keys)
    out_cols = [f.split()[0].strip() for f in schema.split(",")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if pdf.empty:
                continue
            last = pdf.iloc[-1]
            tail_mask = pd.Series(True, index=pdf.index)
            for k in keys:
                tail_mask &= pdf[k] == last[k]
            carry = pdf[tail_mask]
            head = pdf[~tail_mask]
            if not head.empty:
                yield fn(head)[out_cols]
        if carry is not None and not carry.empty:
            yield fn(carry)[out_cols]

    return rep.mapInPandas(run, schema=schema)

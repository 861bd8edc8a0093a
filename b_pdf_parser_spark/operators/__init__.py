"""Operator package. Shared plan helpers live here."""

from __future__ import annotations

from typing import Callable, Iterable

import pandas as pd
from pyspark.sql import DataFrame

__all__ = ["spread", "map_rows", "tokens", "key_ddl"]


def spread(df: DataFrame) -> DataFrame:
    """Round-robin the frame up to the session's parallelism when its scan
    is narrower — scale-adaptively (the width derives from the cluster,
    never a constant).

    Why: the test tables are single-row-group parquet files, and a row
    group is indivisible — ``maxPartitionBytes`` byte-splits notwith-
    standing, ONE task reads all rows, so every map-side stage above the
    scan (Arrow batch kernels, explodes, partial aggregations) ran
    serially while the rest of the cluster idled. A few hundred KB of
    shuffle buys full-width compute. On a production layout (many files /
    row groups ≥ cluster width) the partition count already meets the
    parallelism and this is a no-op — no Exchange is added.

    Determinism: round-robin repartition is retry-safe (Spark sorts
    before repartitioning, SPARK-23207) and every consumer here is
    row-order-independent (aggregations / joins / per-row maps whose
    outputs are hashed order-insensitively or re-sorted downstream).
    """
    if df.isStreaming:  # no static partition count to inspect
        return df
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= p:
        return df
    return df.repartition(p)


def map_rows(
    df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: str
) -> DataFrame:
    """The per-row Arrow kernel: one ``mapInPandas`` stage in which
    ``fn(*values)`` runs once per row of ``df`` (values in ``df``'s column
    order) and returns zero, one or many output rows, each a tuple in
    ``schema``'s column order. Output rows keep input order within a batch.

    This is the one place the Python boundary is written out: batch
    iteration, row collection and frame assembly. ``fn`` owns its null
    policy — a null input value reaches it as ``None`` (or NaN for a
    numeric column). The assembled frame has integer column labels, so
    Spark assigns its columns to ``schema`` by position; a batch with no
    output rows yields no frame."""

    def run(batches):
        for b in batches:
            rows = [
                out
                for row in b.itertuples(index=False, name=None)
                for out in fn(*row)
            ]
            if rows:
                yield pd.DataFrame(rows)

    return df.mapInPandas(run, schema=schema)


def tokens(text: str) -> list:
    """Python twin of Spark's ``split(lower(trim(text)), ' ')`` — the
    tokenization the text kernels share with their DuckDB oracles: only
    spaces are trimmed and split on, and the empty tokens between repeated
    spaces are kept."""
    return text.strip(" ").lower().split(" ")


def key_ddl(df: DataFrame) -> str:
    """DDL type of ``df``'s first column — the key a kernel carries into
    its output schema unchanged."""
    return df.schema.fields[0].dataType.simpleString()

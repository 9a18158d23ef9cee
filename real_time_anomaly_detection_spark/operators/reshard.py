"""Deterministic training-order resharding — the write-side global shuffle.

The step between curation and training that none of the assignment ops
cover: q45/q57 decide WHICH split a document belongs to, q52/q63 decide
WHETHER it is kept, q54 decides what shares a training batch —
this op decides the ORDER the trainer reads, materialized as size-balanced
shards whose concatenation is a reproducible pseudo-random permutation of
the corpus (LLM training wants documents shuffled once, globally, and
bit-identically on a re-run — a preemption or re-run must not change data
order mid-training).

Reference parity: the reference processes its readings in whatever order
sqlite returns and never re-orders (anomaly_detector.py:62 fetch loop);
a training-data engine over the same schema needs the explicit ordered
layout, so this is a beyond-reference pipeline op (SURVEY §2 extension).

Spark shape — one hash Exchange, NO global sort:
  shard = md5(salt_s || id) % n_shards        (map-side)
  ord   = md5(salt_o || id)                   (map-side, independent salt)
  pos   = row_number() OVER (PARTITION BY shard ORDER BY ord, id)
The window's hashpartitioning(shard) is the ONLY shuffle; each shard sorts
locally (external, spillable). The tempting alternative — orderBy(ord) —
plans a rangepartitioning Exchange whose boundaries come from a runtime
sampling job: a second scan, a barrier, and shard contents that depend on
the sample rather than on the data alone. md5-bucket sharding keeps shard
membership a pure function of the id: run-deterministic, engine-portable
(the DuckDB oracle reproduces it verbatim), and resumable (any shard can be
rebuilt alone). Parallelism unit = n_shards — at 10^12 docs pick
n_shards ~ corpus_bytes / target_shard_bytes (10^4-10^5), which is also
exactly the task layout the write wants: one task per output shard.

Balance: md5 is uniform, so shard sizes are Binomial(n, 1/n_shards) —
within +-4 sigma of n/n_shards; no planner skew handling needed because the
key space IS the partition space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["training_order", "write_shards"]


def _md5_60bit(col, salt: str):
    """First 60 bits of md5(salt || id) as a non-negative long — the repo's
    engine-portable hash convention (q45/q52/q63 use the same construction,
    each with its own salt so the hashes are independent)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, 15),
        16, 10,
    ).cast("long")


def training_order(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 8,
    salt: str = "q67",
) -> DataFrame:
    """(id, shard, pos): a reproducible global shuffle of `df` laid out as
    `n_shards` balanced shards. Reading shards in any interleaving, each in
    `pos` order, is an unbiased training order; `pos` is dense 1..len(shard).

    One hash Exchange on `shard` (the window's partitioning), local sort,
    zero driver state. Shard membership and order are pure functions of the
    id — rerun-identical, and independent of q45's split hash and q52's
    sampling hash by salt separation.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    idc = F.col(id_col)
    shard = (_md5_60bit(idc, f"{salt}s:") % n_shards).alias("shard")
    ordc = F.md5(F.concat(F.lit(f"{salt}o:"), idc.cast("string"))).alias("_ord")
    w = Window.partitionBy("shard").orderBy("_ord", id_col)
    return (
        df.select(idc.alias(id_col), shard, ordc)
        .select(id_col, "shard", F.row_number().over(w).cast("long").alias("pos"))
    )


def write_shards(
    df: DataFrame,
    out: str,
    id_col: str = "doc_id",
    n_shards: int = 8,
    salt: str = "q67",
) -> None:
    """Materialize the corpus in training order: out/shard=K/ parquet, rows
    of each shard stored in `pos` order (parquet preserves row order within
    a file, and `repartition(n_shards, shard)` puts each shard in exactly
    one task -> one ordered file per shard directory).

    Carries every input column plus (shard, pos) — the trainer needs the
    payload, not just the assignment, so this is the full-row twin of
    training_order (same single Exchange; the window rides the repartition's
    shuffle, which AQE leaves alone because the partitioning matches)."""
    idc = F.col(id_col)
    staged = df.withColumn(
        "shard", _md5_60bit(idc, f"{salt}s:") % n_shards
    ).withColumn("_ord", F.md5(F.concat(F.lit(f"{salt}o:"), idc.cast("string"))))
    w = Window.partitionBy("shard").orderBy("_ord", id_col)
    (
        staged.repartition(n_shards, F.col("shard"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .sortWithinPartitions("shard", "_ord", id_col)
        .drop("_ord")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out)
    )

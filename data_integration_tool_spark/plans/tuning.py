"""Plan tuning helpers + 100 TB posture (SURVEY.md §4, §6).

These are the knobs the engine turns at scale; at test SF most are
no-ops by design (AQE handles small data), but the helpers keep the
intent explicit and testable.

100 TB posture summary (why each helper exists):
- ``broadcast_dims``: a 25-row nation table must never cause a fact
  shuffle — broadcast joins keep the 100 TB side in place.
- ``colocate``: pre-partitioning both sides of a repeated join key
  turns N shuffle joins into 1 shuffle + N local joins.
- ``salted_join``: a hot key (one user with 1% of all events) makes one
  task carry 1% of 100 TB; salting splits it across SALT buckets. AQE
  skew-join handles moderate skew automatically — salting is for the
  pathological tail.
- ``broadcast_under_checkpoint``: the iterative builders' per-round
  hint — broadcast only while a materialized checkpoint that bounds
  the relation is small; at 100 TB the guard fails and AQE decides.
- ``explain_str`` / plan predicates: regression-guard the plan shape
  (pushdown reached the scan, the dim got broadcast, sort+limit fused
  to TakeOrderedAndProject) — at 100 TB a silently degraded plan is an
  outage, not a slowdown.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def broadcast_dims(*dfs: DataFrame) -> tuple[DataFrame, ...]:
    """Mark dimension tables for broadcast join."""
    return tuple(F.broadcast(df) for df in dfs)


def colocate(df: DataFrame, *keys: str, n: int | None = None) -> DataFrame:
    """Hash-partition by join/agg keys so downstream stages reuse the
    exchange instead of re-shuffling."""
    return df.repartition(n, *keys) if n else df.repartition(*keys)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Skew-resistant equi-join: the big side gets a random salt in
    [0, salt); the small side is exploded ×salt so every salted key
    still matches. Trades salt× duplication of the SMALL side for even
    task sizes on the BIG side — only worth it when a key is hot enough
    to dominate a task."""
    big_s = big.withColumn("_salt", (F.rand(seed=42) * salt).cast("int"))
    small_s = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = big_s.join(small_s, [key, "_salt"], how)
    return out.drop("_salt")


# Ceiling for broadcast_under_checkpoint: keeps the built hash relation
# comfortably inside executor memory at any core count.
BROADCAST_CKPT_MAX_BYTES = 64 << 20


def checkpoint_bytes(ckpt: DataFrame) -> int:
    """mem+disk bytes the block manager holds for ``ckpt``'s OWN
    checkpoint RDD (looked up by id, so a persist made in between cannot
    stand in for it); 0 while a lazy checkpoint is unmaterialized.
    Metadata read only; no job."""
    rdd_id = ckpt._jdf.queryExecution().analyzed().rdd().id()
    jsc = ckpt.sparkSession.sparkContext._jsc.sc()
    for info in jsc.getRDDStorageInfo():
        if info.id() == rdd_id:
            return int(info.memSize() + info.diskSize())
    return 0


def broadcast_under_checkpoint(df: DataFrame, bound: DataFrame) -> DataFrame:
    """Broadcast-hint ``df`` only while the checkpoint ``bound``, whose
    size bounds df's, is materialized and under BROADCAST_CKPT_MAX_BYTES.

    Why a hint at all: in an iterative builder AQE promotes a small-side
    join to BroadcastHashJoin only AFTER the initial SortMergeJoin plan
    has shuffled the other side as a query stage — one wasted shuffle
    per round (plans/r14/graph_kcore_round3_before.txt vs _after.txt).
    Why guarded: a hard hint can never be demoted, so past the ceiling
    (or with no size known) the join stays AQE-driven."""
    size = checkpoint_bytes(bound)
    return F.broadcast(df) if 0 < size < BROADCAST_CKPT_MAX_BYTES else df


def explain_str(df: DataFrame, mode: str = "formatted", run: bool = False) -> str:
    """The physical plan as a full (untruncated) string.

    ``run=True`` executes the frame first so AQE finalizes the plan —
    required before asserting on codegen spans or join strategies that
    AQE picks at runtime.
    """
    if run:
        # collect THIS frame: a write would spawn a separate
        # QueryExecution and this one's AQE plan would stay non-final
        df.collect()
    jqe = df._jdf.queryExecution()
    return df.sparkSession._jvm.PythonSQLUtils.explainString(jqe, mode)


def scan_read_schema(df: DataFrame) -> str:
    """The ReadSchema portion(s) of the plan — what actually gets read
    off disk after column pruning."""
    plan = explain_str(df)
    return "\n".join(line for line in plan.splitlines() if "ReadSchema" in line)


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if ``fragment`` appears in the scan's PushedFilters."""
    plan = explain_str(df)
    return any(
        "PushedFilters" in line and fragment in line for line in plan.splitlines()
    )


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df)


def uses_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in explain_str(df)

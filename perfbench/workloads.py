"""The benchmark's workloads: which ops one pass runs, on which input.

An op is one registered query built and executed (forced by the noop
sink, as ``bench.py`` does), or one ETL conversion. Each op has a check
of its output against DuckDB, run outside the timed region.

Every workload's op set is fixed; the seed picks the order of the ops
(and, for ``iterative-pairwise``, the generated input). A fixed op set
keeps a run's figures comparable across seeds: the queries differ in
cost by 10x, so a seed-drawn sample of a dozen would move the medians
more than any change under test.
"""

from __future__ import annotations

import os
import random
import zlib
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import types as T

# ------------------------------------------------------------- definitions

LIGHT = "light-etl"
HEAVY = "iterative-pairwise"
NAMES = (LIGHT, HEAVY)
# Seconds one warm pass takes on a 4-core host. --seconds buys as many
# timed passes as fit at this rate: a pass count that followed the
# measured speed would give fast runs more, warmer passes and widen the
# spread between runs.
PASS_SECONDS = {LIGHT: 3.9, HEAVY: 6.0}
# Each workload runs an odd number of ops, each as often, so the median op
# time is the middle sample of one op, not the mean of two ops' extremes.

# light-etl: a module-stratified sample of the registry outside the
# iterative and pair-generating families (the fixed-cost-bound bulk of
# the registry), plus ETL conversions that scan uncached parquet and
# write files.
ITERATIVE_EXTRA = ("dedup_components", "dedup_semantic_clusters",
                   "emb_kmeans_lloyd", "seq_markov_stationary")
PAIR_TAGS = frozenset({"dedup", "similarity", "decontamination"})
LIGHT_SIZE = 7
# source table → (key, amount): the columns the readback checksums
ETL_SOURCES = {
    "lineitem": ("l_orderkey", "l_extendedprice"),
    "orders": ("o_orderkey", "o_totalprice"),
    "events": ("event_id", "value"),
}
# every source and every format at least once (the pipeline writes parquet)
ETL_CONVERSIONS = (("lineitem", "csv"), ("orders", "json"), ("events", "orc"))

# iterative-pairwise: builders that run eager checkpoint jobs round after
# round, and queries that generate candidate pairs, on the seeded
# near-duplicate corpus.
ITERATIVE_OPS = ("dedup_components", "graph_kcore")
PAIRWISE_OPS = ("dedup_minhash", "decon_ngram", "sim_pairs_threshold")


def light_candidates(specs: dict) -> dict[str, str]:
    """Query name → module, for the registry outside the iterative and
    pair-generating families and the verification harnesses."""
    return {
        name: spec.builder.__module__.rsplit(".", 1)[-1]
        for name, spec in specs.items()
        if not name.startswith("graph_")
        and name not in ITERATIVE_EXTRA
        and not PAIR_TAGS & set(spec.tags)
        and "bench-skip" not in spec.tags
    }


def stratified(candidates: dict[str, str], size: int) -> list[str]:
    """``size`` queries, each module's quota proportional to its share of
    the candidates (largest remainder); within a module, queries are
    taken in the order of a stable hash of their names."""
    by_module: dict[str, list[str]] = {}
    for name, module in sorted(candidates.items()):
        by_module.setdefault(module, []).append(name)
    exact = {m: size * len(v) / len(candidates) for m, v in by_module.items()}
    quota = {m: int(q) for m, q in exact.items()}
    spare = size - sum(quota.values())
    for m in sorted(exact, key=lambda m: (quota[m] - exact[m], m))[:spare]:
        quota[m] += 1
    picked: list[str] = []
    for m, names in sorted(by_module.items()):
        names.sort(key=lambda n: zlib.crc32(n.encode()))
        picked.extend(names[: quota[m]])
    return sorted(picked)


# ----------------------------------------------------------------------- ops


@dataclass
class Op:
    """One unit of closed-loop work. ``build`` returns a handle that
    ``execute`` forces; ``verify`` gets the same handle and returns the
    output's row count and a list of problems (empty = correct)."""

    name: str
    build: Callable[[], Any]
    execute: Callable[[Any], None]
    verify: Callable[[Any], tuple[int, list[str]]]
    input_bytes: int = 0
    output_dir: str | None = None


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def query_op(spark, spec, data_dir: str, duck, oracle_check) -> Op:
    def verify(df) -> tuple[int, list[str]]:
        bad = [f.name for f in df.schema.fields
               if isinstance(f.dataType, (T.ArrayType, T.MapType))]
        if bad:
            return 0, [f"{spec.name}: array/map output columns {bad}"]
        sp = df.toPandas()
        if spec.oracle is None:
            # rows-only queries: checked for row count and schema
            problems = []
            if len(sp) == 0:
                problems.append(f"{spec.name}: no rows")
            if list(sp.columns) != df.columns or not df.columns:
                problems.append(f"{spec.name}: schema {list(sp.columns)} != {df.columns}")
            return len(sp), problems
        du = duck.execute(spec.oracle).fetchdf()
        exact = spec.name not in oracle_check.TOLERANT_QUERIES
        return len(sp), oracle_check.compare_frames(sp, du, spec.name, exact=exact)

    return Op(spec.name, lambda: spec.builder(spark, data_dir), noop_sink, verify)


def _checksums(key: str, amount: str) -> list[str]:
    """Row count, key sum and amount sum in cents: exact on both engines."""
    return ["count(*) AS n", f"CAST(sum({key}) AS BIGINT) AS keys",
            f"CAST(sum(CAST(round({amount} * 100) AS BIGINT)) AS BIGINT) AS cents"]


def _duck_checksums(duck, table: str, key: str, amount: str, where: str = "") -> tuple:
    sql = f"SELECT {', '.join(_checksums(key, amount))} FROM {table} {where}"
    return tuple(int(x) for x in duck.execute(sql).fetchone())


def _readback(spark, etl, path: str, fmt: str, key: str, amount: str) -> tuple:
    row = etl.read_any(spark, path, fmt).selectExpr(*_checksums(key, amount)).first()
    return tuple(int(x or 0) for x in row)


def etl_ops(spark, data_dir: str, out_dir: str, duck, etl, pipeline) -> list[Op]:
    ops: list[Op] = []
    for table, fmt in ETL_CONVERSIONS:
        key, amount = ETL_SOURCES[table]
        src = os.path.join(data_dir, f"{table}.parquet")
        dst = os.path.join(out_dir, f"{table}.{fmt}")
        want = _duck_checksums(duck, table, key, amount)

        def execute(_, src=src, dst=dst, fmt=fmt) -> None:
            etl.convert(spark, src, "parquet", dst, fmt)

        def verify(_, dst=dst, fmt=fmt, key=key, amount=amount, want=want,
                   name=f"convert:{table}:{fmt}"):
            got = _readback(spark, etl, dst, fmt, key, amount)
            return got[0], [] if got == want else [f"{name}: {got} != {want}"]

        ops.append(Op(f"convert:{table}:{fmt}", lambda: None, execute, verify,
                      os.path.getsize(src), dst))

    src = os.path.join(data_dir, "lineitem.parquet")
    dst = os.path.join(out_dir, "pipeline.parquet")
    spec = {
        "source": {"path": src, "format": "parquet"},
        "steps": [
            {"op": "with_columns",
             "mapping": {"revenue": "l_extendedprice * (1 - l_discount)"}},
            {"op": "filter", "predicate": "l_quantity >= 5"},
        ],
        "sink": {"path": dst, "format": "parquet", "partition_by": ["l_returnflag"]},
    }
    want = _duck_checksums(duck, "lineitem", "l_orderkey",
                           "l_extendedprice * (1 - l_discount)", "WHERE l_quantity >= 5")

    def verify_pipeline(_):
        got = _readback(spark, etl, dst, "parquet", "l_orderkey", "revenue")
        return got[0], [] if got == want else [f"pipeline: {got} != {want}"]

    ops.append(Op("pipeline:lineitem:partitioned", lambda: None,
                  lambda _: pipeline.run(spark, spec), verify_pipeline,
                  os.path.getsize(src), dst))
    return ops


def ordered(ops: list[Op], seed: int) -> list[Op]:
    """The pass order for ``seed``."""
    out = list(ops)
    random.Random(seed).shuffle(out)
    return out

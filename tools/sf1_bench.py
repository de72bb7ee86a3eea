"""sf1 data generator (VERDICT r13 Next #4): make scale visible.

At sf0.1 the c8/c32 geomean across the registry is 0.95 — ~95% of
queries are stage-floor-bound and cannot demonstrate a distributed win
or regression. This tool builds a deterministic 10x dataset ("sf1")
from the read-only sf0.1 fixtures by FK-consistent key-shifted
replication; bench.py then times the most expensive queries on it, so
the heavy class can show whether it actually parallelizes (c8 vs c32
at sf1).

The generated data lives in scratch/sf1 (gitignored). It is INPUT
data for timing only — no query result is persisted, every run
computes from the parquet inputs; the oracle never sees sf1 (queries
are correctness-proven on the driver fixtures at sf0.001/0.01/0.1).

Upsampling scheme (seedless, deterministic): each table is the
union of FACTOR copies; copy i shifts every key column by
i * OFFSET(domain), where OFFSET is the next power of 10 above the
domain's max key in sf0.1 — foreign keys shift by their referenced
domain's offset, so joins land exactly as in the original (the graph
becomes FACTOR disjoint isomorphic components; dedup/text corpora
gain FACTOR exact duplicates per doc, which is heavier, realistic
dedup load). nation/region stay single-copy dims; non-key columns are
byte-identical. Powers of 10 are ≡ 0 mod 5, so `key % 5` filters
select the same subset in every copy.

Usage:
  python tools/sf1_bench.py gen [--factor=10]
  SPARK_GRAFT_SF_DIR=scratch/sf1 BENCH_ITERS=3 \
      python bench.py $(cat plans/sf1_queries.txt)
(plans/sf1_queries.txt: the 25 most expensive queries by the r13+r14
cross-leg minima at sf0.1, plus graph_kcore)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(REPO, "scratch", "sf1")

# key domains: table -> {column: domain}; FKs name the referenced domain
_KEYS = {
    "customer": {"c_custkey": "cust"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part",
                 "l_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "supplier": {"s_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}
_DOMAIN_SOURCE = {  # domain -> (table, column) that defines its max
    "cust": ("customer", "c_custkey"),
    "order": ("orders", "o_orderkey"),
    "part": ("part", "p_partkey"),
    "supp": ("supplier", "s_suppkey"),
    "event": ("events", "event_id"),
    "user": ("events", "user_id"),
    "doc": ("documents", "doc_id"),
    "vec": ("embeddings", "vec_id"),
}
_COPY_ASIS = ("region", "nation")


# largest value of each integral key dtype the copies are cast back to
_DTYPE_MAX = {"tinyint": 2**7 - 1, "smallint": 2**15 - 1,
              "int": 2**31 - 1, "bigint": 2**63 - 1}


def shifted_copies(df, offsets: dict[str, int], factor: int):
    """The union of FACTOR copies of df, copy i shifting each key column
    by i * offsets[col]. Keys keep their source dtype (so the sf1 schema
    matches the fixtures); a factor whose last copy would not fit that
    dtype raises instead of wrapping silently."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    dtypes = dict(df.dtypes)
    maxes = df.agg(*[F.max(c) for c in offsets]).collect()[0]
    for (col, off), mx in zip(offsets.items(), maxes):
        top = (mx or 0) + (factor - 1) * off
        if top > _DTYPE_MAX[dtypes[col]]:
            raise OverflowError(
                f"{col}: max key {mx} + ({factor}-1)*{off} = {top} "
                f"does not fit {dtypes[col]}; lower --factor"
            )
    return reduce(DataFrame.unionAll, [
        df.withColumns({
            col: (F.col(col) + F.lit(i * off)).cast(dtypes[col])
            for col, off in offsets.items()
        })
        for i in range(factor)
    ])


def gen(factor: int) -> None:
    from pyspark.sql import functions as F

    from data_integration_tool_spark.session import get_spark

    cpus = os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="sf1_bench", shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    # raw reads (nanosAsLong for the NANOS-encoded events generation)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = {
        t: spark.read.parquet(f"{SF01}/{t}.parquet")
        for t in list(_KEYS) + list(_COPY_ASIS)
    }
    offsets = {}
    for dom, (t, c) in _DOMAIN_SOURCE.items():
        mx = raw[t].agg(F.max(c)).collect()[0][0]
        off = 10
        while off <= mx:
            off *= 10
        offsets[dom] = off
    print("offsets:", offsets)
    os.makedirs(SF1, exist_ok=True)
    for t in _COPY_ASIS:
        raw[t].write.mode("overwrite").parquet(f"{SF1}/{t}.parquet")
        print(t, "copied")
    for t, keys in _KEYS.items():
        out = shifted_copies(
            raw[t], {col: offsets[dom] for col, dom in keys.items()}, factor
        )
        # ~8 comfortable files per table at this size (guide §6)
        out.repartition(8).write.mode("overwrite").parquet(
            f"{SF1}/{t}.parquet"
        )
        n = spark.read.parquet(f"{SF1}/{t}.parquet").count()
        print(t, "x", factor, "->", n, "rows")


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    opts = {
        k: v
        for a in sys.argv[1:]
        if a.startswith("--") and "=" in a
        for k, v in [a[2:].split("=", 1)]
    }
    if not args:
        print(__doc__)
        return
    if args != ["gen"]:
        raise SystemExit(f"unknown command {' '.join(args)!r}")
    gen(int(opts.get("factor", "10")))


if __name__ == "__main__":
    main()

"""Round-N CORRECTNESS pre-flight: simulate the driver's t2 pass over
the first 50 registry entries (the driver's recording window) from a
vanilla session — oracled queries get the raw-cell compare (with the
calibrated ULP allowlist), rows-only get the rows>0 check."""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as contract  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from tests.oracle_check import (  # noqa: E402
    TOLERANT_QUERIES,
    compare_frames,
    duck_connect,
)

SF = "/root/testdata/sf0.01"

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
qs, os_ = contract.queries(), contract.oracle_sql()
con = duck_connect(SF)
ok = bad = 0
for i, name in enumerate(list(qs)[:50], 1):
    try:
        df = qs[name](spark, SF)
        if name in os_:
            sp = df.toPandas()
            du = con.execute(os_[name]).fetchdf()
            problems = compare_frames(
                sp, du, name, exact=name not in TOLERANT_QUERIES
            )
            if problems:
                bad += 1
                print(f"{i:2d} {name}: MISMATCH {problems[:2]}", flush=True)
            else:
                ok += 1
        else:
            n = df.count()
            if n > 0:
                ok += 1
            else:
                bad += 1
                print(f"{i:2d} {name}: 0 rows", flush=True)
    except Exception as e:  # noqa: BLE001 — report, keep sweeping
        bad += 1
        print(f"{i:2d} {name}: ERROR {type(e).__name__}: {str(e)[:100]}",
              flush=True)
print(f"window preview: {ok}/50 green, {bad} red")

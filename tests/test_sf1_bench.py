"""tools/sf1_bench.py key shifting: copies keep the source key dtype, and
a factor whose shifted keys would wrap that dtype fails loud."""

from __future__ import annotations

import pytest

from tools.sf1_bench import shifted_copies


def test_shifted_copies_keep_dtype_and_refuse_to_wrap(spark):
    df = spark.createDataFrame([(1, "a"), (7, "b")], "k int, v string")
    out = shifted_copies(df, {"k": 10}, factor=3)
    assert out.dtypes == df.dtypes
    assert sorted(r.k for r in out.collect()) == [1, 7, 11, 17, 21, 27]

    big = spark.createDataFrame([(2_000_000_000, "a")], "k int, v string")
    shifted_copies(big, {"k": 10**8}, factor=2)  # 2.1e9 still fits int32
    with pytest.raises(OverflowError, match="does not fit int"):
        shifted_copies(big, {"k": 10**9}, factor=2)

"""Self-tests of the benchmark's own arithmetic and checks (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import argparse
import filecmp
import os
import sys
from types import SimpleNamespace

import duckdb
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import ledger  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from tests import oracle_check  # noqa: E402


# ------------------------------------------------------------------ tail rule


def test_tail_has_ten_samples_beyond_it():
    samples = [float(i) for i in range(1, 41)]  # 1..40
    value, pct, n = ledger.tail(samples)
    assert n == 40
    assert pct == 75.0
    assert value == 30.0
    assert sum(s > value for s in samples) == 10


def test_tail_percentile_grows_with_sample_count():
    value, pct, n = ledger.tail([float(i) for i in range(100)])
    assert (value, pct, n) == (89.0, 90.0, 100)


def test_tail_falls_back_to_median_below_twenty_samples():
    samples = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert ledger.tail(samples) == (3.0, 50.0, 5)
    assert ledger.tail([float(i) for i in range(19)])[1] == 50.0
    assert ledger.tail([float(i) for i in range(20)]) == (9.0, 50.0, 20)


def test_tail_needs_samples():
    with pytest.raises(ValueError):
        ledger.tail([])


# ---------------------------------------------------------------- op medians


def test_op_medians_take_each_ops_median_over_its_successful_runs():
    records = [
        {"op": "a", "wall": 1.0, "ok": True},
        {"op": "a", "wall": 9.0, "ok": True},
        {"op": "a", "wall": 2.0, "ok": True},
        {"op": "b", "wall": 4.0, "ok": True},
        {"op": "b", "ok": False},
        {"op": "c", "ok": False},
    ]
    assert ledger.op_medians(records) == {"a": 2.0, "b": 4.0}
    busy = [{"op": "a", "busy": 3.0, "ok": True}, {"op": "a", "busy": 5.0, "ok": True}]
    assert ledger.op_medians(busy, "busy") == {"a": 4.0}


# ----------------------------------------------------------------- self time


class Clock:
    def __init__(self, ticks):
        self.ticks = iter(ticks)

    def __call__(self):
        return next(self.ticks)


def test_self_time_subtracts_children():
    # op [0, 10] with build [1, 4] and exec [4, 9]
    t = ledger.Tracer(clock=Clock([0, 1, 4, 4, 9, 10]))
    with t.span("op", op=7):
        with t.span("build"):
            pass
        with t.span("exec"):
            pass
    st = t.self_times()
    assert [s.name for s in t.spans] == ["op", "build", "exec"]
    assert [s.op for s in t.spans] == [7, 7, 7]
    assert st[0] == pytest.approx(2.0)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(5.0)


def test_covered_merges_overlapping_and_clips():
    assert ledger.covered(0, 10, [(1, 4), (3, 6), (8, 12)]) == 7
    assert ledger.covered(0, 10, []) == 0
    assert ledger.covered(2, 3, [(0, 10)]) == 1


# ----------------------------------------------------------------- generator


@pytest.fixture(scope="module")
def small_base():
    return gen.base_tables(0.001)


def test_base_matches_the_table_list(small_base):
    from data_integration_tool_spark.io import TABLES

    assert sorted(small_base) == sorted(TABLES)


def test_generator_same_seed_same_bytes(tmp_path):
    a = gen.ensure_neardup(str(tmp_path / "a"), 0.001, 5)
    b = gen.ensure_neardup(str(tmp_path / "b"), 0.001, 5)
    c = gen.ensure_neardup(str(tmp_path / "c"), 0.001, 6)
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b))
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors
    assert not filecmp.cmp(os.path.join(a, "documents.parquet"),
                           os.path.join(c, "documents.parquet"), shallow=False)
    assert not filecmp.cmp(os.path.join(a, "embeddings.parquet"),
                           os.path.join(c, "embeddings.parquet"), shallow=False)
    # tables outside the upsample are copied unchanged
    assert filecmp.cmp(os.path.join(a, "lineitem.parquet"),
                       os.path.join(c, "lineitem.parquet"), shallow=False)


def test_neardup_keys_stay_bigint_and_unique(small_base):
    tables, stats = gen.neardup_tables(small_base, seed=3)
    ids = tables["documents"]["doc_id"]
    assert str(ids.type) == "int64"
    assert len(set(ids.to_pylist())) == len(ids)
    assert 0 < stats["documents.near_dup_share"] < 1
    assert stats["documents.rows"] == tables["documents"].num_rows


def test_neardup_size_and_shares_do_not_depend_on_seed(small_base):
    _, a = gen.neardup_tables(small_base, seed=3)
    _, b = gen.neardup_tables(small_base, seed=4)
    for key in ("documents.rows", "embeddings.rows", "documents.near_dup_share",
                "embeddings.near_dup_share"):
        assert a[key] == b[key]


def test_copy_ids_refuse_int64_overflow():
    import numpy as np

    with pytest.raises(OverflowError):
        gen._copy_ids(np.array([0, 2**62], dtype=np.int64), np.array([0, 2]))


# ------------------------------------------------------------- metric names


def test_declared_metrics_are_valid_and_unique():
    import json

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert all(ledger.valid_name(n) for n in names)
    assert len(names) == len(set(names))
    assert [w["name"] for w in bench["workloads"]] == list(workloads.NAMES)


def test_metric_name_charset():
    assert ledger.valid_name("exec.shuffle_write_records")
    assert ledger.valid_name("op_p50_s")
    assert ledger.valid_name("9-lives.ok")
    for bad in ("", ".leading", "has space", "slash/x", "x" * 65, "ünicode"):
        assert not ledger.valid_name(bad)


# ------------------------------------------------------- output check counts


class FakeFrame:
    """Stands in for a Spark DataFrame: schema, columns and toPandas."""

    schema = SimpleNamespace(fields=[])
    columns = ["k", "v"]

    def toPandas(self):
        return pd.DataFrame({"k": [1, 2], "v": [1.0, 2.0]})


def _bench(tmp_path):
    args = argparse.Namespace(workload=workloads.LIGHT, seed=1, seconds=1, trace=0)
    bench = run.Bench(args, str(tmp_path))
    bench.sc = None
    return bench


@pytest.mark.parametrize("oracle, failed", [
    ("SELECT * FROM (VALUES (1, 1.0), (2, 2.0)) t(k, v)", 0),
    ("SELECT * FROM (VALUES (1, 1.0), (2, 2.5)) t(k, v)", 1),
])
def test_wrong_oracle_result_counts_as_failed(tmp_path, oracle, failed):
    spec = SimpleNamespace(name="fake_query", oracle=oracle,
                           builder=lambda spark, data_dir: FakeFrame())
    op = workloads.query_op(None, spec, "unused", duckdb.connect(), oracle_check)
    op.execute = lambda df: None
    bench = _bench(tmp_path)
    bench.check_op(op)
    bench.run_op(op, 1, traced=False)
    assert bench.outcome() == (2, failed)
    assert ("fake_query" in bench.failures) == bool(failed)


def test_raising_op_counts_as_failed(tmp_path):
    def boom():
        raise RuntimeError("builder failed")

    op = workloads.Op("boom", boom, lambda h: None, lambda h: (0, []))
    bench = _bench(tmp_path)
    bench.check_op(op)
    bench.run_op(op, 1, traced=False)
    assert bench.outcome() == (2, 2)
    assert "builder failed" in bench.failures["boom"]


# ---------------------------------------------------------------- workloads


def test_stratified_sample_is_fixed_and_proportional():
    cands = {f"a{i}": "big" for i in range(30)} | {f"b{i}": "small" for i in range(10)}
    picked = workloads.stratified(cands, 8)
    assert picked == workloads.stratified(dict(reversed(cands.items())), 8)
    assert sum(cands[n] == "big" for n in picked) == 6
    assert sum(cands[n] == "small" for n in picked) == 2


def test_seed_orders_ops():
    ops = [workloads.Op(str(i), None, None, None) for i in range(10)]
    a = [o.name for o in workloads.ordered(ops, 1)]
    assert a == [o.name for o in workloads.ordered(ops, 1)]
    assert a != [o.name for o in workloads.ordered(ops, 2)]
    assert sorted(a) == sorted(o.name for o in ops)

"""Local re-implementation of the driver's t2 compare: run a registered
Spark query and its DuckDB oracle on the same parquet, then compare
row-count + column set + order-insensitive values.

Default comparison is RAW-CELL EXACT (floats bitwise) — the driver's
value-hash proved exact in round 3 (``362`` vs ``362.0`` was a red row),
and a tolerant local gate is how two last-ULP divergences stayed green
until round 4's audit caught them. Queries that genuinely cannot be
bit-stable across engines must be listed in ``TOLERANT_QUERIES`` with a
reason; everything else fails loudly on any non-identical cell.
Used by test_oracle_parity.py, bench.py --duckdb and tools/.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from typing import Any

import duckdb
import numpy as np
import pandas as pd

from data_integration_tool_spark.io import TABLES

_SIG = 9  # significant digits for the float sort key

# Queries exempted from raw-cell exact compare, each with the reason the
# divergence is irreducible. Keep this list SHORT and each entry
# justified by DRIVER EVIDENCE — an entry is acceptable only when the
# query is driver-green despite the local raw-cell divergence.
#
# Calibration (round 5, full-registry raw-cell sweep at sf0.01): exactly
# these 16 queries diverge from DuckDB at the last ULP — float sums over
# non-representable decimals (engine summation order) and libm
# variance/corr kernels — and every one of them is DRIVER-GREEN
# (r1: agg_stats/win_running/win_share; r3: tpch q3/q5/q7/q9/q10/q19/q22
# + seasonal_index; r4: agg_regression/anomaly_zscore/fn_math/
# graph_pagerank/win_pareto_share). Conclusion: the driver's value-hash
# rounds floats before hashing (the r03 red `362` vs `362.0` was an
# int-vs-float TYPE mismatch, not precision), so last-ULP noise is safe;
# TYPE-level and >1e-7 divergences are not, and stay raw-exact-gated.
_ULP = "driver-green; last-ULP float-sum/libm divergence vs DuckDB"
TOLERANT_QUERIES: dict[str, str] = {
    "agg_regression": _ULP + " (r4)",
    "agg_stats": _ULP + " (r1)",
    "anomaly_zscore": _ULP + " (r4)",
    "fn_math": _ULP + " (r4)",
    "graph_pagerank": _ULP + " (r4)",
    "seasonal_index": _ULP + " (r3)",
    "tpch_q10_returned_items": _ULP + " (r3)",
    # exact at the driver's sf0.01; float-sum accumulation crosses the
    # last ULP only at sf0.1+ row counts (raw-cell sweep, round 5)
    "tpch_q17_small_qty_revenue": _ULP + " (r3; diverges at sf0.1 only)",
    "win_rolling_time": _ULP + " (r4; diverges at sf0.1 only)",
    "tpch_q19_disjunctive_revenue": _ULP + " (r3)",
    "tpch_q22_idle_customers": _ULP + " (r3)",
    "tpch_q3_shipping_priority": _ULP + " (r3)",
    "tpch_q5_local_supplier_volume": _ULP + " (r3)",
    "tpch_q7_volume_shipping": _ULP + " (r3)",
    "tpch_q9_profit_by_nation_year": _ULP + " (r3)",
    "win_pareto_share": _ULP + " (r4)",
    "win_running": _ULP + " (r1)",
    "win_share": _ULP + " (r1)",
}


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm_cell(v: Any) -> Any:
    """Canonicalize a cell for cross-engine comparison."""
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (np.floating,)):
        v = float(v)
    if isinstance(v, (np.integer,)):
        v = int(v)
    if isinstance(v, (np.bool_,)):
        v = bool(v)
    if isinstance(v, float):
        if math.isinf(v):
            return v
        if v == 0:
            return 0.0
        # round to _SIG significant digits as the sort key
        return round(v, _SIG - 1 - int(math.floor(math.log10(abs(v)))))
    if isinstance(v, (pd.Timestamp, datetime)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, date):
        # pandas renders DuckDB DATE as midnight Timestamp while Spark
        # yields datetime.date — same logical value, normalize together
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def _raw_cell(v: Any) -> Any:
    if isinstance(v, (np.floating,)):
        return float(v)
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_raw_cell(x) for x in v)
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _close(a: Any, b: Any, rtol: float = 1e-9, atol: float = 1e-12) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            return math.isclose(float(a), float(b), rel_tol=rtol, abs_tol=atol)
        except (TypeError, ValueError):
            return False
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y, rtol, atol) for x, y in zip(a, b))
    return a == b


def _exact_cell(v: Any) -> Any:
    """Raw-cell canonical form for the exact compare: unwraps numpy
    scalars and equates the cross-engine date/timestamp pandas
    representations (DuckDB DATE → midnight Timestamp vs Spark DATE →
    datetime.date carry the same logical value), but NEVER rounds a
    float — any last-ULP difference stays visible."""
    if v is None:
        return None
    if isinstance(v, (np.floating,)):
        v = float(v)
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.bool_,)):
        return bool(v)
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (pd.Timestamp, datetime)):
        return ("dt", pd.Timestamp(v).isoformat())
    if isinstance(v, date):
        return ("dt", pd.Timestamp(v).isoformat())
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_exact_cell(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def _dtype_family(s: pd.Series) -> str | None:
    """Classify a pandas column into the type family the driver's hash
    is sensitive to. int64 vs float64 on equal values IS a driver red
    (the r03 `362` vs `362.0` row; the r05 HUGEINT→float64 rows), while
    int32 vs int64 and DATE vs midnight-TIMESTAMP are driver-green —
    so families, not exact dtypes. Returns None (= skip the check) for
    all-null columns, whose pandas dtype is representation noise."""
    dt = s.dtype
    if pd.api.types.is_bool_dtype(dt):
        return "bool"
    if pd.api.types.is_integer_dtype(dt):
        return "int"
    if pd.api.types.is_float_dtype(dt):
        # an all-NaN float column is indistinguishable from all-null
        return "float" if s.notna().any() else None
    if pd.api.types.is_datetime64_any_dtype(dt):
        return "datetime"
    vals = s.dropna()
    if not len(vals):
        return None
    v = vals.iloc[0]
    if isinstance(v, (pd.Timestamp, datetime, date)):
        return "datetime"
    if isinstance(v, (bool, np.bool_)):
        return "bool"
    if isinstance(v, (int, np.integer)):
        return "int"
    if isinstance(v, (float, np.floating)):
        return "float"
    if isinstance(v, str):
        return "str"
    if isinstance(v, bytes):
        return "bytes"
    return type(v).__name__


def _typed(v: Any) -> Any:
    """Tag each scalar with its Python type name so the exact compare
    cannot equate int with float (362 == 362.0 is True in Python) or
    bool with int — both are driver-red type divergences."""
    if isinstance(v, tuple):
        return tuple(_typed(x) for x in v)
    return (type(v).__name__, v)


def compare_frames(
    sp: pd.DataFrame, du: pd.DataFrame, name: str = "", exact: bool = True
) -> list[str]:
    """Return a list of mismatch descriptions (empty = match).

    ``exact=True`` (default) mirrors the driver: every cell must be
    identical (type-sensitive, floats bitwise). ``exact=False`` applies
    rtol=1e-7 — only for ``TOLERANT_QUERIES`` entries. The dtype-family
    gate applies in BOTH modes: tolerance covers float precision, never
    a type divergence.
    """
    problems: list[str] = []
    sp_cols = sorted(sp.columns)
    du_cols = sorted(du.columns)
    if sp_cols != du_cols:
        return [f"{name}: column mismatch spark={sp_cols} duck={du_cols}"]
    if len(sp) != len(du):
        problems.append(f"{name}: row count spark={len(sp)} duck={len(du)}")
        return problems
    sp = sp[sp_cols]
    du = du[du_cols]
    for c in sp_cols:
        fs, fd = _dtype_family(sp[c]), _dtype_family(du[c])
        if fs is not None and fd is not None and fs != fd:
            problems.append(
                f"{name}: dtype family mismatch on {c!r}: "
                f"spark={sp[c].dtype}({fs}) duck={du[c].dtype}({fd})"
            )
    if problems:
        return problems

    def keyed(df: pd.DataFrame) -> list[tuple[tuple, tuple]]:
        rows = []
        for row in df.itertuples(index=False, name=None):
            rows.append(
                (tuple(_norm_cell(v) for v in row), tuple(_raw_cell(v) for v in row))
            )
        # Sort on the normalized key, tie-broken by the raw tuple's repr:
        # rows whose 9-sig-digit keys tie (floats differing only past 9
        # digits) would otherwise pair nondeterministically across
        # engines and report false diffs.
        rows.sort(key=lambda kr: (
            tuple(
                (x is None, str(type(x).__name__), x if not isinstance(x, tuple) else str(x))
                for x in kr[0]
            ),
            str(kr[1]),
        ))
        return rows

    sp_rows = keyed(sp)
    du_rows = keyed(du)
    n_bad = 0
    for i, ((ks, rs), (kd, rd)) in enumerate(zip(sp_rows, du_rows)):
        if exact:
            ok = tuple(_typed(_exact_cell(v)) for v in rs) == tuple(
                _typed(_exact_cell(v)) for v in rd
            )
        else:
            norm_s = tuple(_norm_cell(v) for v in rs)
            norm_d = tuple(_norm_cell(v) for v in rd)
            ok = _close(norm_s, norm_d, rtol=1e-7, atol=1e-9)
        if not ok:
            n_bad += 1
            if n_bad <= 3:
                problems.append(f"{name}: row {i} spark={rs!r} duck={rd!r}")
    if n_bad:
        problems.append(f"{name}: {n_bad}/{len(sp_rows)} rows mismatched")
    return problems


def max_float_divergence(sp: pd.DataFrame, du: pd.DataFrame) -> float:
    """Largest relative float difference between matched rows (for
    deciding whether a query is safe for an exact-hash driver compare)."""
    sp_cols = sorted(sp.columns)
    if sorted(du.columns) != sp_cols or len(sp) != len(du) or not len(sp):
        return float("inf")

    def keyed(df):
        rows = [tuple(_norm_cell(v) for v in r) for r in df[sp_cols].itertuples(index=False, name=None)]
        raw = [tuple(_raw_cell(v) for v in r) for r in df[sp_cols].itertuples(index=False, name=None)]
        order = sorted(range(len(rows)), key=lambda i: str(rows[i]))
        return [raw[i] for i in order]

    worst = 0.0
    for rs, rd in zip(keyed(sp), keyed(du)):
        for a, b in zip(rs, rd):
            if isinstance(a, float) and isinstance(b, float) and b != 0:
                worst = max(worst, abs(a - b) / max(abs(a), abs(b)))
    return worst

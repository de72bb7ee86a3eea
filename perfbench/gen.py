"""Seeded generator for the benchmark's input tables.

Two corpora, both written as one parquet file per table under the
benchmark's own data directory:

* ``base`` — the ten fixture tables of ``io.TABLES`` (schemas as in
  FIXTURES.md), generated from a fixed seed at a TPC-H-like scale factor.
  Row counts follow the fixtures: at scale 0.01, 60,000 ``lineitem`` rows.
* ``neardup`` — the base tables with ``documents`` and ``embeddings``
  upsampled. Each row gets a seeded multiplicity; a seeded share of the
  extra copies is perturbed (one token of a document replaced, one
  component of an embedding changed). Every other table is copied as-is.

The same arguments give byte-identical files. Keys stay BIGINT: a copy
shifts its key by ``copy * (max_key + 1)``, and the generator refuses a
shift that would leave the int64 range.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
INT64_MAX = np.iinfo(np.int64).max
# near-duplicate corpus: each document / embedding appears 1..3 times, and
# half of the extra copies are perturbed
NEARDUP_MAX_COPIES = 3
NEARDUP_PERTURB_SHARE = 0.5

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EMB_DIM = 64


def _days(rng: np.random.Generator, start: str, span: int, n: int) -> np.ndarray:
    return np.datetime64(start, "D") + rng.integers(0, span, n)


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _unit(v: np.ndarray) -> np.ndarray:
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _embedding_array(vecs: np.ndarray) -> pa.Array:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def base_tables(scale: float, seed: int = BASE_SEED) -> dict[str, pa.Table]:
    """The ten fixture tables at ``scale`` (0.01 → 60,000 lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_users = max(10, int(15_000 * scale))
    n_docs = max(500, int(50_000 * scale))
    n_vecs = max(500, int(20_000 * scale))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -1000, 10_000, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -1000, 10_000, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(_days(rng, "1995-01-01", 2400, n_ord)),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_days(rng, "1995-01-02", 2500, n_line)),
    })
    gaps_us = rng.exponential(259e6, n_ev).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us).astype(
        "timedelta64[us]"
    )
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            # a near-duplicate of an earlier document, as in the fixtures
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    centers = rng.normal(0, 1, (10, EMB_DIM))
    vecs = _unit(rng.normal(0, 1, (n_vecs, EMB_DIM)) + 0.15 * centers[labels])
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": _embedding_array(vecs),
        "label": labels,
    })
    return t


def _copy_ids(ids: np.ndarray, copies: np.ndarray) -> np.ndarray:
    """Key of each copy: ``id + copy * (max_id + 1)``, refused past int64."""
    stride = int(ids.max()) + 1
    if int(copies.max()) * stride + stride - 1 > INT64_MAX:
        raise OverflowError(f"shifted key for copy {int(copies.max())} exceeds int64")
    return ids.astype(np.int64) + copies.astype(np.int64) * np.int64(stride)


def _upsample(rng: np.random.Generator, n: int) -> tuple[np.ndarray, ...]:
    """For ``n`` rows, each repeated 1..NEARDUP_MAX_COPIES times: the
    source row and copy number of every output row, and which extra copies
    to perturb. The seed picks which rows get which multiplicity and which
    copies are perturbed; how many of each is fixed, so every seed gives a
    corpus of the same size and duplicate shares."""
    mult = rng.permutation(np.resize(np.arange(1, NEARDUP_MAX_COPIES + 1), n))
    src = np.repeat(np.arange(n), mult)
    copy = np.concatenate([np.arange(m) for m in mult])
    extra = np.flatnonzero(copy > 0)
    perturb = np.zeros(src.size, dtype=bool)
    perturb[rng.choice(extra, round(extra.size * NEARDUP_PERTURB_SHARE), replace=False)] = True
    return src, copy, perturb


def neardup_tables(
    base: dict[str, pa.Table], seed: int
) -> tuple[dict[str, pa.Table], dict[str, float]]:
    """Upsample ``documents`` and ``embeddings`` of ``base`` with seeded
    multiplicities in ``1..NEARDUP_MAX_COPIES``; perturb a seeded
    ``NEARDUP_PERTURB_SHARE`` of the extra copies. Returns the tables and
    the corpus statistics."""
    rng = np.random.default_rng([seed, 1])
    out = {}

    docs = base["documents"]
    src, copy, perturb = _upsample(rng, docs.num_rows)
    texts = np.array(docs["text"].to_pylist(), dtype=object)[src]
    for i in np.flatnonzero(perturb):
        words = texts[i].split(" ")
        pos = int(rng.integers(0, len(words)))
        choices = [w for w in VOCAB if w != words[pos]]
        words[pos] = choices[int(rng.integers(0, len(choices)))]
        texts[i] = " ".join(words)
    out["documents"] = pa.table({
        "doc_id": _copy_ids(docs["doc_id"].to_numpy()[src], copy),
        "text": pa.array(texts.tolist(), pa.string()),
        "lang": docs["lang"].take(pa.array(src)),
        "source": docs["source"].take(pa.array(src)),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })

    emb = base["embeddings"]
    vsrc, vcopy, vperturb = _upsample(rng, emb.num_rows)
    vecs = np.stack(emb["embedding"].to_numpy(zero_copy_only=False))[vsrc].copy()
    idx = np.flatnonzero(vperturb)
    comp = rng.integers(0, EMB_DIM, idx.size)
    vecs[idx, comp] += rng.choice([-1.0, 1.0], idx.size) * 0.05
    vecs[idx] = _unit(vecs[idx])
    out["embeddings"] = pa.table({
        "vec_id": _copy_ids(emb["vec_id"].to_numpy()[vsrc], vcopy),
        "embedding": _embedding_array(vecs.astype(np.float32)),
        "label": emb["label"].take(pa.array(vsrc)),
    })

    _, counts = np.unique(texts.astype(str), return_counts=True)
    exact_dup_rows = int(counts[counts > 1].sum())
    stats = {
        "documents.rows": int(src.size),
        "embeddings.rows": int(vsrc.size),
        "documents.exact_dup_share": exact_dup_rows / src.size,
        "documents.near_dup_share": float(perturb.mean()),
        "embeddings.near_dup_share": float(vperturb.mean()),
    }
    return out, stats


def _write(
    tables: dict[str, pa.Table], path: str, meta: dict, copy_from: str | None = None
) -> None:
    """Write every table to ``path`` atomically (rename of a finished dir);
    tables of ``copy_from`` not in ``tables`` are copied byte for byte."""
    parent = os.path.dirname(path)
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=parent, prefix=".tmp-")
    try:
        rows = {n: tb.num_rows for n, tb in tables.items()}
        for name, table in tables.items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        if copy_from is not None:
            for name, n in manifest(copy_from)["rows"].items():
                if name not in tables:
                    shutil.copyfile(
                        os.path.join(copy_from, f"{name}.parquet"),
                        os.path.join(tmp, f"{name}.parquet"),
                    )
                    rows[name] = n
        meta = dict(meta)
        meta["bytes"] = sum(
            os.path.getsize(os.path.join(tmp, f"{n}.parquet")) for n in rows
        )
        meta["rows"] = rows
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)
        os.replace(tmp, path)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise


def manifest(path: str) -> dict:
    with open(os.path.join(path, "manifest.json")) as f:
        return json.load(f)


def ensure_base(data_dir: str, scale: float) -> str:
    """Directory of the base corpus at ``scale``, generated on first use."""
    path = os.path.join(data_dir, f"base-s{scale}")
    if not os.path.exists(os.path.join(path, "manifest.json")):
        _write(base_tables(scale), path, {"kind": "base", "scale": scale, "seed": BASE_SEED})
    return path


def ensure_neardup(data_dir: str, scale: float, seed: int) -> str:
    """Directory of the seeded near-duplicate corpus, generated on first use."""
    path = os.path.join(data_dir, f"neardup-s{scale}-seed{seed}")
    if not os.path.exists(os.path.join(path, "manifest.json")):
        base_dir = ensure_base(data_dir, scale)
        base = {
            n: pq.read_table(os.path.join(base_dir, f"{n}.parquet"))
            for n in ("documents", "embeddings")
        }
        tables, stats = neardup_tables(base, seed)
        meta = {"kind": "neardup", "scale": scale, "seed": seed, **stats}
        _write(tables, path, meta, copy_from=base_dir)
    return path

"""Seeded input generators for the benchmark workloads.

Every table is written as parquet in the harness schemas the catalog
reads (see FIXTURES.md at the repo root), from numpy only, so the same
seed gives the same bytes on any machine.  Each generator also returns
the ground truth its workload's output checks need.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: headline table sizes relative to the harness sf0.1 tables (lineitem
#: 600k rows there).  Documents and embeddings keep their sf0.1 sizes.
HEADLINE_SF = 0.02
HEADLINE_DOCS = 5000
HEADLINE_VECS = 2000

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_HEADLINE_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def _write(table: pa.Table, path: str, row_group_size: int | None = None) -> None:
    pq.write_table(table, path, row_group_size=row_group_size)


def _days(start: str, n: int, rng: np.random.Generator, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng: np.random.Generator, vocab: list[str], n: int, lo: int, hi: int) -> list[list[str]]:
    lens = rng.integers(lo, hi + 1, n)
    idx = rng.integers(0, len(vocab), int(lens.sum()))
    words = np.asarray(vocab, dtype=object)[idx]
    out, pos = [], 0
    for ln in lens:
        out.append(list(words[pos:pos + ln]))
        pos += ln
    return out


def _one_word_edit(rng: np.random.Generator, toks: list[str], vocab: list[str]) -> list[str]:
    """Replace one token with a different vocabulary word."""
    out = list(toks)
    i = int(rng.integers(0, len(out)))
    w = out[i]
    while w == out[i]:
        w = vocab[int(rng.integers(0, len(vocab)))]
    out[i] = w
    return out


def _documents(rng: np.random.Generator, n: int, vocab: list[str], lo: int, hi: int,
               near_frac: float, exact_frac: float):
    """n documents; the last near_frac/exact_frac share are one-word
    edits / byte-identical copies of earlier originals.  Returns
    (texts, near_pairs, copy_of) with near_pairs = [(orig_id, edit_id)]
    and copy_of = {copy_id: orig_id}."""
    n_near = int(n * near_frac)
    n_exact = int(n * exact_frac)
    n_orig = n - n_near - n_exact
    toks = _texts(rng, vocab, n_orig, lo, hi)
    near_pairs = []
    for i in range(n_near):
        src = int(rng.integers(0, n_orig))
        toks.append(_one_word_edit(rng, toks[src], vocab))
        near_pairs.append((src, n_orig + i))
    copy_of = {}
    for i in range(n_exact):
        src = int(rng.integers(0, n_orig))
        toks.append(list(toks[src]))
        copy_of[n_orig + n_near + i] = src
    return [" ".join(t) for t in toks], near_pairs, copy_of


def _documents_table(texts: list[str], rng: np.random.Generator) -> pa.Table:
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(np.asarray(_LANGS, dtype=object)[rng.integers(0, 5, n)], type=pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], type=pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings_table(X: np.ndarray, labels: np.ndarray) -> pa.Table:
    n, d = X.shape
    flat = pa.array(np.ascontiguousarray(X, dtype=np.float32).reshape(-1))
    offsets = pa.array(np.arange(0, n * d + 1, d, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels.astype(np.int32)),
    })


def _clustered_unit_vectors(rng: np.random.Generator, n: int, d: int, n_clusters: int, spread: float):
    centres = rng.normal(size=(n_clusters, d))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, n_clusters, n)
    X = centres[labels] + rng.normal(scale=spread, size=(n, d))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    return X.astype(np.float32), labels


def headline_tables(out_dir: str, seed: int) -> dict:
    """The ten-table harness layout at HEADLINE_SF, for the 16 headline
    catalog queries.  Returns the fitted tables' row counts and the
    planted document duplicates."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    sf, n_docs, n_vecs = HEADLINE_SF, HEADLINE_DOCS, HEADLINE_VECS
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(10, n_cust // 10)

    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS),
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }), f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.asarray(_SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)], type=pa.string()),
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    }), f"{out_dir}/supplier.parquet")
    sizes = rng.integers(1, 51, n_part).astype(np.int32)
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"part {i % 97}" for i in range(n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 10, n_part)]),
        "p_type": pa.array(np.asarray(["LARGE", "MEDIUM", "SMALL"], dtype=object)[rng.integers(0, 3, n_part)], type=pa.string()),
        "p_size": pa.array(sizes),
        "p_retailprice": pa.array(np.round(900.0 + sizes * 10.0, 2)),
    }), f"{out_dir}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.asarray(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_ord)], type=pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": pa.array(_days("1995-01-01", n_ord, rng, 2404)),
        "o_orderpriority": pa.array(np.asarray(_PRIORITIES, dtype=object)[rng.integers(0, 5, n_ord)], type=pa.string()),
    }), f"{out_dir}/orders.parquet")
    # as in TPC-H, 1-7 lines per order and (l_orderkey, l_linenumber)
    # unique: kmeans_fit_lineitem initializes from the 4 lowest
    # l_orderkey * 10 + l_linenumber ids, which must not tie
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    _write(pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(n_ord, dtype=np.int64), lines)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array((np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.asarray(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_li)], type=pa.string()),
        "l_linestatus": pa.array(np.asarray(["F", "O"], dtype=object)[rng.integers(0, 2, n_li)], type=pa.string()),
        "l_shipdate": pa.array(_days("1995-01-02", n_li, rng, 2498)),
    }), f"{out_dir}/lineitem.parquet")
    ts = np.datetime64("2024-01-01", "us") + rng.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(np.sort(ts)),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": pa.array(np.asarray(_EVENT_TYPES, dtype=object)[rng.integers(0, 5, n_ev)], type=pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }), f"{out_dir}/events.parquet")
    texts, near_pairs, copy_of = _documents(rng, n_docs, _HEADLINE_VOCAB, 10, 100, 0.02, 0.002)
    _write(_documents_table(texts, rng), f"{out_dir}/documents.parquet")
    X, labels = _clustered_unit_vectors(rng, n_vecs, 64, 10, 0.05)
    _write(_embeddings_table(X, labels), f"{out_dir}/embeddings.parquet")
    return {"lineitem": n_li, "embeddings": n_vecs, "texts": texts,
            "near_pairs": near_pairs, "copy_of": copy_of}


def blobs(out_dir: str, seed: int, n: int, d: int, k: int, sigma: float,
          box: float = 10.0, row_groups: int = 8) -> dict:
    """Gaussian blobs as `embeddings.parquet`: k generating centres at
    random corners of [-box, box]^d, at least d/4 sign flips apart, so
    every seed gives equally separated blobs and the fits need a similar
    number of iterations; isotropic noise `sigma`.  Returns the
    generating centres and the point count."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    while True:
        signs = rng.choice([-1.0, 1.0], size=(k, d))
        flips = (signs[:, None, :] != signs[None, :, :]).sum(axis=2)
        if flips[~np.eye(k, dtype=bool)].min() >= d // 4:
            break
    centres = box * signs
    labels = rng.integers(0, k, n)
    X = (centres[labels] + rng.normal(scale=sigma, size=(n, d))).astype(np.float32)
    _write(_embeddings_table(X, labels), f"{out_dir}/embeddings.parquet",
           row_group_size=-(-n // row_groups))
    return {"centres": centres, "n": n}

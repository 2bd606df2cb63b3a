"""The benchmark's workloads: inputs, the ops of one round, output checks.

Each op calls the program only through its public callables and fully
materializes its result (`DataFrame.toArrow()` fetches every output
column, so Catalyst cannot prune the projection the way `count()` can).
Checks run after the op's timed region, on plain Python rows; each
returns a list of problems.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import random
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import numpy as np

import gen

ROOT = Path(__file__).resolve().parent.parent

#: the 16 headline catalog queries (bench.py's set)
HEADLINE_QUERIES = (
    "kmeans_fit_native", "kmeans_fit_lineitem", "kmeans_fit_mllib",
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "window_top_orders", "agg_cube_lineitem", "asof_events_orders",
    "events_sessionize", "dedup_exact", "dedup_minhash", "ann_brute_topk",
    "ann_lsh_topk", "text_quality", "mm_decode",
)
TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")

# lloyd_multiblock: 540k x 16 float64 = 66 MiB packed, just over one
# 64 MiB block, so the native engine's layout rule makes two blocks.
# k = 4 keeps farthest-point init (k - 1 DataFrame rounds) inside the
# run budget.
BLOBS_N, BLOBS_D, BLOBS_K, BLOBS_SIGMA = 540_000, 16, 4, 2.0
#: a fitted centroid must lie this close to every generating centre
CENTRE_RADIUS = 1.0
#: MLlib usually converges in 2 iterations here, but on some seeds its
#: k-means|| start leaves it moving past tol until the default cap of 100
#: (12.8 s instead of 4.9 s); this cap bounds that case.
MLLIB_MAX_ITER = 5


@dataclass
class Op:
    name: str
    run: Callable  # spark -> materialized output
    check: Callable  # output -> list[str]


@dataclass
class MllibFit:
    iterations: int
    sizes: object  # pyarrow.Table [cluster_id, size]


def rows_of(tbl) -> tuple[list[str], list[tuple]]:
    """(column names, row tuples) of an Arrow table, for the checks."""
    cols = tbl.column_names
    return cols, list(zip(*(tbl.column(c).to_pylist() for c in cols)))


@functools.cache
def _compare_module():
    spec = importlib.util.spec_from_file_location("_compare", ROOT / "tools" / "compare.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def digest(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()[:16]


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    return _compare_module().table_hash(cols, rows)


# --- shared checks ---------------------------------------------------------

def _shingles(text: str) -> frozenset:
    toks = text.lower().split()
    return frozenset(f"{a} {b}" for a, b in zip(toks, toks[1:]))


def _jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b)


def dedup_truth(texts: list[str], near_pairs, copy_of, threshold: float = 0.8) -> dict:
    """Planted pairs (original, copies, one-word edits of the original)
    whose exact shingle Jaccard reaches the threshold, with that Jaccard."""
    family: dict[int, set[int]] = {}
    for a, b in near_pairs:
        family.setdefault(a, {a}).add(b)
    for c, a in copy_of.items():
        family.setdefault(a, {a}).add(c)
    sh = {}
    out = {}
    for members in family.values():
        ms = sorted(members)
        for i, x in enumerate(ms):
            for y in ms[i + 1:]:
                sx = sh.setdefault(x, _shingles(texts[x]))
                sy = sh.setdefault(y, _shingles(texts[y]))
                if sx and sy and _jaccard(sx, sy) >= threshold:
                    out[(x, y)] = _jaccard(sx, sy)
    return out


def check_minhash(out, texts: list[str], truth: dict, threshold: float = 0.8) -> list[str]:
    """Every reported pair must carry its exact Jaccard (>= threshold).
    Planted pairs may be missed only as often as the banding promises:
    a pair of Jaccard J escapes all b bands of r rows with probability
    (1 - J^r)^b, so more misses than that expectation plus four Poisson
    standard deviations (plus one) fails the op."""
    from kmeans_mapreduce_spark.operators.dedup import MINHASH_BANDS, MINHASH_ROWS_PER_BAND

    cols, rows = out
    problems = []
    found = set()
    for r in rows:
        rec = dict(zip(cols, r))
        a, b, j = rec["id_a"], rec["id_b"], rec["jaccard"]
        found.add((a, b))
        exact = _jaccard(_shingles(texts[a]), _shingles(texts[b]))
        if j < threshold or abs(exact - j) > 1e-6:
            problems.append(f"pair ({a},{b}) reports J={j}, exact {exact:.6f}")
            break
    missed = [p for p in truth if p not in found]
    expect = sum((1 - truth[p] ** MINHASH_ROWS_PER_BAND) ** MINHASH_BANDS for p in truth)
    if len(missed) > expect + 4 * expect ** 0.5 + 1:
        problems.append(f"{len(missed)} of {len(truth)} planted pairs with J>={threshold} missing "
                        f"(banding expects {expect:.2f}), e.g. {sorted(missed)[:3]}")
    return problems


def check_sizes(out, n: int, k_max: int, col: str) -> list[str]:
    cols, rows = out
    sizes = [dict(zip(cols, r))[col] for r in rows]
    if sum(sizes) != n or not 0 < len(sizes) <= k_max or min(sizes) <= 0:
        return [f"cluster sizes {sizes} do not partition {n} points into <= {k_max}"]
    return []


# --- headline ----------------------------------------------------------------

class Headline:
    """The 16 bench.py catalog queries over generated harness tables."""

    name = "headline"

    def generate(self, out_dir: str, seed: int) -> dict:
        return gen.headline_tables(out_dir, seed) | {"dir": out_dir}

    def ops(self, inp: dict, seed: int) -> list[Op]:
        from kmeans_mapreduce_spark.plans.catalog import ORACLES, QUERIES

        order = list(HEADLINE_QUERIES)
        random.Random(seed).shuffle(order)
        oracle = _Oracle(inp["dir"])
        n_vecs, texts = inp["embeddings"], inp["texts"]
        truth = dedup_truth(texts, inp["near_pairs"], inp["copy_of"])
        special = {
            "kmeans_fit_native": lambda o: check_sizes(o, n_vecs, 4, "cnt"),
            "kmeans_fit_lineitem": lambda o: check_sizes(o, inp["lineitem"], 4, "size"),
            "kmeans_fit_mllib": lambda o: check_sizes(o, n_vecs, 10, "size"),
            # the all-pairs DuckDB oracle is quadratic in documents (minutes
            # at 5,000); check_minhash re-verifies every reported pair and
            # bounds the misses among the planted pairs instead
            "dedup_minhash": lambda o: check_minhash(o, texts, truth),
        }
        ops = []
        for q in order:
            if q in special:
                check = special[q]
            else:
                check = (lambda name: lambda o: oracle.check(name, ORACLES[name], o))(q)
            ops.append(Op(q, (lambda name: lambda spark: QUERIES[name](spark, inp["dir"]).toArrow())(q),
                          (lambda c: lambda tbl: c(rows_of(tbl)))(check)))
        return ops

    def trace_extras(self, spark, inp: dict, results: dict) -> dict:
        from kmeans_mapreduce_spark.operators import dedup as DD

        docs = spark.read.parquet(f"{inp['dir']}/documents.parquet")
        cands = DD.minhash_lsh_candidates(docs, "doc_id", "text").count()
        truth = dedup_truth(inp["texts"], inp["near_pairs"], inp["copy_of"])
        cols, rows = rows_of(results["dedup_minhash"])
        found = {(dict(zip(cols, r))["id_a"], dict(zip(cols, r))["id_b"]) for r in rows}
        return {"candidates": cands, "pairs": len(rows),
                "recall": len(truth.keys() & found) / max(len(truth), 1),
                "lsh_recall": _recall_at_k(results["ann_brute_topk"], results["ann_lsh_topk"])}


class _Oracle:
    """DuckDB answers for the catalog oracle SQL, computed once per run,
    compared by row count, column names and tools/compare.py's
    order-insensitive value hash."""

    def __init__(self, sf_dir: str) -> None:
        import duckdb

        self.cmp = _compare_module()
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        self.cache: dict[str, tuple] = {}

    def check(self, name: str, sql: str, out) -> list[str]:
        if name not in self.cache:
            odf = self.con.execute(sql).df()
            ocols = list(odf.columns)
            orows = [tuple(r) for r in odf.itertuples(index=False, name=None)]
            self.cache[name] = (sorted(ocols), len(orows), self.cmp.table_hash(ocols, orows))
        ocols, n, h = self.cache[name]
        cols, rows = out
        if sorted(cols) != ocols or len(rows) != n:
            return [f"{name}: {len(rows)} rows {sorted(cols)} vs oracle {n} rows {ocols}"]
        if self.cmp.table_hash(cols, rows) != h:
            return [f"{name}: value hash differs from the DuckDB oracle"]
        return []


def _recall_at_k(brute, approx) -> float:
    def pairs(tbl):
        cols, rows = rows_of(tbl)
        return {(dict(zip(cols, r))["query_id"], dict(zip(cols, r))["neighbor_id"]) for r in rows}

    b = pairs(brute)
    return len(b & pairs(approx)) / max(len(b), 1)


# --- lloyd_multiblock -------------------------------------------------------

class LloydMultiblock:
    """A native Lloyd fit (farthest-point init, multi-block pack,
    distributed passes) and an MLlib fit on seeded Gaussian blobs."""

    name = "lloyd_multiblock"

    def generate(self, out_dir: str, seed: int) -> dict:
        return gen.blobs(out_dir, seed, BLOBS_N, BLOBS_D, BLOBS_K, BLOBS_SIGMA) | {"dir": out_dir}

    def ops(self, inp: dict, seed: int) -> list[Op]:
        from pyspark.sql import functions as F

        from kmeans_mapreduce_spark.operators import kmeans as KM
        from kmeans_mapreduce_spark.sources import ingest

        n = inp["n"]

        def points(spark):
            return ingest.points_from_embeddings(spark, inp["dir"], dim=BLOBS_D, parallelize=False)

        def fit_native(spark):
            return KM.fit_kmeans_native(points(spark), k=BLOBS_K, dim=BLOBS_D, seed=seed, report_final=True)

        def check_native(res) -> list[str]:
            problems = []
            C = np.asarray(res.centroids, dtype=np.float64)
            if sum(res.final_counts) != n:
                problems.append(f"final counts sum {sum(res.final_counts)} != {n}")
            if not np.isfinite(C).all():
                problems.append("non-finite centroid")
            far = max(float(np.min(np.linalg.norm(C - c, axis=1))) for c in inp["centres"])
            if far > CENTRE_RADIUS:
                problems.append(f"a generating centre is {far:.3f} from every fitted centroid")
            return problems

        def fit_mllib(spark):
            model, assigned = KM.fit_kmeans_mllib(points(spark), k=BLOBS_K, seed=seed, max_iter=MLLIB_MAX_ITER)
            sizes = assigned.groupBy("cluster_id").agg(F.count("*").alias("size")).toArrow()
            return MllibFit(model.summary.numIter, sizes)

        return [
            Op("fit_kmeans_native", fit_native, check_native),
            Op("fit_kmeans_mllib", fit_mllib,
               lambda o: check_sizes(rows_of(o.sizes), n, BLOBS_K, "size")),
        ]

    def trace_extras(self, spark, inp: dict, results: dict) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (Headline(), LloydMultiblock())}

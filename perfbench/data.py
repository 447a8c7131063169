"""Seeded inputs, golden values and output checksums.

Inputs and golden values are made in the orchestrating process without
Spark: the inputs with numpy (or the program's own page-record
generator), written as parquet, and the golden values with the
pure-Python oracles in ``graphminer_spark.oracles``.

Checksums are order-insensitive sums over every output column. The same
formula exists twice: :func:`spark_checksum` builds the aggregate that
ends a timed call, and the numpy functions below compute the value that
aggregate must return on a correct output.
"""

from __future__ import annotations

import os
import random
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# small primes: products of two residues stay below 2^33, so every sum
# over a few million rows fits a signed 64-bit long exactly
P = 65_521
Q = 65_519

# PageRank: per-vertex allclose to the dense oracle, and |Σ rank - 1|
PR_ATOL = 1e-6


# ----------------------------------------------------------------- sizes
# Per-workload sizes; "tiny" is the smoke-test scale.
SIZES = {
    "crawl_job": {
        "full": {"pages": 2000, "max_links": 8, "hub_skew": 2.0, "lp_iter": 5},
        "tiny": {"pages": 300, "max_links": 8, "hub_skew": 2.0, "lp_iter": 10},
    },
    "triangles_skew": {
        "full": {"vertices": 20_000, "edges": 100_000, "skew": 2.0},
        "tiny": {"vertices": 500, "edges": 4_000, "skew": 2.0},
    },
}


# ------------------------------------------------------------- checksums
def _pmod(x: np.ndarray, m: int) -> np.ndarray:
    return np.mod(np.asarray(x, dtype=np.int64), m)


def pair_checksum(a, b) -> list[int]:
    """(count, Σ a mod P, Σ b mod Q, Σ (a mod P)(b mod Q)) of two long
    columns — edges (src, dst) or labels (id, label)."""
    pa_, qb = _pmod(a, P), _pmod(b, Q)
    return [int(len(pa_)), int(pa_.sum()), int(qb.sum()), int((pa_ * qb).sum())]


def tri_checksum(src, dst, cnt) -> list[int]:
    """(count, Σ cnt, Σ cnt·(src mod P), Σ cnt·(dst mod Q)) of a
    per-edge triangle table."""
    c = np.asarray(cnt, dtype=np.int64)
    return [
        int(len(c)),
        int(c.sum()),
        int((c * _pmod(src, P)).sum()),
        int((c * _pmod(dst, Q)).sum()),
    ]


def spark_checksum(df, cols: tuple[str, ...]) -> list[int]:
    """The aggregate that ends a timed call: consumes ``cols`` of ``df``
    and returns the checksum that ``pair_checksum`` (two long columns)
    or ``tri_checksum`` (src, dst, count) computes in numpy."""
    from pyspark.sql import functions as F

    if len(cols) == 2:
        pa_ = F.pmod(F.col(cols[0]), F.lit(P))
        qb = F.pmod(F.col(cols[1]), F.lit(Q))
        aggs = [F.count("*"), F.sum(pa_), F.sum(qb), F.sum(pa_ * qb)]
    else:
        c = F.col(cols[2])
        aggs = [
            F.count("*"),
            F.sum(c),
            F.sum(c * F.pmod(F.col(cols[0]), F.lit(P))),
            F.sum(c * F.pmod(F.col(cols[1]), F.lit(Q))),
        ]
    row = df.agg(*aggs).collect()[0]
    return [int(v or 0) for v in row]


def rank_checksum_spark(ranks):
    """(count, Σ rank, Σ rank·w(id)) of a PageRank output, with
    w(id) = pmod(id, P) / P so that the aggregate consumes both columns;
    ``run.py`` checks count and Σ rank, and the ranks themselves."""
    from pyspark.sql import functions as F

    w = F.pmod(F.col("id"), F.lit(P)) / F.lit(float(P))
    row = ranks.agg(
        F.count("*"), F.sum("rank"), F.sum(F.col("rank") * w)
    ).collect()[0]
    return [int(row[0]), float(row[1] or 0.0), float(row[2] or 0.0)]


# ---------------------------------------------------------------- inputs
def make_inputs(workload: str, seed: int, size: dict, out_dir: str) -> dict:
    """Generate the workload's inputs from ``seed`` into ``out_dir``;
    returns a description of what was written (sizes, paths)."""
    os.makedirs(out_dir, exist_ok=True)
    if workload == "crawl_job":
        return _make_pages(seed, size, out_dir)
    if workload != "triangles_skew":
        raise ValueError(f"unknown workload {workload!r}")
    # canonical undirected edges with a quadratic bias toward low ids (the
    # shape of graph.synthetic.synthetic_edges(skew=2.0), drawn from a
    # seeded generator instead of a fixed hash mix)
    rng = np.random.default_rng(seed % 2**64)
    n, m = size["vertices"], size["edges"]
    a = rng.integers(0, n, m)
    b = (rng.random(m) ** size["skew"] * n).astype(np.int64)
    lo, hi = np.minimum(a, b), np.maximum(a, b)
    pairs = np.unique(np.stack([lo, hi], 1)[lo != hi], axis=0)
    edges_path = os.path.join(out_dir, "edges.parquet")
    table = pa.table(
        {"src": pa.array(pairs[:, 0], pa.int64()), "dst": pa.array(pairs[:, 1], pa.int64())}
    )
    pq.write_table(table, edges_path)
    return {"edges": edges_path, "n_vertices": n}


def page_targets(i: int, n_pages: int, seed: int, hub_skew: float, max_links: int):
    """The link targets page ``i`` was generated with: the first draws
    of ``sources.pages._page_record``'s per-page generator, so the
    intended href graph is known without parsing any HTML."""
    rng = random.Random((seed << 32) ^ i)
    n_links = rng.randint(0, max_links)
    return {int(n_pages * (rng.random() ** hub_skew)) for _ in range(n_links)} - {i}


def _make_pages(seed: int, size: dict, out_dir: str) -> dict:
    from graphminer_spark.sources.pages import _page_record

    n = size["pages"]
    recs = [
        _page_record(i, n, seed, size["hub_skew"], size["max_links"])
        for i in range(n)
    ]
    cols = list(zip(*recs))
    table = pa.table(
        {
            "url": pa.array(cols[0], pa.string()),
            "warc_ts": pa.array(cols[1], pa.timestamp("us", tz="UTC")),
            "html": pa.array(cols[2], pa.binary()),
            "text": pa.array(cols[3], pa.string()),
            "lang": pa.array(cols[4], pa.string()),
        }
    )
    path = os.path.join(out_dir, "pages.parquet")
    pq.write_table(table, path)
    return {"pages": path, "n_pages": n}


def page_links(seed: int, size: dict) -> list[tuple[int, int]]:
    """Directed (page index → page index) link list of the corpus."""
    n = size["pages"]
    return [
        (i, t)
        for i in range(n)
        for t in page_targets(i, n, seed, size["hub_skew"], size["max_links"])
    ]


# ---------------------------------------------------------------- golden
def canonical(edges) -> list[tuple[int, int]]:
    return sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})


def dag_edges(canon: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Degree-ordered orientation (``graph.build.build_dag``'s order)."""
    deg: dict[int, int] = defaultdict(int)
    for a, b in canon:
        deg[a] += 1
        deg[b] += 1
    return [
        (a, b) if (deg[b], b) > (deg[a], a) else (b, a) for a, b in canon
    ]


def golden_graph(
    vertices: list[int], directed: list[tuple[int, int]], parts: set[str], lp_iter: int
) -> dict:
    """Golden values of the algorithms in ``parts`` on one graph, from
    ``graphminer_spark.oracles`` (PageRank on ``directed``; CC on the
    same edges as undirected; LP and TC on the canonical edges)."""
    from graphminer_spark import oracles

    out: dict = {}
    canon = canonical(directed)
    cs = np.array(canon, dtype=np.int64).reshape(-1, 2)
    out["canon"] = pair_checksum(cs[:, 0], cs[:, 1])
    if "pagerank" in parts:
        idx = {v: i for i, v in enumerate(vertices)}
        dense = oracles.dense_pagerank(
            len(vertices), [(idx[a], idx[b]) for a, b in directed], tol=1e-6
        )
        out["pagerank"] = dict(zip(vertices, dense.tolist()))
    if "components" in parts:
        cc = oracles.union_find_cc(vertices, directed)
        out["components"] = pair_checksum(list(cc), list(cc.values()))
    if "labelprop" in parts:
        lp = oracles.sync_label_propagation(vertices, canon, lp_iter)
        out["labelprop"] = pair_checksum(list(lp), list(lp.values()))
    if "triangles" in parts:
        dag = np.array(dag_edges(canon), dtype=np.int64).reshape(-1, 2)
        out["dag"] = pair_checksum(dag[:, 0], dag[:, 1])
        n_tri, per_edge = oracles.brute_triangles(canon)
        keys = np.array(list(per_edge), dtype=np.int64).reshape(-1, 2)
        out["n_triangles"] = n_tri
        out["per_edge"] = tri_checksum(keys[:, 0], keys[:, 1], list(per_edge.values()))
    return out

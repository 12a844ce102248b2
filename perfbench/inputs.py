"""Seeded benchmark inputs.

Every input is a pure function of (seed, size) and is written with pyarrow,
without Spark, into ``perfbench/.cache`` (ignored by git), so the engine only
ever reads the generated files. A cached file is reused when the same
(seed, size) comes round again; generation is never timed.
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DEFAULT_SEED = 42
HERE = Path(__file__).resolve().parent
CACHE = HERE / ".cache"
# (l_orderkey, l_suppkey) of the sf0.1 TPC-H-style lineitem table the
# ``__spark_entry__`` queries run on (600,000 rows, 1,000 suppliers), sorted.
LINEITEM = HERE / "data" / "sf0.1_lineitem.parquet"


def _write(table: pa.Table, out: Path) -> str:
    """Write ``table`` to ``out`` through a temp name, so a killed run never
    leaves a half-written file that a later run would take as cached."""
    out.parent.mkdir(parents=True, exist_ok=True)
    tmp = out.with_name(f".{out.name}.{os.getpid()}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, out)
    return str(out)


def supplier_edges(seed: int, order_stride: int) -> str:
    """The supplier co-occurrence edge list (src, dst, weight) of the
    lineitem orders whose key is a multiple of ``order_stride`` (1 = all of
    sf0.1), with supplier keys relabelled by a seeded bijection first.

    It is the edge list of ``__spark_entry__._supplier_edges``: per order,
    the supplier keys sorted, every pair of positions i < j whose keys are
    strictly ordered, and per key pair the number of such position pairs. The
    relabel is the identity at ``DEFAULT_SEED``, so the default seed gives the
    sf0.1 graph of the ``__spark_entry__`` queries exactly and every other
    seed an isomorphic graph with other ids."""
    out = CACHE / f"supplier_seed{seed}_stride{order_stride}.parquet"
    if out.exists():
        return str(out)
    t = pq.read_table(LINEITEM)
    orders = t["l_orderkey"].to_numpy()
    supp = t["l_suppkey"].to_numpy()
    keep = orders % order_stride == 0
    orders, supp = orders[keep], supp[keep]
    if seed != DEFAULT_SEED:
        keys = np.unique(supp)
        relabel = np.random.default_rng(seed).permutation(keys)
        supp = relabel[np.searchsorted(keys, supp)]
    order = np.lexsort((supp, orders))
    orders, supp = orders[order], supp[order]
    starts = np.flatnonzero(np.r_[True, orders[1:] != orders[:-1]])
    sizes = np.diff(np.r_[starts, len(orders)])
    src, dst = [], []
    for n in np.unique(sizes):  # every order of n items at once
        first = starts[sizes == n]
        i, j = np.triu_indices(n, k=1)
        src.append(supp[first[:, None] + i].ravel())
        dst.append(supp[first[:, None] + j].ravel())
    src, dst = np.concatenate(src), np.concatenate(dst)
    keep = src < dst
    pairs, counts = np.unique(np.stack([src[keep], dst[keep]], axis=1), axis=0,
                              return_counts=True)
    return _write(pa.table({"src": pairs[:, 0].astype("int64"),
                            "dst": pairs[:, 1].astype("int64"),
                            "weight": counts.astype("float64")}), out)


def planted_edges(seed: int, n_blocks: int, block_size: int, n_edges: int,
                  p_out: float = 0.05) -> str:
    """Planted-partition edge list (src, dst, weight=1), the construction of
    ``BENCH/scaling.py generate_direct``: ``n_edges`` endpoint pairs, a
    ``1 - p_out`` share drawn inside a uniformly chosen block, the rest
    between uniform vertices; self-loops dropped."""
    out = CACHE / f"planted_seed{seed}_{n_blocks}x{block_size}_e{n_edges}.parquet"
    if out.exists():
        return str(out)
    rng = np.random.default_rng(seed)
    v = n_blocks * block_size
    n_in = int(n_edges * (1 - p_out))
    n_out = n_edges - n_in
    blk = rng.integers(0, n_blocks, size=n_in)
    src = np.concatenate([blk * block_size + rng.integers(0, block_size, size=n_in),
                          rng.integers(0, v, size=n_out)]).astype("int64")
    dst = np.concatenate([blk * block_size + rng.integers(0, block_size, size=n_in),
                          rng.integers(0, v, size=n_out)]).astype("int64")
    keep = src != dst
    src, dst = src[keep], dst[keep]
    return _write(pa.table({"src": src, "dst": dst, "weight": np.ones(len(src))}), out)


def corpus(seed: int, n_repos: int, files_per_repo: int, commits_per_repo: int,
           files_per_commit: int) -> str:
    """The engine's synthetic code corpus (``generate_corpus_rows``) written
    as a parquet table (repo, path, commit, lang, content)."""
    out = CACHE / (f"corpus_seed{seed}_r{n_repos}_f{files_per_repo}"
                   f"_c{commits_per_repo}_k{files_per_commit}.parquet")
    if out.exists():
        return str(out)
    from graftlouvain.sources.corpus import generate_corpus_rows

    rows = list(generate_corpus_rows(
        n_repos=n_repos, files_per_repo=files_per_repo,
        commits_per_repo=commits_per_repo, files_per_commit=files_per_commit,
        seed=seed,
    ))
    cols = ["repo", "path", "commit", "lang", "content"]
    table = pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)})
    return _write(table, out)

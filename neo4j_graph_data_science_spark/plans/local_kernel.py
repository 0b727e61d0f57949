"""Single-task Arrow kernels for subcritical graphs.

The distributed Pregel loop (plans/pregel.py) pays a fixed per-boundary
cost — job scheduling, Catalyst analysis of the superstep plan, the
stats/materialization action — that is independent of graph size. At 10^9+
edges that cost is noise; below a few million edges it IS the wall time
(55 PageRank supersteps x ~1 s of fixed cost on a 192k-edge graph vs ~1 ms
of actual arithmetic per superstep).

The reference engine never pays this tax because it is entirely in-memory
single-node (HugeGraph CSR + worker threads). This module is the Spark
answer for that regime: when the edge count is below
``LOCAL_KERNEL_MAX_EDGES``, the WHOLE iteration loop runs inside ONE
executor task as a vectorized numpy kernel over Arrow-shipped columns —
one Spark job total, no per-superstep driver round-trips. Above the
threshold the distributed loop engages unchanged; on a 100 TB deployment
the threshold only ever triggers for small extracted subgraphs (per-
component runs, path-query neighborhoods), where it removes dozens of
scheduler round-trips per call.

Semantics are IDENTICAL to the distributed formulations (same init, same
update order, same tie-breaks, same iteration accounting); parity is
pinned by tests/test_local_kernel.py at 1e-12 for PageRank and exactly for
WCC/LPA. Kill switch: config small_graph_edges=0 forces the distributed
path.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, DoubleType, LongType, StructField, StructType,
)

from ..catalog import DST, SRC, W, register_cache

# default threshold: ~2M edges ~= 50 MB of Arrow traffic to one task and
# ~5 ms/superstep of numpy; the distributed loop's fixed cost crosses the
# kernel's total cost far below this, so the constant is conservative
LOCAL_KERNEL_MAX_EDGES = 2_000_000


def should_run_local(n_edges: int, limit: int | None,
                     checkpoint_dir: str | None) -> bool:
    """Durable checkpointing keeps the distributed loop (the whole point of
    the checkpoint contract is mid-iteration resume of LONG runs)."""
    if checkpoint_dir:
        return False
    lim = LOCAL_KERNEL_MAX_EDGES if limit is None else limit
    return 0 < lim and n_edges <= lim


def _one_group(df: DataFrame) -> "GroupedData":  # noqa: F821
    return df.withColumn("_k", F.lit(0)).groupBy("_k")


def _run_cogrouped(edges: DataFrame, state: DataFrame, kernel, schema):
    """Ship edges + state to a single task, run `kernel(epdf, spdf)` there.

    cogroup-on-constant-key rather than driver collect: the arrays live in
    an executor task, results flow back as a normal DataFrame, and the
    driver never holds the graph.
    """
    def fn(_key, epdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
        return kernel(epdf, spdf)

    return _one_group(edges).cogroup(_one_group(state)).applyInPandas(fn, schema)


def _first_row(out: DataFrame):
    out = register_cache(out.persist())
    out.count()
    return out


def _index_edges(ids: np.ndarray, epdf: pd.DataFrame):
    """Map edge endpoints into positions of the SORTED id array, dropping
    edges whose endpoint is not a known node — the same rows an inner join
    of edges to state would drop in the distributed plan."""
    if len(epdf) == 0 or SRC not in epdf.columns:
        z = np.zeros(0, dtype="int64")
        return z, z, np.zeros(0, dtype="bool")
    s = np.searchsorted(ids, epdf[SRC].to_numpy(dtype="int64"))
    d = np.searchsorted(ids, epdf[DST].to_numpy(dtype="int64"))
    n = len(ids)
    s_ok = np.clip(s, 0, n - 1)
    d_ok = np.clip(d, 0, n - 1)
    valid = (
        (ids[s_ok] == epdf[SRC].to_numpy(dtype="int64"))
        & (ids[d_ok] == epdf[DST].to_numpy(dtype="int64"))
    )
    return s_ok[valid], d_ok[valid], valid


PAGERANK_SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("rank", DoubleType()),
    StructField("iters", LongType()),
    StructField("conv", BooleanType()),
])


def local_page_rank(edges: DataFrame, state0: DataFrame, damping: float,
                    max_updates: int, tolerance: float):
    """PageRank-family loop in one task.

    ``state0`` is the SAME (id, rank, alpha, out_deg) frame the distributed
    path starts from (operators/pagerank.py builds it), so init semantics —
    personalization, weighted degrees, multigraph multiplicity — are
    decided once, in DataFrame land, for both engines.

    Returns (result_state_df, iterations_done, converged, wall_s); the
    caller adds GDS's initial send-only superstep to the count.
    """
    d = float(damping)
    tol = float(tolerance)

    def kernel(epdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
        ids = spdf["id"].to_numpy(dtype="int64")
        order = np.argsort(ids, kind="mergesort")
        ids = ids[order]
        rank = spdf["rank"].to_numpy(dtype="float64")[order]
        alpha = spdf["alpha"].to_numpy(dtype="float64")[order]
        out_deg = spdf["out_deg"].to_numpy(dtype="float64")[order]
        n = len(ids)
        if n == 0:
            return pd.DataFrame(
                {"id": [], "rank": [], "iters": [], "conv": []}).astype(
                {"id": "int64", "rank": "float64", "iters": "int64",
                 "conv": "bool"})
        src_idx, dst_idx, valid = _index_edges(ids, epdf)
        w = (epdf[W].to_numpy(dtype="float64") if W in epdf.columns
             else np.ones(len(epdf), dtype="float64"))[valid]
        inv_deg = np.where(out_deg > 0, 1.0 / np.where(out_deg > 0, out_deg, 1.0), 0.0)
        it, conv = 0, False
        while it < max_updates:
            contrib = rank * inv_deg
            msg = np.bincount(dst_idx, weights=contrib[src_idx] * w,
                              minlength=n)
            new_rank = alpha + d * msg
            delta = np.abs(new_rank - rank)
            rank = new_rank
            it += 1
            if tol > 0 and (len(delta) == 0 or float(delta.max()) <= tol):
                conv = True
                break
        return pd.DataFrame({"id": ids, "rank": rank,
                             "iters": np.int64(it), "conv": conv})

    t0 = time.time()
    out = _first_row(_run_cogrouped(edges, state0, kernel, PAGERANK_SCHEMA))
    head = out.select("iters", "conv").first()
    wall = time.time() - t0
    iters = int(head["iters"]) if head else 0
    conv = bool(head["conv"]) if head else True
    return out.select("id", "rank"), iters, conv, wall


WCC_SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("comp", LongType()),
    StructField("iters", LongType()),
])


def local_wcc(edges: DataFrame, state0: DataFrame):
    """Min-label components in one task.

    ``edges`` is the already-undirected, threshold-filtered, distinct edge
    set; ``state0`` is (id, comp) with comp = id or the seed property.
    Internally runs index-space pointer-jumped min propagation (np.unique
    returns SORTED ids, so min index == min id), then maps every component
    to the MIN of its members' seed values — equal by induction to the
    distributed min-propagation fixpoint for both the seeded and unseeded
    cases.
    """
    def kernel(epdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
        ids = np.sort(spdf["id"].to_numpy(dtype="int64"))
        n = len(ids)
        if n == 0:
            return pd.DataFrame({"id": [], "comp": [], "iters": []}).astype(
                {"id": "int64", "comp": "int64", "iters": "int64"})
        src_idx, dst_idx, _ = _index_edges(ids, epdf)
        lbl = np.arange(n, dtype="int64")
        it = 0
        while True:
            it += 1
            prev = lbl
            m = np.minimum(lbl[src_idx], lbl[dst_idx])
            nxt = lbl.copy()
            np.minimum.at(nxt, dst_idx, m)
            np.minimum.at(nxt, src_idx, m)
            # pointer jumping: collapse chains exponentially
            nxt = np.minimum(nxt, nxt[nxt])
            nxt = np.minimum(nxt, nxt[nxt])
            lbl = nxt
            if np.array_equal(lbl, prev):
                break
        # map each index-component to the min SEED value of its members
        seed = pd.Series(
            spdf["comp"].to_numpy(dtype="int64"),
            index=spdf["id"].to_numpy(dtype="int64"))[ids].to_numpy()
        comp_min = pd.Series(seed).groupby(lbl).transform("min").to_numpy()
        return pd.DataFrame({"id": ids, "comp": comp_min,
                             "iters": np.int64(it)})

    t0 = time.time()
    out = _first_row(_run_cogrouped(edges, state0, kernel, WCC_SCHEMA))
    head = out.select("iters").first()
    wall = time.time() - t0
    return out.select("id", "comp"), int(head["iters"]) if head else 0, wall


DIST_SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("dist", DoubleType()),
])


def local_relax_dist(edges: DataFrame, state0: DataFrame,
                     max_iterations: int, hop_cost: bool = False):
    """Min-plus relaxation fixpoint in one task (the numpy twin of
    operators/paths._relax_loop): state0 is (id, dist[, changed]) with dist
    0.0 at sources and +inf elsewhere; per round only edges out of
    just-changed nodes relax (same frontier semantics, so a
    max_iterations-truncated run matches the distributed iterate exactly).
    ``hop_cost=True`` ignores the weight column (BFS). Returns finite
    (id, dist) rows only."""
    def kernel(epdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
        ids = spdf["id"].to_numpy(dtype="int64")
        order = np.argsort(ids, kind="mergesort")
        ids = ids[order]
        dist = spdf["dist"].to_numpy(dtype="float64")[order]
        n = len(ids)
        if n == 0:
            return pd.DataFrame({"id": [], "dist": []}).astype(
                {"id": "int64", "dist": "float64"})
        src_idx, dst_idx, valid = _index_edges(ids, epdf)
        if hop_cost or W not in epdf.columns:
            w = np.ones(len(src_idx), dtype="float64")
        else:
            w = epdf[W].to_numpy(dtype="float64")[valid]
        changed = np.isfinite(dist)
        for _ in range(max_iterations):
            if not changed.any():
                break
            em = changed[src_idx] & np.isfinite(dist[src_idx])
            nxt = dist.copy()
            np.minimum.at(nxt, dst_idx[em], dist[src_idx[em]] + w[em])
            changed = nxt < dist
            dist = nxt
        keep = np.isfinite(dist)
        return pd.DataFrame({"id": ids[keep], "dist": dist[keep]})

    return _first_row(_run_cogrouped(edges, state0, kernel, DIST_SCHEMA))


PATHS_SCHEMA = StructType([
    StructField("target", LongType()),
    StructField("total_cost", DoubleType()),
    StructField("node_ids", ArrayType(LongType())),
    StructField("costs", ArrayType(DoubleType())),
])

# the paths variant walks pred chains in python (O(sum path length)), so
# its dispatch threshold is tighter than the pure-vector kernels'
LOCAL_PATHS_MAX_EDGES = 200_000


def local_dijkstra_paths(edges: DataFrame, nodes: DataFrame, source: int,
                         target: int | None, max_iterations: int):
    """dijkstra()-in-one-task: relaxation fixpoint, THEN deterministic
    predecessors (pred(v) = min in-neighbor id u with
    |dist(u)+w(u,v)-dist(v)| < 1e-9 — the same converged-distance tie-break
    as operators/paths._deterministic_predecessors, same 1e-9 tolerance),
    THEN pred-chain backtracking with per-node cumulative cost arrays.
    Returns (target, total_cost, node_ids, costs); the caller adds the
    source column. Semantics pinned against the distributed path by
    tests/test_local_kernel.py."""
    src_node, tgt = int(source), (None if target is None else int(target))

    def kernel(epdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"target": pd.Series(dtype="int64"),
             "total_cost": pd.Series(dtype="float64"),
             "node_ids": pd.Series(dtype="object"),
             "costs": pd.Series(dtype="object")})
        ids = np.sort(spdf["id"].to_numpy(dtype="int64"))
        n = len(ids)
        if n == 0:
            return empty
        pos = np.searchsorted(ids, src_node)
        if pos >= n or ids[pos] != src_node:
            return empty
        src_idx, dst_idx, valid = _index_edges(ids, epdf)
        w = (epdf[W].to_numpy(dtype="float64") if W in epdf.columns
             else np.ones(len(epdf), dtype="float64"))[valid]
        dist = np.full(n, np.inf)
        dist[pos] = 0.0
        changed = np.zeros(n, dtype=bool)
        changed[pos] = True
        for _ in range(max_iterations):
            if not changed.any():
                break
            em = changed[src_idx] & np.isfinite(dist[src_idx])
            nxt = dist.copy()
            np.minimum.at(nxt, dst_idx[em], dist[src_idx[em]] + w[em])
            changed = nxt < dist
            dist = nxt
        # deterministic predecessors from CONVERGED distances
        tight = np.abs(dist[src_idx] + w - dist[dst_idx]) < 1e-9
        pred = np.full(n, n, dtype="int64")  # n = "none"
        np.minimum.at(pred, dst_idx[tight], src_idx[tight])
        if tgt is not None:
            tpos = np.searchsorted(ids, tgt)
            if tpos >= n or ids[tpos] != tgt or not np.isfinite(dist[tpos]) \
                    or tpos == pos:
                return empty
            targets = [int(tpos)]
        else:
            targets = [int(i) for i in np.where(np.isfinite(dist))[0]
                       if i != pos]
        rows = []
        for t in targets:
            chain = [t]
            cur = t
            for _ in range(max_iterations):
                cur = int(pred[cur])
                if cur >= n:
                    chain = None  # chain dead-ends before the source
                    break
                chain.append(cur)
                if cur == pos:
                    break
            else:
                chain = None
            if chain is None or chain[-1] != pos:
                continue
            chain.reverse()
            rows.append((int(ids[t]), float(dist[t]),
                         [int(ids[c]) for c in chain],
                         [float(dist[c]) for c in chain]))
        if not rows:
            return empty
        return pd.DataFrame(rows,
                            columns=["target", "total_cost", "node_ids",
                                     "costs"])

    return _first_row(_run_cogrouped(edges, nodes, kernel, PATHS_SCHEMA))


SCC_SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("component", LongType()),
])


def local_scc(edges: DataFrame, nodes: DataFrame):
    """Iterative Tarjan in one task — the reference's own execution shape
    (Scc.java:36 is a sequential iterative Tarjan) — with components
    canonicalized to min member id like the distributed FB-peeling path.
    Self-loops are dropped (a self-loop never changes the partition)."""
    def kernel(epdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
        ids = np.sort(spdf["id"].to_numpy(dtype="int64"))
        n = len(ids)
        if n == 0:
            return pd.DataFrame({"id": [], "component": []}).astype(
                {"id": "int64", "component": "int64"})
        src_idx, dst_idx, _ = _index_edges(ids, epdf)
        keep = src_idx != dst_idx
        src_idx, dst_idx = src_idx[keep], dst_idx[keep]
        order = np.argsort(src_idx, kind="mergesort")
        adj = dst_idx[order]
        indptr = np.zeros(n + 1, dtype="int64")
        np.add.at(indptr, src_idx + 1, 1)
        indptr = np.cumsum(indptr)
        index = np.full(n, -1, dtype="int64")
        low = np.zeros(n, dtype="int64")
        onstk = np.zeros(n, dtype=bool)
        it_ptr = np.zeros(n, dtype="int64")
        comp = np.empty(n, dtype="int64")
        counter = 0
        stk: list[int] = []
        for root in range(n):
            if index[root] != -1:
                continue
            work = [root]
            while work:
                v = work[-1]
                if index[v] == -1:
                    index[v] = low[v] = counter
                    counter += 1
                    stk.append(v)
                    onstk[v] = True
                    it_ptr[v] = indptr[v]
                advanced = False
                while it_ptr[v] < indptr[v + 1]:
                    u = int(adj[it_ptr[v]])
                    it_ptr[v] += 1
                    if index[u] == -1:
                        work.append(u)
                        advanced = True
                        break
                    if onstk[u]:
                        if index[u] < low[v]:
                            low[v] = index[u]
                if advanced:
                    continue
                work.pop()
                if work and low[v] < low[work[-1]]:
                    low[work[-1]] = low[v]
                if low[v] == index[v]:
                    members = []
                    while True:
                        u = stk.pop()
                        onstk[u] = False
                        members.append(u)
                        if u == v:
                            break
                    m = int(ids[min(members)])  # sorted ids: min idx = min id
                    for u in members:
                        comp[u] = m
        return pd.DataFrame({"id": ids, "component": comp})

    return _first_row(_run_cogrouped(edges, nodes, kernel, SCC_SCHEMA))


HITS_SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("auth", DoubleType()),
    StructField("hub", DoubleType()),
])


def local_hits(edges: DataFrame, nodes: DataFrame, iterations: int):
    """HITS in one task, GDS phase order (HitsComputation.java): INIT
    auth = in-degree L2-normalized, hub = 1; per iteration
    auth = sum(hub of in-neighbors) normalized, then
    hub = sum(auth of out-neighbors) normalized. ``edges`` keeps parallel
    edges (multigraph sums), exactly like the distributed path."""
    def kernel(epdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
        ids = np.sort(spdf["id"].to_numpy(dtype="int64"))
        n = len(ids)
        if n == 0:
            return pd.DataFrame({"id": [], "auth": [], "hub": []}).astype(
                {"id": "int64", "auth": "float64", "hub": "float64"})
        src_idx, dst_idx, _ = _index_edges(ids, epdf)

        def l2(x: np.ndarray) -> np.ndarray:
            nrm = float(np.sqrt((x * x).sum()))
            return x / nrm if nrm > 0 else x

        auth = l2(np.bincount(dst_idx, minlength=n).astype("float64"))
        hub = np.ones(n, dtype="float64")
        for _ in range(iterations):
            auth = l2(np.bincount(dst_idx, weights=hub[src_idx], minlength=n))
            hub = l2(np.bincount(src_idx, weights=auth[dst_idx], minlength=n))
        return pd.DataFrame({"id": ids, "auth": auth, "hub": hub})

    out = _first_row(_run_cogrouped(edges, nodes, kernel, HITS_SCHEMA))
    return out.select("id", "auth", "hub")


LPA_SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("label", LongType()),
    StructField("iters", LongType()),
    StructField("conv", BooleanType()),
])


def local_label_propagation(edges: DataFrame, state0: DataFrame,
                            max_iterations: int):
    """Synchronous LPA in one task: per round, votes = sum of edge weight
    per (receiver, sender label); new label = argmax weight, ties -> the
    smaller label (ComputeStepConsumer.java:70-73); stop when no label
    changed. ``edges`` is the reversed weighted edge set the distributed
    path builds (src = voting neighbor)."""
    def kernel(epdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
        ids = spdf["id"].to_numpy(dtype="int64")
        order = np.argsort(ids, kind="mergesort")
        ids = ids[order]
        label = spdf["label"].to_numpy(dtype="int64")[order]
        n = len(ids)
        if n == 0:
            return pd.DataFrame(
                {"id": [], "label": [], "iters": [], "conv": []}).astype(
                {"id": "int64", "label": "int64", "iters": "int64",
                 "conv": "bool"})
        src_idx, dst_idx, valid = _index_edges(ids, epdf)
        w = (epdf[W].to_numpy(dtype="float64") if W in epdf.columns
             else np.ones(len(epdf), dtype="float64"))[valid]
        it, conv = 0, False
        while it < max_iterations:
            votes = pd.DataFrame({
                "r": dst_idx, "l": label[src_idx], "w": w,
            }).groupby(["r", "l"], as_index=False)["w"].sum()
            votes = votes.sort_values(
                ["r", "w", "l"], ascending=[True, False, True],
                kind="mergesort").drop_duplicates("r")
            new_label = label.copy()
            new_label[votes["r"].to_numpy()] = votes["l"].to_numpy()
            it += 1
            if np.array_equal(new_label, label):
                conv = True
                label = new_label
                break
            label = new_label
        return pd.DataFrame({"id": ids, "label": label,
                             "iters": np.int64(it), "conv": conv})

    t0 = time.time()
    out = _first_row(_run_cogrouped(edges, state0, kernel, LPA_SCHEMA))
    head = out.select("iters", "conv").first()
    wall = time.time() - t0
    iters = int(head["iters"]) if head else 0
    conv = bool(head["conv"]) if head else True
    return out.select("id", "label"), iters, conv, wall

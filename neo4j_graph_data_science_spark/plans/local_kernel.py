"""Driver-side numpy kernels for subcritical graphs.

The distributed Pregel loop (plans/pregel.py) pays a fixed per-boundary
cost — job scheduling, Catalyst analysis of the superstep plan, the
stats/materialization action — that is independent of graph size. At 10^9+
edges that cost is noise; below a few million edges it IS the wall time
(55 PageRank supersteps x ~1 s of fixed cost on a 192k-edge graph vs ~1 ms
of actual arithmetic per superstep).

The reference engine never pays this tax because it is entirely in-memory
single-node (HugeGraph CSR + worker threads). This module is the Spark
answer for that regime: when the graph has at most
``LOCAL_KERNEL_MAX_EDGES`` edges AND at most as many nodes, the inputs are
read into the driver over Arrow (``toArrow``), the WHOLE iteration loop
runs there as a vectorized numpy kernel, and the result goes back to Spark
as local data (``createDataFrame``) — one read job per input, no Python
worker, no per-superstep round-trips. At the cap the driver reads at most
2M edge rows (<= 24 B each) plus 2M state rows (<= 32 B each), about
112 MB, well inside ``spark.driver.maxResultSize``'s 1 GB default; the
result frame then stays in driver memory for as long as it lives. Above
the threshold the distributed loop engages
unchanged; on a 100 TB deployment the threshold only ever triggers for
small extracted subgraphs (per-component runs, path-query neighborhoods),
where it removes dozens of scheduler round-trips per call.

Semantics are IDENTICAL to the distributed formulations (same init, same
update order, same tie-breaks, same iteration accounting); parity is
pinned by tests/test_local_kernel.py at 1e-12 for PageRank and exactly for
the others. Kill switch: config small_graph_edges=0 forces the distributed
path.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..catalog import DST, SRC, W

# default threshold on edges and on nodes alike: ~2M edges ~= 48 MB of
# int64/double columns in the driver and ~5 ms/superstep of numpy; the
# distributed loop's fixed cost crosses the kernel's total cost far below
# this, so the constant is conservative
LOCAL_KERNEL_MAX_EDGES = 2_000_000

# local_triangles closes at most this many wedges per numpy pass, so one
# hub's quadratic wedge fan-out cannot blow up driver memory
WEDGE_CHUNK = 1 << 20

# triangle work grows with the degree-oriented wedge total (up to
# ~m^1.5), not with the edge count, so local_triangles hands a graph back
# to the distributed joins past this many wedges. Measured on 4 vCPU with
# skewed 2M-edge graphs, the driver kernel beat the broadcast-join path at
# every wedge total up to 4.2e8 (1.2e7: 12 s vs 24 s, 1.0e8: 19 s vs 28 s,
# 4.2e8: 56 s vs 95 s); past the largest measured total the distributed
# path, which spreads the wedges over every core, takes over.
LOCAL_TRIANGLES_MAX_WEDGES = 400_000_000


def should_run_local(edges: DataFrame, nodes: DataFrame, limit: int | None,
                     checkpoint_dir: str | None) -> tuple[bool, int]:
    """Count ``edges`` (materializing a persisted edge frame) and pick the
    engine. Returns (local, n_edges).

    The driver kernel reads both the edges and one state row per node, so
    both must fit: local iff at most ``limit`` edges (None ->
    LOCAL_KERNEL_MAX_EDGES, 0 -> never) AND at most as many nodes. A graph
    with few edges but tens of millions of isolated nodes keeps the
    distributed path, whose rows never pass through the driver. When the
    local engine is possible at all, the nodes are counted in the SAME job
    as the edges (one union aggregate), so the rule adds no Spark job.
    Durable checkpointing keeps the distributed loop (the whole point of
    the checkpoint contract is mid-iteration resume of LONG runs)."""
    lim = LOCAL_KERNEL_MAX_EDGES if limit is None else limit
    if checkpoint_dir or lim <= 0:
        return False, edges.count()
    n_rows, n_edges = (
        edges.select(F.lit(1).alias("_e"))
        .unionAll(nodes.select(F.lit(0).alias("_e")))
        .agg(F.count(F.lit(1)), F.sum("_e")).collect()[0])
    n_edges = n_edges or 0
    return n_edges <= lim and n_rows - n_edges <= lim, n_edges


def _columns(df: DataFrame) -> dict[str, np.ndarray]:
    """Read ``df`` into the driver over Arrow, one numpy array per column."""
    t = df.toArrow()
    return {c: t.column(c).to_numpy() for c in t.column_names}


def _frame(like: DataFrame, cols: dict[str, np.ndarray], schema) -> DataFrame:
    """Hand kernel output back to Spark as local data (no job, no cache)."""
    return like.sparkSession.createDataFrame(pa.table(cols), schema)


def _lookup(keys: np.ndarray, x: np.ndarray):
    """Positions of ``x`` in the SORTED array ``keys``, and whether each
    value is present there."""
    pos = np.searchsorted(keys, x)
    found = pos < len(keys)
    found[found] = keys[pos[found]] == x[found]
    return pos, found


def _index_edges(ids: np.ndarray, e: dict[str, np.ndarray]):
    """Map edge endpoints into positions of the SORTED id array, dropping
    edges whose endpoint is not a known node — the same rows an inner join
    of edges to state would drop in the distributed plan."""
    s, s_ok = _lookup(ids, e[SRC])
    d, d_ok = _lookup(ids, e[DST])
    valid = s_ok & d_ok
    return s[valid], d[valid], valid


def _weights(e: dict[str, np.ndarray], valid: np.ndarray) -> np.ndarray:
    w = e[W] if W in e else np.ones(len(valid))
    return w[valid].astype("float64")


def _sorted_state(s: dict[str, np.ndarray], *cols: str):
    """The state's ids in ascending order, and ``cols`` in the same order."""
    order = np.argsort(s["id"], kind="mergesort")
    return [s["id"][order].astype("int64")] + [s[c][order] for c in cols]


def local_page_rank(edges: DataFrame, state0: DataFrame, damping: float,
                    max_updates: int, tolerance: float):
    """PageRank-family loop in the driver.

    ``state0`` is the SAME (id, rank, alpha, out_deg) frame the distributed
    path starts from (operators/pagerank.py builds it), so init semantics —
    personalization, weighted degrees, multigraph multiplicity — are
    decided once, in DataFrame land, for both engines.

    Returns (result_state_df, iterations_done, converged, wall_s); the
    caller adds GDS's initial send-only superstep to the count.
    """
    t0 = time.time()
    e = _columns(edges)
    ids, rank, alpha, out_deg = _sorted_state(
        _columns(state0), "rank", "alpha", "out_deg")
    d, tol, n = float(damping), float(tolerance), len(ids)
    src_idx, dst_idx, valid = _index_edges(ids, e)
    w = _weights(e, valid)
    inv_deg = np.where(out_deg > 0, 1.0 / np.where(out_deg > 0, out_deg, 1.0), 0.0)
    it, conv = 0, n == 0
    while not conv and it < max_updates:
        contrib = rank * inv_deg
        msg = np.bincount(dst_idx, weights=contrib[src_idx] * w, minlength=n)
        new_rank = alpha + d * msg
        delta = np.abs(new_rank - rank)
        rank = new_rank
        it += 1
        conv = tol > 0 and float(delta.max()) <= tol
    out = _frame(edges, {"id": ids, "rank": rank}, "id long, rank double")
    return out, it, conv, time.time() - t0


def local_wcc(edges: DataFrame, state0: DataFrame):
    """Min-label components in the driver.

    ``edges`` is the already-undirected, threshold-filtered, distinct edge
    set; ``state0`` is (id, comp) with comp = id or the seed property.
    Internally runs index-space pointer-jumped min propagation (ids are
    SORTED, so min index == min id), then maps every component to the MIN
    of its members' seed values — equal by induction to the distributed
    min-propagation fixpoint for both the seeded and unseeded cases.

    Returns (result_state_df, iterations_done, wall_s).
    """
    t0 = time.time()
    e = _columns(edges)
    ids, seed = _sorted_state(_columns(state0), "comp")
    n = len(ids)
    src_idx, dst_idx, _ = _index_edges(ids, e)
    lbl = np.arange(n, dtype="int64")
    it = 0
    while n:
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
    comp_min = np.full(n, np.iinfo("int64").max)
    np.minimum.at(comp_min, lbl, seed.astype("int64"))
    out = _frame(edges, {"id": ids, "comp": comp_min[lbl]},
                 "id long, comp long")
    return out, it, time.time() - t0


def _relax(dist: np.ndarray, src_idx: np.ndarray, dst_idx: np.ndarray,
           w: np.ndarray, max_iterations: int) -> np.ndarray:
    """Min-plus relaxation from the finite entries of ``dist``: per round
    only edges out of just-changed nodes relax."""
    changed = np.isfinite(dist)
    for _ in range(max_iterations):
        if not changed.any():
            break
        em = changed[src_idx] & np.isfinite(dist[src_idx])
        nxt = dist.copy()
        np.minimum.at(nxt, dst_idx[em], dist[src_idx[em]] + w[em])
        changed = nxt < dist
        dist = nxt
    return dist


def local_relax_dist(edges: DataFrame, state0: DataFrame,
                     max_iterations: int, hop_cost: bool = False):
    """Min-plus relaxation fixpoint in the driver (the numpy twin of
    operators/paths._relax_fixpoint): state0 is (id, dist) with dist 0.0 at
    sources and +inf elsewhere; per round only edges out of just-changed
    nodes relax (same frontier semantics, so a max_iterations-truncated run
    matches the distributed iterate exactly). ``hop_cost=True`` ignores the
    weight column (BFS). Returns finite (id, dist) rows only."""
    e = _columns(edges)
    ids, dist = _sorted_state(_columns(state0), "dist")
    src_idx, dst_idx, valid = _index_edges(ids, e)
    w = np.ones(len(src_idx)) if hop_cost else _weights(e, valid)
    dist = _relax(dist, src_idx, dst_idx, w, max_iterations)
    keep = np.isfinite(dist)
    return _frame(edges, {"id": ids[keep], "dist": dist[keep]},
                  "id long, dist double")


# the paths variant walks pred chains in python (O(sum path length)), so
# its dispatch threshold is tighter than the pure-vector kernels'
LOCAL_PATHS_MAX_EDGES = 200_000


def local_dijkstra_paths(edges: DataFrame, nodes: DataFrame, source: int,
                         target: int | None, max_iterations: int):
    """dijkstra() in the driver: relaxation fixpoint, THEN deterministic
    predecessors (pred(v) = min in-neighbor id u with
    |dist(u)+w(u,v)-dist(v)| < 1e-9 — the same converged-distance tie-break
    as operators/paths._deterministic_predecessors, same 1e-9 tolerance),
    THEN pred-chain backtracking with per-node cumulative cost arrays.
    Returns (target, total_cost, node_ids, costs); the caller adds the
    source column. Semantics pinned against the distributed path by
    tests/test_local_kernel.py."""
    schema = ("target long, total_cost double, node_ids array<long>, "
              "costs array<double>")
    e = _columns(edges)
    ids = np.sort(_columns(nodes)["id"].astype("int64"))
    n = len(ids)
    (pos,), (known,) = _lookup(ids, np.array([int(source)]))
    tpos, tknown = pos, True
    if target is not None:
        (tpos,), (tknown,) = _lookup(ids, np.array([int(target)]))
    if not (known and tknown):
        return nodes.sparkSession.createDataFrame([], schema)
    src_idx, dst_idx, valid = _index_edges(ids, e)
    w = _weights(e, valid)
    dist = np.full(n, np.inf)
    dist[pos] = 0.0
    dist = _relax(dist, src_idx, dst_idx, w, max_iterations)
    # deterministic predecessors from CONVERGED distances (inf - inf on
    # unreached edges is NaN, which is never tight)
    with np.errstate(invalid="ignore"):
        tight = np.abs(dist[src_idx] + w - dist[dst_idx]) < 1e-9
    pred = np.full(n, n, dtype="int64")  # n = "none"
    np.minimum.at(pred, dst_idx[tight], src_idx[tight])
    if target is not None:
        targets = [int(tpos)] if np.isfinite(dist[tpos]) and tpos != pos else []
    else:
        targets = [int(i) for i in np.where(np.isfinite(dist))[0] if i != pos]
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
    return nodes.sparkSession.createDataFrame(rows, schema)


def local_scc(edges: DataFrame, nodes: DataFrame):
    """Iterative Tarjan in the driver — the reference's own execution shape
    (Scc.java:36 is a sequential iterative Tarjan) — with components
    canonicalized to min member id like the distributed FB-peeling path.
    Self-loops are dropped (a self-loop never changes the partition)."""
    e = _columns(edges)
    ids = np.sort(_columns(nodes)["id"].astype("int64"))
    n = len(ids)
    src_idx, dst_idx, _ = _index_edges(ids, e)
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
    return _frame(edges, {"id": ids, "component": comp},
                  "id long, component long")


def local_hits(edges: DataFrame, nodes: DataFrame, iterations: int):
    """HITS in the driver, GDS phase order (HitsComputation.java): INIT
    auth = in-degree L2-normalized, hub = 1; per iteration
    auth = sum(hub of in-neighbors) normalized, then
    hub = sum(auth of out-neighbors) normalized. ``edges`` keeps parallel
    edges (multigraph sums), exactly like the distributed path."""
    e = _columns(edges)
    ids = np.sort(_columns(nodes)["id"].astype("int64"))
    n = len(ids)
    src_idx, dst_idx, _ = _index_edges(ids, e)

    def l2(x: np.ndarray) -> np.ndarray:
        nrm = float(np.sqrt((x * x).sum()))
        return x / nrm if nrm > 0 else x

    auth = l2(np.bincount(dst_idx, minlength=n).astype("float64"))
    hub = np.ones(n, dtype="float64")
    for _ in range(iterations):
        auth = l2(np.bincount(dst_idx, weights=hub[src_idx], minlength=n))
        hub = l2(np.bincount(src_idx, weights=auth[dst_idx], minlength=n))
    return _frame(edges, {"id": ids, "auth": auth, "hub": hub},
                  "id long, auth double, hub double")


def local_label_propagation(edges: DataFrame, state0: DataFrame,
                            max_iterations: int):
    """Synchronous LPA in the driver: per round, votes = sum of edge weight
    per (receiver, sender label); new label = argmax weight, ties -> the
    smaller label (ComputeStepConsumer.java:70-73); stop when no label
    changed. ``edges`` is the reversed weighted edge set the distributed
    path builds (src = voting neighbor).

    Returns (result_state_df, iterations_done, converged, wall_s).
    """
    t0 = time.time()
    e = _columns(edges)
    ids, label = _sorted_state(_columns(state0), "label")
    label = label.astype("int64")
    src_idx, dst_idx, valid = _index_edges(ids, e)
    w = _weights(e, valid)
    it, conv = 0, len(ids) == 0
    while not conv and it < max_iterations:
        votes = pd.DataFrame({
            "r": dst_idx, "l": label[src_idx], "w": w,
        }).groupby(["r", "l"], as_index=False)["w"].sum()
        votes = votes.sort_values(
            ["r", "w", "l"], ascending=[True, False, True],
            kind="mergesort").drop_duplicates("r")
        new_label = label.copy()
        new_label[votes["r"].to_numpy()] = votes["l"].to_numpy()
        it += 1
        conv = np.array_equal(new_label, label)
        label = new_label
    out = _frame(edges, {"id": ids, "label": label}, "id long, label long")
    return out, it, conv, time.time() - t0


def local_triangles(canon: DataFrame, nodes: DataFrame,
                    max_degree: int | None) -> DataFrame | None:
    """Per-node triangle counts (id, triangles) in the driver, the numpy
    twin of operators/triangle.triangle_count. ``canon`` is the simple
    undirected edge set (src < dst), ``nodes`` the (id) frame.

    Same plan as the distributed path: nodes of ``nodes`` above
    ``max_degree`` get -1 and lose their edges; the rest are oriented from
    lower to higher degree (ties by id), so every triangle has exactly one
    apex whose out-list holds both other corners; each out-wedge (b, c) is
    closed by a packed-key searchsorted over the oriented edges. Wedges are
    generated WEDGE_CHUNK at a time. Returns None, before generating any,
    when there are more than LOCAL_TRIANGLES_MAX_WEDGES: the caller then
    runs the distributed joins."""
    e = _columns(canon)
    ids = _columns(nodes)["id"]
    verts, ends = np.unique(np.concatenate([e[SRC], e[DST]]),
                            return_inverse=True)
    nv, m = len(verts), len(e[SRC])
    s, d = ends[:m], ends[m:]
    deg = np.bincount(ends, minlength=nv)
    pos, found = _lookup(verts, ids)
    node_deg = np.zeros(len(ids), dtype="int64")
    node_deg[found] = deg[pos[found]]
    excluded = (node_deg > max_degree if max_degree is not None
                else np.zeros(len(ids), dtype=bool))
    drop = np.zeros(nv, dtype=bool)
    drop[pos[found & excluded]] = True
    keep = ~(drop[s] | drop[d])
    s, d = s[keep], d[keep]
    # verts is sorted, so index order is id order for the tie-break
    fwd = (deg[s] < deg[d]) | ((deg[s] == deg[d]) & (s < d))
    a, b = np.where(fwd, s, d), np.where(fwd, d, s)
    # sorted by (apex, far end): each apex's wedges (b, c), b < c, then
    # come out as one ascending run of packed keys, which searchsorted
    # probes far faster than random keys
    order = np.argsort(a * nv + b)
    a, b = a[order], b[order]
    keys = np.sort(np.minimum(a, b) * nv + np.maximum(a, b))
    # oriented edge i = (a, b) pairs with each later edge (a, c) of a's list
    later = np.searchsorted(a, a, side="right") - np.arange(len(a)) - 1
    cum = np.cumsum(later)
    if len(cum) and cum[-1] > LOCAL_TRIANGLES_MAX_WEDGES:
        return None
    counts = np.zeros(nv, dtype="int64")
    lo = 0
    while lo < len(a):
        base = cum[lo - 1] if lo else 0
        hi = max(int(np.searchsorted(cum, base + WEDGE_CHUNK, side="right")),
                 lo + 1)
        k = later[lo:hi]
        first = np.repeat(np.arange(lo, hi), k)
        second = first + 1 + np.arange(len(first)) - np.repeat(np.cumsum(k) - k, k)
        bb, cc = b[first], b[second]
        _, closed = _lookup(keys, bb * nv + cc)
        for corner in (a[first], bb, cc):
            counts += np.bincount(corner[closed], minlength=nv)
        lo = hi
    tri = np.zeros(len(ids), dtype="int64")
    tri[found] = counts[pos[found]]
    tri[excluded] = -1
    schema = StructType([nodes.schema["id"],
                         StructField("triangles", LongType())])
    return _frame(canon, {"id": ids, "triangles": tri}, schema)

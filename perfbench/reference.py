"""Independent reference answers, computed from the generated table alone.

Nothing here imports the engine: ids, edges and every algorithm are
re-derived with numpy/pandas (triangles with DuckDB), so a bug shared by
the engine's two implementations cannot hide in the check.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd


class Reference:
    def __init__(self, table: pd.DataFrame) -> None:
        t = table.sort_values(["conv_id", "turn_idx"], kind="mergesort")
        t = t.reset_index(drop=True)
        # GDS-style dense ids: rank of (conv_id, turn_idx)
        t["id"] = np.arange(len(t), dtype=np.int64)
        self.table = t
        self.n = len(t)
        self.conv_codes = pd.factorize(t["conv_id"])[0]
        self.convs = int(self.conv_codes.max()) + 1
        self.edges = self._derive(t)                 # raw multigraph (src, dst)
        agg = self.edges.groupby(["src", "dst"], as_index=False).size()
        self.agg = agg.rename(columns={"size": "w"})  # COUNT aggregation

    @staticmethod
    def _derive(t: pd.DataFrame) -> pd.DataFrame:
        """NEXT, TOOL and ROLE edges: each turn to the next turn of the same
        conversation (same tool / same role)."""
        parts = []
        for keys, frame in (
            (["conv_id"], t),
            (["conv_id", "tool"], t[t["tool"].notna()]),
            (["conv_id", "role"], t),
        ):
            f = frame.sort_values(keys + ["turn_idx"], kind="mergesort")
            nxt = f.groupby(keys, sort=False)["id"].shift(-1)
            ok = nxt.notna().to_numpy()
            parts.append(pd.DataFrame({
                "src": f["id"].to_numpy()[ok],
                "dst": nxt.to_numpy()[ok].astype(np.int64)}))
        return pd.concat(parts, ignore_index=True)

    # -- algorithms --------------------------------------------------------
    def pagerank(self, max_iterations: int, tolerance: float, d: float = 0.85):
        """Synchronous unnormalized PageRank with GDS superstep accounting:
        superstep 0 only sends, so ``max_iterations`` allows N-1 updates.
        Returns (ranks by id, supersteps)."""
        src = self.agg["src"].to_numpy()
        dst = self.agg["dst"].to_numpy()
        w = self.agg["w"].to_numpy(dtype=np.float64)
        out_deg = np.bincount(src, weights=w, minlength=self.n)
        rank = np.full(self.n, 1.0 - d)
        updates = 0
        for _ in range(max(max_iterations - 1, 0)):
            contrib = np.divide(rank, out_deg, out=np.zeros(self.n), where=out_deg > 0)
            new = (1.0 - d) + d * np.bincount(dst, weights=contrib[src] * w,
                                              minlength=self.n)
            delta = np.abs(new - rank).max()
            rank = new
            updates += 1
            if tolerance > 0 and delta <= tolerance:
                break
        return rank, updates + 1

    def wcc(self) -> np.ndarray:
        """Every conversation is one NEXT chain: component = its min id."""
        first = self.table.groupby(self.conv_codes)["id"].transform("min")
        return first.to_numpy()

    def lpa(self, max_iterations: int, edges: pd.DataFrame) -> np.ndarray:
        """Synchronous LPA over the undirected view of ``edges`` (each row
        one vote of weight 1 in each direction); the heaviest label wins,
        ties go to the smaller label, nodes without votes keep theirs."""
        s = edges["src"].to_numpy()
        t = edges["dst"].to_numpy()
        recv = np.concatenate([t, s])
        send = np.concatenate([s, t])
        label = np.arange(self.n, dtype=np.int64)
        for _ in range(max_iterations):
            votes = pd.DataFrame({"r": recv, "l": label[send]})
            votes = votes.groupby(["r", "l"], as_index=False).size()
            votes = votes.sort_values(["r", "size", "l"], ascending=[True, False, True],
                                      kind="mergesort").drop_duplicates("r")
            new = label.copy()
            new[votes["r"].to_numpy()] = votes["l"].to_numpy()
            if np.array_equal(new, label):
                break
            label = new
        return label

    def triangles(self) -> np.ndarray:
        canon = pd.DataFrame({
            "a": np.minimum(self.edges["src"], self.edges["dst"]),
            "b": np.maximum(self.edges["src"], self.edges["dst"])})
        canon = canon[canon["a"] != canon["b"]].drop_duplicates()
        con = duckdb.connect()
        try:
            con.register("e", canon)
            tri = con.execute("""
                with t as (
                  select e1.a as x, e1.b as y, e2.b as z
                  from e e1 join e e2 on e1.b = e2.a
                  join e e3 on e3.a = e1.a and e3.b = e2.b)
                select v, count(*) as c from (
                  select x as v from t union all select y from t
                  union all select z from t) group by v""").df()
        finally:
            con.close()
        out = np.zeros(self.n, dtype=np.int64)
        out[tri["v"].to_numpy()] = tri["c"].to_numpy()
        return out


def by_id(df: pd.DataFrame, col: str, n: int) -> np.ndarray:
    """Dense vector of ``col`` indexed by id; raises on missing or extra ids."""
    ids = df["id"].to_numpy()
    if len(ids) != n or len(np.unique(ids)) != n or ids.min() != 0 or ids.max() != n - 1:
        raise AssertionError(f"result ids are not exactly 0..{n - 1} ({len(ids)} rows)")
    out = np.empty(n, dtype=df[col].to_numpy().dtype)
    out[ids] = df[col].to_numpy()
    return out


def check_close(got: np.ndarray, want: np.ndarray, atol: float) -> None:
    err = np.abs(got - want)
    if not np.all(err <= atol):
        i = int(np.argmax(err))
        raise AssertionError(f"max |diff| {err[i]:.3g} at id {i} "
                             f"(got {got[i]!r}, want {want[i]!r})")


def check_equal(got: np.ndarray, want: np.ndarray) -> None:
    bad = np.flatnonzero(got != want)
    if len(bad):
        i = int(bad[0])
        raise AssertionError(f"{len(bad)} mismatches, first at id {i} "
                             f"(got {got[i]!r}, want {want[i]!r})")

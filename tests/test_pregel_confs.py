"""Session confs under overlapping Pregel loops on one SparkSession.

The loop pins AQE off and the shuffle width to the edge partitioning for
its whole run. Two operator calls that overlap on one session (the
contract watchdog's worker threads, pipeline fits) must each run under
their own pin and leave the session's confs as they found them.
"""

from __future__ import annotations

import sys
import threading
import time
from contextlib import contextmanager

import pytest

from neo4j_graph_data_science_spark import from_edge_list
from neo4j_graph_data_science_spark.operators import wcc as wcc_mod
from neo4j_graph_data_science_spark.operators.scc import SccConfig, scc
from neo4j_graph_data_science_spark.operators.wcc import WccConfig, wcc
from neo4j_graph_data_science_spark.plans import pregel

AQE = "spark.sql.adaptive.enabled"
WIDTH = "spark.sql.shuffle.partitions"
# two chains and a triangle: several supersteps, exact integer answers
EDGES = [(0, 1), (1, 2), (2, 3), (3, 4), (5, 6), (6, 7), (7, 8), (9, 10),
         (10, 11), (11, 9)]
N_NODES = 13
P_FIRST, P_SECOND = 3, 5
WAIT_S = 120


def _components(graph, partitions: int) -> dict[int, int]:
    res = wcc(graph, WccConfig(partitions=partitions, small_graph_edges=0))
    return {r["id"]: r["component"] for r in res.state.collect()}


def _in_conf_pin(thread: threading.Thread) -> bool:
    """True while ``thread`` is inside pinned_confs (holding the conf lock
    or blocked on it)."""
    frame = sys._current_frames().get(thread.ident)
    while frame is not None:
        if frame.f_code.co_name == "pinned_confs":
            return True
        frame = frame.f_back
    return False


def test_overlapping_loops_keep_results_and_session_confs(spark, monkeypatch):
    g = from_edge_list(spark, EDGES, n_nodes=N_NODES)
    expected = {P_FIRST: _components(g, P_FIRST),
                P_SECOND: _components(g, P_SECOND)}
    before = (spark.conf.get(AQE), spark.conf.get(WIDTH))

    second_starting = threading.Event()
    first_done = threading.Event()
    threads: dict[str, threading.Thread] = {}
    out: dict[str, object] = {}

    def first_superstep_gate() -> None:
        # the first loop is inside its conf pin; hold its superstep until
        # the second call has reached its own pin -- either it has set its
        # width, or it is inside pinned_confs waiting for the lock
        second_starting.wait(WAIT_S)
        deadline = time.time() + WAIT_S
        while (time.time() < deadline
               and spark.conf.get(WIDTH) != str(P_SECOND)
               and not _in_conf_pin(threads["second"])):
            time.sleep(0.05)

    orig = wcc_mod.run_pregel

    def gated_run_pregel(edges, state, superstep, *args, **kwargs):
        name = threading.current_thread().name

        def gated(s, it):
            if it == 0 and name == "first":
                first_superstep_gate()
            elif it == 0 and name == "second":
                # finish the first call before the second one, so the
                # restore order is fixed too
                first_done.wait(WAIT_S)
            return superstep(s, it)

        return orig(edges, state, gated, *args, **kwargs)

    monkeypatch.setattr(wcc_mod, "run_pregel", gated_run_pregel)

    def run(name: str, partitions: int) -> None:
        try:
            if name == "second":
                second_starting.set()
            out[name] = _components(g, partitions)
        except BaseException as ex:  # noqa: BLE001 - re-raised below
            out[name] = ex
        finally:
            if name == "first":
                first_done.set()

    threads["first"] = threading.Thread(target=run, name="first",
                                        args=("first", P_FIRST))
    threads["second"] = threading.Thread(target=run, name="second",
                                         args=("second", P_SECOND))
    threads["first"].start()
    threads["second"].start()
    for t in threads.values():
        t.join(4 * WAIT_S)
        assert not t.is_alive()

    for name in ("first", "second"):
        if isinstance(out[name], BaseException):
            raise out[name]
    assert out["first"] == expected[P_FIRST]
    assert out["second"] == expected[P_SECOND]
    assert (spark.conf.get(AQE), spark.conf.get(WIDTH)) == before


def test_pinned_confs_restores_unsets_and_releases_on_error(spark):
    unset_key = "spark.graft.test.pinnedConfsProbe"
    assert spark.conf.get(unset_key, None) is None
    before = spark.conf.get(AQE)
    with pytest.raises(RuntimeError):
        with pregel.pinned_confs(spark, {AQE: "false", unset_key: "true"}):
            assert spark.conf.get(AQE) == "false"
            assert spark.conf.get(unset_key) == "true"
            raise RuntimeError("cancelled mid-loop")
    assert spark.conf.get(AQE) == before
    assert spark.conf.get(unset_key, None) is None

    # the lock is free for another thread once the pinned body has failed
    got: list[bool] = []

    def try_lock() -> None:
        got.append(pregel._CONF_LOCK.acquire(timeout=5))
        if got[-1]:
            pregel._CONF_LOCK.release()

    t = threading.Thread(target=try_lock)
    t.start()
    t.join()
    assert got == [True]


def test_pinned_confs_stress_many_threads(spark):
    """More pinning threads than cores with a short switch interval: each
    pinned body must read its own width, and the session its own after."""
    before = spark.conf.get(WIDTH)
    errors: list[str] = []

    def pin_loop(i: int) -> None:
        for _ in range(10):
            with pregel.pinned_confs(spark, {WIDTH: str(100 + i)}):
                got = spark.conf.get(WIDTH)
                if got != str(100 + i):
                    errors.append(f"thread {i} read {got}")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=pin_loop, args=(i,))
                   for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(WAIT_S)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert errors == []
    assert spark.conf.get(WIDTH) == before


def test_loop_width_is_the_prepared_edge_width(spark, monkeypatch):
    """SCC passes no width of its own to the loop: its propagation loops
    must still run every shuffle at the width prepare_edges gave the
    edges, not at the session default."""
    assert spark.conf.get(WIDTH) != "3"
    widths: list[str] = []
    orig = pregel.pinned_confs

    @contextmanager
    def spy(session, confs):
        with orig(session, confs):
            if AQE in confs:   # run_pregel's loop pin
                widths.append(session.conf.get(WIDTH))
            yield

    monkeypatch.setattr(pregel, "pinned_confs", spy)
    g = from_edge_list(spark, EDGES, n_nodes=N_NODES)
    got = {r["id"]: r["component"]
           for r in scc(g, SccConfig(partitions=3, small_graph_edges=0)).collect()}
    assert got[9] == got[10] == got[11] == 9
    assert widths and set(widths) == {"3"}, widths

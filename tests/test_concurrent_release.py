"""Concurrent clients of one session own the blocks their queries pin.

A query function registers its persists and localCheckpoints for
``release_caches()``; the caller releases them after its terminal
action.  With two clients on one session, a release on one thread must
not free the blocks of a query still in flight on the other.
"""

from __future__ import annotations

import sys
import threading

_WAIT_S = 300


def test_release_on_other_thread_keeps_inflight_blocks(spark, sf_dir):
    """Event order: thread A builds ``graph_bfs_hops`` (its frontier
    rounds are localCheckpointed during the build), thread B then calls
    ``release_caches()``, and only then does A run its terminal action.
    A's rows equal a serial run's, and once A releases on its own
    thread no persistent RDD remains beyond the baseline."""
    from concurrent_etl_go_spark import operators
    from concurrent_etl_go_spark.operators.registry import release_caches

    bfs = operators.QUERIES["graph_bfs_hops"]
    jsc = spark.sparkContext._jsc  # noqa: SLF001
    release_caches()
    baseline = jsc.getPersistentRDDs().size()
    serial = sorted(map(tuple, bfs(spark, sf_dir).collect()))
    release_caches()
    assert serial, "fixture assumption: the BFS reaches at least one node"

    built, released = threading.Event(), threading.Event()
    outcome: dict = {}

    def client_a() -> None:
        try:
            df = bfs(spark, sf_dir)
            built.set()
            assert released.wait(_WAIT_S), "thread B never released"
            outcome["rows"] = sorted(map(tuple, df.collect()))
        except Exception as exc:  # noqa: BLE001 — reported below
            outcome["error"] = exc
        finally:
            built.set()
            release_caches()

    def client_b() -> None:
        built.wait(_WAIT_S)
        release_caches()
        released.set()

    threads = [threading.Thread(target=f) for f in (client_a, client_b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(_WAIT_S)
    assert not any(t.is_alive() for t in threads), "clients hung"
    assert "error" not in outcome, f"in-flight query failed: {outcome}"
    assert outcome["rows"] == serial
    assert jsc.getPersistentRDDs().size() <= baseline


def test_release_frees_only_the_calling_threads_frames(spark):
    """More clients than cores each pin a frame; half of them release
    while the other half hold.  Only the releasing threads' frames are
    unpersisted, and every frame is free once each thread releases."""
    from concurrent_etl_go_spark.operators.registry import (
        release_caches,
        scoped_persist,
    )

    n = 8
    frames = [spark.range(i + 1) for i in range(n)]
    pinned = threading.Barrier(n, timeout=_WAIT_S)
    released = threading.Barrier(n, timeout=_WAIT_S)
    held: dict[int, bool] = {}

    def client(i: int) -> None:
        scoped_persist(frames[i])
        pinned.wait()
        if i % 2 == 0:
            release_caches()
        released.wait()
        held[i] = frames[i].storageLevel.useMemory
        release_caches()

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=client, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(_WAIT_S)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads), "clients hung"
    assert held == {i: i % 2 == 1 for i in range(n)}
    assert not any(df.storageLevel.useMemory for df in frames)

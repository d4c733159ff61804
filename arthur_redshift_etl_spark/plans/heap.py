"""Driver-heap headroom hygiene for long-lived build sessions.

Broadcast build is the one memory consumer in a Spark plan with NO
degradation path: sorts, aggregates, and shuffle joins all spill to disk
under pressure, but ``BroadcastExchangeExec`` must materialize the whole
build side in memory or fail the query.  What actually exhausts that
memory in a long session is not any single build — it is the DEBRIS of
previous queries: broadcast and shuffle blocks are only released when
the ``ContextCleaner`` collects their driver-side references, which
requires a driver GC that a mostly-idle driver may not run for a long
time.

Measured (scripts/memory_stress.py, 10x fact tier, 512 MB heap,
8 concurrent tasks):

- every individual heavy query passes at 512 MB — including a 2 MB
  customer-dim broadcast, and q18/q21 which spill ~400 MB and complete
  with identical results;
- the same queries run back-to-back in one JVM die on the 3rd query
  with "Not enough memory to build and broadcast the table";
- a ``System.gc()`` between queries makes the full 10-query sequence
  pass at 512 MB, broadcasts and all.

Two designs were measured and rejected: withholding the broadcast HINT
below a heap floor (the planner still broadcasts under the threshold),
and disabling broadcasts entirely (q21's dim joins became sort-merge
and a TASK OOMed — strictly worse than the spilling broadcast plan).
The debris, not the strategy, is the problem; so the engine fix is
headroom-triggered cleanup, applied between relation builds in the
nightly full-rebuild loop (the reference's equivalent pressure point:
hundreds of sequential CTAS per run, ``python/etl/load.py:1056-1106``).

Forcing GC unconditionally would pause large well-sized drivers for
nothing; ``ensure_heap_headroom`` is a no-op until potential free heap
(max - committed + free) drops under ``min_free_bytes``.
"""

from __future__ import annotations

import threading

# A build needs MOST of a tight heap free: an absolute floor (256 MB ≈ 53%
# of a 512 MB heap) was measured insufficient — post-GC usage passed the
# check, the next query's debris killed the one after (3/10 failures,
# alternating).  Demanding 3/4 of max free makes the 512 MB sequence GC
# every query (10/10 pass); a well-sized driver only trips it when real
# garbage piles up, and a GC then costs time proportional to LIVE data,
# not heap size.
DEFAULT_MIN_FREE_FRACTION = 0.75


def heap_report(spark) -> dict:
    """max/committed/used/potential-free bytes of the driver JVM heap."""
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    max_b, total_b, free_b = rt.maxMemory(), rt.totalMemory(), rt.freeMemory()
    return {
        "max": int(max_b),
        "committed": int(total_b),
        "used": int(total_b - free_b),
        "potential_free": int(max_b - total_b + free_b),
    }


# Post-GC (used, floor_reached) is stored ON the session object (an
# id()-keyed module dict would both leak entries and collide when a freed
# object's address is reused): when the floor was unreachable because the
# heap is mostly LIVE data (not debris), re-collecting reclaims nothing —
# back off until real garbage accumulates.  When the last GC DID reach the
# floor, keep the measured GC-every-breach behavior (the 512 MB sequence
# needs it, module docstring).
_STATE_ATTR = "_spark_graft_post_gc_state"

# Concurrent build paths (the parallel source pool, the percolator) call
# the check per-build from MANY threads sharing one driver heap.  The probe
# is cheap but System.gc() is not — N threads tripping the floor together
# must not stack N stop-the-world collections for the same debris.  A
# non-blocking try-lock makes the check single-flight: whoever holds the
# lock does the GC, everyone else skips (their next build re-checks).
_SINGLE_FLIGHT = threading.Lock()


def ensure_heap_headroom(
    spark, min_free_bytes: int | None = None, single_flight: bool = False
) -> bool:
    """GC the driver when potential free heap drops below the floor.

    ``single_flight=True`` (concurrent callers) makes the whole check
    try-lock guarded: if another thread is already probing/collecting,
    return False immediately instead of queueing a second GC.  See
    :func:`_ensure_heap_headroom` for the policy and measurements.
    """
    if single_flight:
        if not _SINGLE_FLIGHT.acquire(blocking=False):
            return False
        try:
            return ensure_heap_headroom(spark, min_free_bytes)
        finally:
            _SINGLE_FLIGHT.release()
    return _ensure_heap_headroom(spark, min_free_bytes)


def _ensure_heap_headroom(spark, min_free_bytes: int | None = None) -> bool:
    """GC the driver when potential free heap drops below the floor.

    Default floor: ``DEFAULT_MIN_FREE_FRACTION`` of max heap.  Returns
    True when a GC was triggered.  Call between sequential relation builds
    / queries sharing one session; cost is three py4j getters on the fast
    path.

    Hysteresis: if the LAST GC could not reach the floor (a big driver
    whose live set exceeds 1-fraction of max heap), collecting before
    every build would stop-the-world for nothing, forever — so in that
    case a repeat GC only fires once used bytes have grown at least a
    quarter of the floor past the post-GC level (actual new garbage
    worth collecting).  When the last GC did reach the floor, every
    breach collects, which is the measured requirement of the 512 MB
    sequence (module docstring).  Best-effort by design: any probe/GC
    failure (py4j timeout under the very pressure this guards, exotic
    session types) returns False instead of raising — a hygiene probe
    must never fail a buildable relation.
    """
    try:
        rep = heap_report(spark)
        if min_free_bytes is None:
            min_free_bytes = int(rep["max"] * DEFAULT_MIN_FREE_FRACTION)
        if rep["potential_free"] >= min_free_bytes:
            return False
        state = getattr(spark, _STATE_ATTR, None)
        if (
            state is not None
            and not state["floor_reached"]
            and rep["used"] < state["used"] + min_free_bytes // 4
        ):
            return False
        spark.sparkContext._jvm.System.gc()
        after = heap_report(spark)
        setattr(
            spark,
            _STATE_ATTR,
            {
                "used": after["used"],
                "floor_reached": after["potential_free"] >= min_free_bytes,
            },
        )
        return True
    except Exception:  # noqa: BLE001 - advisory probe, never fail the build
        return False

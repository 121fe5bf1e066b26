"""The shared dedup artifact memo (plans/catalog_ext._memo_artifact)
must key by scale dir — one process routinely serves multiple sf dirs
(this very pytest suite runs sf0.001 fixtures while ad-hoc checks hit
sf0.01), and a cross-contaminated memo would hand one scale's pair
list to another scale's entry: wrong results that LOOK plausible.
Also pins that a memo hit returns the same rows as a fresh build.
"""

from __future__ import annotations

import pytest

from big_data_processing_spark.plans import catalog_ext as ce

SF_A = "/root/testdata/sf0.001"
SF_B = "/root/testdata/sf0.01"


@pytest.fixture(autouse=True)
def _fresh_memo():
    saved = dict(ce._ARTIFACTS)
    ce._ARTIFACTS.clear()
    yield
    ce._ARTIFACTS.clear()
    ce._ARTIFACTS.update(saved)


def test_memo_keys_by_sf_dir(spark):
    a = ce._dedup_pairs_default(spark, SF_A)
    b = ce._dedup_pairs_default(spark, SF_B)
    pa = {(r.id_a, r.id_b) for r in a.collect()}
    pb = {(r.id_a, r.id_b) for r in b.collect()}
    # distinct artifacts on disk, not one frame served twice
    assert ce._ARTIFACTS[(SF_A, "minhash_pairs_default")] != ce._ARTIFACTS[
        (SF_B, "minhash_pairs_default")
    ]
    assert pa != pb  # different corpora -> different pair sets


def test_memo_hit_matches_fresh_build(spark):
    first = {(r.id_a, r.id_b, r.jaccard) for r in
             ce._dedup_pairs_default(spark, SF_A).collect()}
    # second call must be a memo hit...
    path = ce._ARTIFACTS[(SF_A, "minhash_pairs_default")]
    again = {(r.id_a, r.id_b, r.jaccard) for r in
             ce._dedup_pairs_default(spark, SF_A).collect()}
    assert ce._ARTIFACTS[(SF_A, "minhash_pairs_default")] == path
    assert again == first
    # ...and a forced fresh build produces the identical pair set
    # (doubles included: the parquet round-trip is bit-exact)
    ce._ARTIFACTS.clear()
    fresh = {(r.id_a, r.id_b, r.jaccard) for r in
             ce._dedup_pairs_default(spark, SF_A).collect()}
    assert fresh == first


def test_build_barriers_released_after_artifact_write(spark):
    """ADVICE r13: barriers persisted INSIDE a one-time build can never
    be reused once the artifact parquet exists, so _memo_artifact must
    release them at the write instead of deferring to the owner's next
    release_barriers() (driver_sim never drains)."""
    from big_data_processing_spark.operators.util import _BARRIERS

    n_before = len(_BARRIERS)
    # the pairs build persists the banded frame across its branches
    ce._dedup_pairs_default(spark, SF_A)
    assert len(_BARRIERS) == n_before, (
        f"{len(_BARRIERS) - n_before} build-internal barrier(s) left "
        "registered after the artifact write"
    )


# --- thread safety: the prebuild pool runs builds on concurrent threads ---


class _FakeFrame:
    """Stands in for a build's DataFrame: ``.write.mode(m).parquet(p)``
    runs ``check`` and creates ``p``."""

    def __init__(self, check=lambda: None):
        self.write = self
        self.check = check

    def mode(self, _mode):
        return self

    def parquet(self, path):
        import os

        self.check()
        os.makedirs(path)  # raises if two builds were handed one path


class _FakeSpark:
    class read:
        @staticmethod
        def parquet(path):
            return path


def _hammer(fn, n_threads: int = 16, per_thread: int = 200):
    """Run ``fn(t, i)`` from ``n_threads`` threads (more than cores)
    with a shortened switch interval; re-raise any worker failure."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(n_threads) as pool:
            futures = [
                pool.submit(lambda t=t: [fn(t, i) for i in range(per_thread)])
                for t in range(n_threads)
            ]
            for f in futures:
                f.result(timeout=120)
    finally:
        sys.setswitchinterval(interval)


def test_concurrent_builds_lose_no_memo_update():
    """Every concurrent build gets its own sequence
    number (so its own path), no build's live barrier is released by
    another build finishing, and the in-flight count returns to 0."""
    import time

    from big_data_processing_spark.operators.util import _BARRIERS, drain_phases

    seq0 = ce._ARTIFACT_SEQ
    paths, released = [], set()

    def release(t, i):
        released.add((t, i))
        time.sleep(0)  # an unpersist is a py4j call: it drops the GIL

    def build(t, i):
        def frame():
            _BARRIERS.append(lambda: release(t, i))
            time.sleep(0)

            def check():
                assert (t, i) not in released, f"live barrier of build {(t, i)} released"

            return _FakeFrame(check)

        paths.append(ce._memo_artifact(_FakeSpark, f"/stress/{t}/{i}", "stress", frame))

    n_threads, per_thread = 6, 1000  # few enough that sole builders occur
    try:
        _hammer(build, n_threads, per_thread)
    finally:
        drain_phases()
    assert ce._ARTIFACT_SEQ - seq0 == n_threads * per_thread
    assert len(set(paths)) == n_threads * per_thread
    assert ce._BUILDS_IN_FLIGHT == 0


def test_barrier_of_a_build_in_flight_survives_another_build():
    """A build that finishes while another is in flight pops no
    barrier; the last build to finish frees its own."""
    import threading

    from big_data_processing_spark.operators.util import _BARRIERS

    released = []
    registered, finish = threading.Event(), threading.Event()

    def slow_build():
        _BARRIERS.append(lambda: released.append("slow"))
        registered.set()
        assert finish.wait(timeout=60)
        return _FakeFrame()

    t = threading.Thread(
        target=ce._memo_artifact, args=(_FakeSpark, "/stress/slow", "slow", slow_build)
    )
    t.start()
    try:
        assert registered.wait(timeout=60)
        ce._memo_artifact(_FakeSpark, "/stress/fast", "fast", _FakeFrame)
        assert released == []
    finally:
        finish.set()
        t.join(timeout=60)
    assert not t.is_alive()
    assert released == ["slow"]


def test_concurrent_phase_timings_lose_no_update(monkeypatch):
    """Concurrent timed_phase blocks on one entry each
    add their time; with a clock that makes every block last exactly 1 s,
    the total is the block count."""
    import threading

    from big_data_processing_spark.operators import util

    ticks = threading.local()

    class _Clock:
        @staticmethod
        def perf_counter():
            ticks.n = getattr(ticks, "n", 0) + 1
            return float(ticks.n % 2 == 0)  # start 0.0, end 1.0

    util.drain_phases()
    monkeypatch.setattr(util, "time", _Clock)

    def timed(t, i):
        with util.timed_phase("stress"):
            pass

    _hammer(timed, per_thread=2000)
    assert util.drain_phases() == {"stress": {"setup": 16 * 2000.0}}


def test_build_starting_during_a_release_keeps_its_barrier():
    """The sole-builder test and its pops are one step: a build that
    starts while the finishing build releases barriers must not have
    its own, just registered, barrier popped as a straggler."""
    import threading

    from big_data_processing_spark.operators.util import _BARRIERS

    released, errors = [], []
    popping, b_registered, a_done = threading.Event(), threading.Event(), threading.Event()

    def release_a():
        released.append("a")
        popping.set()
        b_registered.wait(timeout=2)  # under the lock, B cannot start yet

    def build_a():
        _BARRIERS.append(release_a)
        return _FakeFrame()

    def build_b():
        _BARRIERS.append(lambda: released.append("b"))
        b_registered.set()
        a_done.wait(timeout=60)
        return _FakeFrame(lambda: "b" not in released or errors.append("b popped"))

    ta = threading.Thread(target=ce._memo_artifact, args=(_FakeSpark, "/race/a", "a", build_a))
    tb = threading.Thread(target=ce._memo_artifact, args=(_FakeSpark, "/race/b", "b", build_b))
    ta.start()
    assert popping.wait(timeout=60)
    tb.start()
    ta.join(timeout=60)
    a_done.set()
    tb.join(timeout=60)
    assert not ta.is_alive() and not tb.is_alive()
    assert errors == []
    assert released == ["a", "b"]

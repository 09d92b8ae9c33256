"""registry.pin: intermediate persists share their builder's LRU
lifetime — eviction unpersists them (the round-2 OOM class was raw
.persist() on intermediates outliving evicted builders) — and
registry.concurrently, which carries the caller's job group and pin
key into its worker threads."""

import sys
import time
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from cs_pipeline_spark import registry


def test_pin_unpersists_on_eviction(spark, sf_dir):
    pinned = {}

    def builder(sess, sd):
        df = registry.pin(sess.range(10).select((F.col("id") * 2).alias("id")))
        pinned["df"] = df
        return df.agg(F.sum("id").alias("s"))

    key = ("__pin_test__", spark, sf_dir)
    stack = getattr(registry._PIN_STACK, "s", None)
    if stack is None:
        stack = []
        registry._PIN_STACK.s = stack
    stack.append(key)
    try:
        out = builder(spark, sf_dir)
    finally:
        stack.pop()
    registry._lru_put(key, out)
    assert out.count() == 1
    assert pinned["df"].storageLevel.useMemory  # pinned while live

    # flood the LRU to force eviction of our key
    for i in range(registry._PLAN_LRU_MAX + 2):
        registry._lru_put(
            (f"__flood_{i}__", spark, sf_dir), spark.range(1)
        )
    assert key not in registry._PLAN_LRU
    assert key not in registry._PINNED
    assert not pinned["df"].storageLevel.useMemory  # unpersisted


def test_pin_outside_builder_is_noop(spark):
    # no builder key on the stack → nothing to tie the blocks to →
    # pin() must NOT persist (an untracked persist is the leak class
    # pin exists to kill); it returns the frame unchanged
    df = registry.pin(spark.range(5))
    assert not df.storageLevel.useMemory
    assert df.count() == 5


def test_pin_error_path_unpersists(spark, sf_dir):
    """A builder that pins then raises must not leak the persisted
    intermediates: the key never enters the LRU, so the wrapper's
    error path has to unpersist them eagerly."""
    pinned = {}

    @registry.register("__pin_err_test__", None)
    def _bad(sess, sd):
        df = registry.pin(sess.range(7))
        df.count()  # materialize the cache
        pinned["df"] = df
        raise RuntimeError("builder exploded")

    try:
        import pytest

        with pytest.raises(RuntimeError, match="builder exploded"):
            _bad(spark, sf_dir)
        key = ("__pin_err_test__", spark, sf_dir)
        assert key not in registry._PINNED
        assert key not in registry._PLAN_LRU
        assert not pinned["df"].storageLevel.useMemory
    finally:
        registry._REGISTRY.pop("__pin_err_test__", None)


def test_pinned_builders_still_hash_correct(spark, sf_dir):
    # the pinned multi-pass ops must return identical results on
    # repeated calls (cache hit) and fresh rebuilds (post-eviction)
    q = registry.queries()
    first = sorted(map(tuple, q["ml_decision_stump"](spark, sf_dir).collect()))
    again = sorted(map(tuple, q["ml_decision_stump"](spark, sf_dir).collect()))
    assert first == again


# ---------- registry.concurrently: job groups and pins follow the work ----------


def _group_jobs(sc, group: str, want: int) -> list[int]:
    """Job ids of ``group`` once the status store shows ``want`` of them
    (its listener runs behind the jobs themselves)."""
    deadline = time.monotonic() + 30
    while True:
        ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
        if len(ids) >= want or time.monotonic() > deadline:
            return ids
        time.sleep(0.05)


def _one_job(sc):
    return sc.parallelize(range(3), 1).count()  # exactly one job


def test_concurrently_jobs_carry_the_callers_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup("conc-g", "concurrently test")
    try:
        assert registry.concurrently(spark, [lambda: _one_job(sc)] * 2) == [3, 3]
        assert len(_group_jobs(sc, "conc-g", 2)) == 2

        # a raw pool's threads carry no group: only the marker job
        # run on this thread afterwards lands in "raw-g"
        sc.setJobGroup("raw-g", "raw pool")
        with ThreadPoolExecutor(2) as ex:
            assert list(ex.map(lambda _: _one_job(sc), range(2))) == [3, 3]
        _one_job(sc)
        assert len(_group_jobs(sc, "raw-g", 1)) == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_concurrently_leaves_the_callers_group_alone(spark):
    sc = spark.sparkContext
    sc.setJobGroup("conc-main", "caller")
    try:
        def worker():
            seen = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup("conc-worker", "set inside a worker")
            return seen

        assert registry.concurrently(spark, [worker, worker]) == [
            "conc-main", "conc-main"
        ]
        assert sc.getLocalProperty("spark.jobGroup.id") == "conc-main"
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_concurrently_keeps_input_order_and_raises_the_first_error(spark):
    def after(delay, value):
        def thunk():
            time.sleep(delay)
            if isinstance(value, Exception):
                raise value
            return value
        return thunk

    thunks = [after(0.3 - 0.02 * i, i) for i in range(12)]
    assert registry.concurrently(spark, thunks) == list(range(12))
    assert registry.concurrently(spark, []) == []
    # the later thunk fails first; the earlier one's error is raised
    with pytest.raises(ValueError, match="first"):
        registry.concurrently(spark, [
            after(0.0, 1), after(0.3, ValueError("first")),
            after(0.0, KeyError("second")),
        ])


def test_pin_in_a_worker_follows_the_callers_key(spark, sf_dir):
    pinned, sub_pinned = [], []

    @registry.register("__conc_sub__", None)
    def _sub(sess, sd):
        df = registry.pin(sess.range(4))
        sub_pinned.append(df)
        return df

    @registry.register("__conc_pin__", None)
    def _outer(sess, sd):
        def work(n):
            df = registry.pin(sess.range(n))
            df.count()
            return df

        pinned.extend(registry.concurrently(
            sess, [lambda: work(6), lambda: work(7), lambda: _sub(sess, sd)]
        ))
        return sess.range(1)

    outer = ("__conc_pin__", spark, sf_dir)
    sub = ("__conc_sub__", spark, sf_dir)
    try:
        stack_before = list(getattr(registry._PIN_STACK, "s", None) or [])
        _outer(spark, sf_dir)
        assert list(getattr(registry._PIN_STACK, "s", None) or []) \
            == stack_before
        # the worker pins tie to the caller; the sub-builder to its own key
        assert sorted(map(id, registry._PINNED[outer])) \
            == sorted(map(id, pinned[:2]))
        assert [id(d) for d in registry._PINNED[sub]] == [id(sub_pinned[0])]
        assert all(d.storageLevel.useMemory for d in pinned[:2])

        assert registry.evict("__conc_pin__", spark, sf_dir, blocking=True)
        assert outer not in registry._PINNED
        assert not any(d.storageLevel.useMemory for d in pinned[:2])
        assert sub_pinned[0].storageLevel.useMemory  # its own entry lives
    finally:
        registry.evict("__conc_pin__", spark, sf_dir)
        registry.evict("__conc_sub__", spark, sf_dir)
        registry._REGISTRY.pop("__conc_pin__", None)
        registry._REGISTRY.pop("__conc_sub__", None)


def test_concurrent_pins_are_all_recorded(spark, sf_dir):
    """40 thunks on the 10-wide pool (more threads than cores) pin at
    once: every pin must land under the caller's key — a lost update
    would leak it past eviction."""

    @registry.register("__conc_stress__", None)
    def _many(sess, sd):
        pins = [lambda i=i: registry.pin(sess.range(i + 1)) for i in range(40)]
        return registry.concurrently(sess, pins)[0]

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        _many(spark, sf_dir)
        assert len(registry._PINNED[("__conc_stress__", spark, sf_dir)]) == 40
    finally:
        sys.setswitchinterval(old)
        registry.evict("__conc_stress__", spark, sf_dir, blocking=True)
        registry._REGISTRY.pop("__conc_stress__", None)

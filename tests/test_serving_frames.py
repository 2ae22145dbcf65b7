"""QueryService's base-frame registry: a warm cache miss builds its plan on
the shared base frames without running a Spark job, and the registry stays
fresh — ``invalidate()`` and a change in the table files both rebuild it,
the ``sql()`` views included. Its materialized aggregates stay out of
other plans of the session, and their blocks are released with their
generation, but never under a miss still collecting from them."""

from __future__ import annotations

import itertools
import os
import shutil
import sys
import threading
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from pspcz_analyzer_spark.operators import voting as V
from pspcz_analyzer_spark.plans.voting import (
    derive_mp_info,
    derive_mp_votes,
    derive_void_votes,
)
from pspcz_analyzer_spark.serving import service as S
from pspcz_analyzer_spark.serving.service import QueryService, QueryTimeoutError

SF_DIR = "/root/testdata/sf0.001"
COUNT_ORDERS = "SELECT count(*) AS n FROM orders"


def _copy(tmp_path, name: str = "sf") -> str:
    d = tmp_path / name
    shutil.copytree(SF_DIR, d)
    d.chmod(0o755)  # the copies keep the source's read-only modes
    for f in d.iterdir():
        f.chmod(0o644)
    return str(d)


@pytest.fixture()
def data_dir(tmp_path):
    return _copy(tmp_path)


def _persisted(spark) -> set:
    """Ids of the session's persisted RDDs (local checkpoints included)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _laws_total(data_dir: str) -> int:
    """Orders with a customer: what laws() reports as total_hits."""
    orders = pq.read_table(os.path.join(data_dir, "orders.parquet"))
    cust = pq.read_table(os.path.join(data_dir, "customer.parquet"))
    return pc.sum(pc.is_in(orders["o_custkey"], value_set=cust["c_custkey"])).as_py()


def _replace_orders(data_dir: str) -> int:
    """Replace orders.parquet with its first half, as a refresh would.
    Written uncompressed in small row groups, the new file is larger than
    the old one: a scan still holding the old listing (the old file
    length) skips the row groups past that length instead of happening to
    read them all."""
    p = os.path.join(data_dir, "orders.parquet")
    t = pq.read_table(p)
    old_size = os.path.getsize(p)
    pq.write_table(
        t.slice(0, t.num_rows // 2),
        p + ".new",
        compression="none",
        use_dictionary=False,
        row_group_size=100,
    )
    assert os.path.getsize(p + ".new") > old_size
    os.replace(p + ".new", p)
    return t.num_rows // 2


def _jobs_in_group(spark, group: str) -> int:
    spark._jsc.sc().listenerBus().waitUntilEmpty()
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("refresh", ["invalidate", "fingerprint"])
def test_miss_after_refresh_reads_new_file(spark, data_dir, refresh, monkeypatch):
    if refresh == "invalidate":
        # A constant fingerprint leaves invalidate() the only way to drop
        # the registry.
        monkeypatch.setattr(S, "_table_fingerprint", lambda sf_dir: ())
    svc = QueryService(spark, data_dir)
    svc.loyalty(top=5)
    svc.votes(page=1)
    assert svc.laws(per_page=5)[0]["total_hits"] == _laws_total(data_dir)
    n_old = pq.read_metadata(os.path.join(data_dir, "orders.parquet")).num_rows
    assert svc.sql(COUNT_ORDERS) == [{"n": n_old}]

    n_new = _replace_orders(data_dir)
    if refresh == "invalidate":
        svc.invalidate()
        assert svc.health()["cache"] == {
            "entries": 0,
            "frames": 0,
            "materialized": {"frames": 0, "bytes": 0},
            "compute_calls": 3,
        }
    assert svc.laws(per_page=6)[0]["total_hits"] == _laws_total(data_dir)
    assert svc.sql(COUNT_ORDERS) == [{"n": n_new}]


def test_warm_miss_builds_its_plan_without_spark_jobs(spark, monkeypatch):
    """Only the first miss reads the tables; a later miss with new
    parameters builds its plan on the registry's frames, so no
    schema-inference job runs before its own collect."""
    svc = QueryService(spark, SF_DIR)
    built = []
    monkeypatch.setattr(
        svc, "_collect_budgeted", lambda df_fn: built.append(df_fn()) or []
    )
    sc = spark.sparkContext
    try:
        sc.setJobGroup("frames-cold", "plan build of a cold loyalty miss")
        svc.loyalty(top=5)
        sc.setJobGroup("frames-warm", "plan build of a warm loyalty miss")
        svc.loyalty(top=7, party="GERMANY")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(built) == 2  # both were misses, neither was collected
    assert _jobs_in_group(spark, "frames-cold") > 0  # the count sees reads
    assert _jobs_in_group(spark, "frames-warm") == 0


def test_concurrent_lookups_share_one_frame(tmp_path):
    """Racing first lookups may build twice, but every caller gets the one
    stored frame."""
    svc = QueryService(None, str(tmp_path))
    got = []

    def worker():
        for i in range(200):
            got.append(svc._frame(f"f{i % 5}", object))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(got) == 16 * 200
    assert len({id(x) for x in got}) == 5
    assert len(svc._gen.frames) == 5


def _loyalty_rows(spark, sf_dir: str) -> list:
    """The catalog's unsplit loyalty plan over ``sf_dir``, built afresh."""
    df = V.loyalty(
        derive_mp_votes(spark, sf_dir),
        derive_void_votes(spark, sf_dir),
        derive_mp_info(spark, sf_dir),
    )
    return [tuple(r) for r in df.collect()]


def _halve_lineitem(data_dir: str) -> None:
    p = os.path.join(data_dir, "lineitem.parquet")
    t = pq.read_table(p)
    pq.write_table(t.slice(0, t.num_rows // 2), p + ".new")
    os.replace(p + ".new", p)


def test_materialized_aggregate_stays_out_of_fresh_plans(spark, tmp_path):
    """A fresh plan over the same files must read them, not the service's
    aggregate: persist() would register the loyalty stats with the
    session's CacheManager, which substitutes them into any matching plan,
    so this plan would keep answering from the replaced file."""
    data_dir = _copy(tmp_path)
    svc = QueryService(spark, data_dir)
    old = _loyalty_rows(spark, data_dir)
    assert len(svc.loyalty(top=None)) == len(old)
    assert svc.health()["cache"]["materialized"]["frames"] == 1

    _halve_lineitem(data_dir)
    other = _copy(tmp_path, "other")
    shutil.copy(os.path.join(data_dir, "lineitem.parquet"), other)
    want = _loyalty_rows(spark, other)
    assert want != old
    assert _loyalty_rows(spark, data_dir) == want
    svc.invalidate()


def test_dropped_generations_release_their_blocks(spark, data_dir):
    before = _persisted(spark)
    svc = QueryService(spark, data_dir)

    def warm(top):
        svc.loyalty(top=top)
        svc.votes(topic="PROMO", page=1)
        svc.laws(status="F", per_page=top)

    warm(5)
    mat = svc.health()["cache"]["materialized"]
    assert mat["frames"] == 4 and mat["bytes"] > 0  # loyalty, votes(+topics), laws
    assert len(_persisted(spark) - before) == 4
    svc.invalidate()
    assert _persisted(spark) - before == set()
    assert svc.health()["cache"]["materialized"] == {"frames": 0, "bytes": 0}

    warm(6)
    assert len(_persisted(spark) - before) == 4
    _replace_orders(data_dir)  # the next miss sees a new fingerprint
    svc.loyalty(top=7)
    assert len(_persisted(spark) - before) == 1
    svc.invalidate()
    assert _persisted(spark) - before == set()


def test_losing_race_build_is_released(spark):
    svc = QueryService(spark, SF_DIR)
    before = _persisted(spark)
    both_building = threading.Barrier(2)
    got = []

    def build():
        both_building.wait(timeout=60)
        return spark.range(100).groupBy((F.col("id") % 3).alias("g")).count()

    def miss():
        got.append(svc._frame("agg:race", build, materialize=True))

    threads = [threading.Thread(target=miss) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert len(got) == 2 and got[0] is got[1]
    assert len(_persisted(spark) - before) == 1
    assert sorted(tuple(r) for r in got[0].collect()) == [(0, 34), (1, 33), (2, 33)]
    svc.invalidate()
    assert _persisted(spark) - before == set()


def test_miss_in_flight_survives_invalidate(spark, monkeypatch):
    """invalidate() during a miss's collect: the miss still answers from
    its generation's blocks, which are released when it returns."""
    svc = QueryService(spark, SF_DIR)
    before = _persisted(spark)
    want = svc.loyalty(top=4)
    agg = _persisted(spark) - before
    assert len(agg) == 1
    planned, resume = threading.Event(), threading.Event()
    real_collect = svc._collect_budgeted

    def collect_after_resume(df_fn):
        def gated():
            df = df_fn()
            planned.set()
            assert resume.wait(60)
            return df

        return real_collect(gated)

    monkeypatch.setattr(svc, "_collect_budgeted", collect_after_resume)
    got, errors = [], []

    def miss():
        try:
            got.append(svc.loyalty(top=5))
        except Exception as e:  # surfaced by the asserts below
            errors.append(e)

    t = threading.Thread(target=miss)
    t.start()
    assert planned.wait(60)
    svc.invalidate()
    assert _persisted(spark) - before == agg  # still pinned by the miss
    resume.set()
    t.join(timeout=120)
    assert not errors, errors
    assert got[0][:4] == want and len(got[0]) == 5
    assert _persisted(spark) - before == set()


def test_budget_cancelled_materialization_leaves_nothing(spark):
    svc = QueryService(spark, SF_DIR, budget_seconds=1.0)
    before = _persisted(spark)

    @F.udf("long")
    def stall(x):
        import time as _time

        _time.sleep(30)
        return x

    def build():
        return spark.range(4, numPartitions=4).select(stall("id").alias("x"))

    t0 = time.monotonic()
    with pytest.raises(QueryTimeoutError):
        svc._cached("stall", lambda: svc._aggregate("stall", build))
    assert time.monotonic() - t0 < 25  # cancelled, not run to the end
    assert "agg:stall" not in svc._gen.frames
    assert _persisted(spark) - before == set()


def test_generations_release_each_block_once_and_never_in_use(tmp_path, monkeypatch):
    """16 threads look up materialized frames inside pinned generations
    while invalidating at random: no frame's blocks are released while a
    thread still holds its generation, and by the end every materialized
    frame (race losers included) has been released exactly once."""
    svc = QueryService(None, str(tmp_path))
    lock = threading.Lock()
    made: dict[int, int] = {}  # id(frame) -> its RDD id; losers' ids recur
    rdd_ids = itertools.count()
    created: list[int] = []
    released: list[int] = []

    def fake_checkpoint(df):
        frame = object()
        with lock:
            made[id(frame)] = rdd_id = next(rdd_ids)
            created.append(rdd_id)
        return frame, rdd_id

    def fake_unpersist(rdd_ids):
        with lock:
            released.extend(rdd_ids)

    monkeypatch.setattr(S, "_local_checkpoint", fake_checkpoint)
    monkeypatch.setattr(svc, "_unpersist", fake_unpersist)
    errors = []
    frames = []  # keeps every frame alive, so id() stays unique

    def worker(w):
        for i in range(200):
            if i % 25 == w % 25:
                svc.invalidate()
            with svc._generation():
                frame = svc._frame(f"agg:{i % 3}", object, materialize=True)
                frames.append(frame)
                rdd_id = made[id(frame)]
                with lock:
                    if rdd_id in released:
                        errors.append((w, i, rdd_id))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(w,)) for w in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:5]
    svc.invalidate()
    assert svc._gen.users == 0
    assert sorted(released) == created

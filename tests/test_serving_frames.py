"""QueryService's base-frame registry: a warm cache miss builds its plan on
the shared base frames without running a Spark job, and the registry stays
fresh — ``invalidate()`` and a change in the table files both rebuild it,
the ``sql()`` views included."""

from __future__ import annotations

import os
import shutil
import sys
import threading

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from pspcz_analyzer_spark.serving import service as S
from pspcz_analyzer_spark.serving.service import QueryService

SF_DIR = "/root/testdata/sf0.001"
COUNT_ORDERS = "SELECT count(*) AS n FROM orders"


@pytest.fixture()
def data_dir(tmp_path):
    d = tmp_path / "sf"
    shutil.copytree(SF_DIR, d)
    d.chmod(0o755)  # the copies keep the source's read-only modes
    for f in d.iterdir():
        f.chmod(0o644)
    return str(d)


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
        assert svc.health()["cache"] == {"entries": 0, "frames": 0, "compute_calls": 3}
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
    assert len(svc._frames) == 5

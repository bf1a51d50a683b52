"""Tests of the benchmark's own tracer and output checks.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import worker  # noqa: E402
from spans import JobTable, Tracer  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from abr_etl_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


# ------------------------------------------------------------ intervals

def test_interval_union_and_overlap():
    assert spans.union([(3, 4), (0, 2), (1, 2.5)]) == [(0, 2.5), (3, 4)]
    assert spans.length([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans.overlap([(0, 4)], [(1, 2), (3, 5)]) == 2


def test_overlapping_pool_spans_count_once():
    """Four calls running together in a pool, as the bucket compaction
    pool does, give wall_s of one call, not four."""
    tracer = Tracer()
    barrier = threading.Barrier(4)

    def work(_):
        barrier.wait(timeout=10)
        time.sleep(0.3)

    traced = tracer.wrap("pool", work)
    with ThreadPoolExecutor(4) as pool:
        list(pool.map(traced, range(4)))
    agg = tracer.aggregate(JobTable([]))["pool"]
    assert agg["calls"] == 4
    assert 0.3 <= agg["wall_s"] < 0.6
    assert agg["driver_s"] == pytest.approx(agg["wall_s"])


def test_install_patches_every_module_binding():
    """A plan module's ``from ... import load_table`` binding is wrapped
    along with the defining module's, and restored by uninstall."""
    from abr_etl_spark.plans import llm_pipeline9
    from abr_etl_spark.sources import lake

    original = lake.load_table
    tracer = Tracer()
    tracer.install(lake, "load_table", "lake.load_table")
    try:
        assert lake.load_table is not original
        assert llm_pipeline9.load_table is lake.load_table
    finally:
        tracer.uninstall()
    assert lake.load_table is original and llm_pipeline9.load_table is original


# ------------------------------------------------------------ job groups

def test_nested_spans_restore_job_group(spark):
    sc = spark.sparkContext
    tracer = Tracer()
    seen = {}

    def inner():
        seen["inner"] = sc.getLocalProperty("spark.jobGroup.id")
        spark.range(10).count()

    w_inner = tracer.wrap("inner", inner)

    def outer():
        seen["outer_before"] = sc.getLocalProperty("spark.jobGroup.id")
        w_inner()
        seen["outer_after"] = sc.getLocalProperty("spark.jobGroup.id")
        spark.range(10).count()

    sc.setJobGroup("caller-group", "caller")
    try:
        tracer.wrap("outer", outer)()
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert seen["outer_before"] == seen["outer_after"] != seen["inner"]
    assert seen["inner"].startswith(spans.GROUP_PREFIX)
    jobs = JobTable.read(sc)
    by_name = {s.name: s for s in tracer.spans}
    own_inner = jobs.in_groups({by_name["inner"].group})
    own_outer = jobs.in_groups({by_name["outer"].group})
    assert own_inner and own_outer  # each count ran under its own span's group
    agg = tracer.aggregate(jobs)
    assert agg["inner"]["jobs"] == len(own_inner)
    assert agg["outer"]["jobs"] == len(own_inner) + len(own_outer)  # nested jobs count too


def test_pool_thread_jobs_are_attributed(spark):
    sc = spark.sparkContext
    tracer = Tracer()

    def job(n):
        return spark.range(n).selectExpr("id % 3 AS k").groupBy("k").count().collect()

    traced = tracer.wrap("pool", job)
    with ThreadPoolExecutor(3) as pool:
        futures = [pool.submit(traced, n) for n in (10, 20, 30)]
        for f in futures:
            f.result(timeout=60)
    spark.range(5).count()  # a job outside every span
    agg = tracer.aggregate(JobTable.read(sc))["pool"]
    assert agg["calls"] == 3
    assert agg["jobs"] >= 3
    assert agg["executor_run_s"] > 0
    assert sc.getLocalProperty("spark.jobGroup.id") is None


# ------------------------------------------------------------ checks

def test_row_digest_is_order_independent():
    a = [("1", "x", ""), ("2", "y", "z")]
    assert checks.row_digest(a) == checks.row_digest(list(reversed(a)))
    assert checks.row_digest(a) == checks.row_digest([("1", "x", None), ("2", "y", "z")])
    assert checks.row_digest(a) != checks.row_digest([("1", "x", ""), ("2", "y", "q")])


def _write_csv(path, pids):
    with open(path, "w") as fh:
        fh.write("pid,org_nm\n")
        fh.writelines(f"{p},NAME {p}\n" for p in pids)


def test_corrupted_export_fails(tmp_path):
    path = str(tmp_path / "updated.csv")
    _write_csv(path, ["1", "2", "3"])
    assert checks.check_export(path, {"1", "2", "3"}, "UPDATED") == []
    _write_csv(path, ["1", "2", "2", "3"])
    assert any("duplicate" in f for f in checks.check_export(path, {"1", "2", "3"}, "UPDATED"))
    _write_csv(path, ["1", "2", "9"])
    assert any("unexpected" in f for f in checks.check_export(path, {"1", "2", "3"}, "UPDATED"))
    assert checks.check_export(str(tmp_path / "absent.csv"), {"1"}, "ADDED")


def test_replay_that_changes_files_fails(tmp_path):
    (tmp_path / "a").write_text("one")
    before = checks.tree_state(str(tmp_path))
    assert checks.check_unchanged(before, checks.tree_state(str(tmp_path)), "lake") == []
    (tmp_path / "a").write_text("two")
    (tmp_path / "b").write_text("new")
    fails = checks.check_unchanged(before, checks.tree_state(str(tmp_path)), "lake")
    assert fails and "1 files added" in fails[0] and "1 rewritten" in fails[0]


def test_duplicated_lake_row_fails(spark, tmp_path):
    """A lake partition holding a row twice fails the weekly check, while
    the merged table (built from the clean rows) passes it."""
    from abr_etl_spark.operators import maintenance
    from abr_etl_spark.sources import lake

    columns = ["pid", "abn", "org_nm"]
    rows = [("101", "51000000001", "ACME PTY LTD"), ("102", "51000000002", "OAK CO"),
            ("103", "51000000003", "")]
    n, digest = checks.row_digest(rows)
    week = {"rows": n, "digest": digest, "columns": columns}
    clean = spark.createDataFrame(
        [(int(p), int(a), o or None) for p, a, o in rows], "pid long, abn long, org_nm string")
    paths = {"table": str(tmp_path / "lake"), "merged": str(tmp_path / "merged")}
    maintenance.merge_snapshot(spark, paths["merged"], clean, None, key="pid",
                               epoch=20190422, n_buckets=2)
    dated = clean.selectExpr("*", "DATE'2019-04-22' AS importdate")
    lake.write_partitioned(dated, paths["table"])
    assert checks.check_weekly(spark, "bootstrap", week, paths, None, None) == []
    lake.write_partitioned(dated.limit(1), paths["table"])  # one row lands twice
    fails = checks.check_weekly(spark, "bootstrap", week, paths, None, None)
    assert fails == ["lake partition 2019-04-22: 4 rows, drop has 3"]

    # A replay (what ``run.py --replay`` adds) that appends the drop again
    # and rewrites buckets fails on the lake, the buckets and the exports.
    week.update(date="2019-04-22", updated=["101"], added=["103"])
    paths["exports"] = str(tmp_path / "exports")
    for kind, pids in (("updated", ["101"]), ("added", ["103"])):
        d = tmp_path / "exports" / f"DELTA/{kind.upper()}/Agency_Data/importdate=2019-04-22"
        d.mkdir(parents=True)
        _write_csv(str(d / f"Agency_Data_{kind}.csv"), pids)
    before = {"lake": checks.tree_state(paths["table"]),
              "exports": checks.tree_state(paths["exports"])}

    class Result:
        results = {"Agency_Data": {"merge": {"written": 2}}}

    lake.write_partitioned(dated, paths["table"])
    _write_csv(str(d / "Agency_Data_added.csv"), ["103", "103"])
    fails = checks.check_weekly(spark, "replay", week, paths, Result, before)
    assert fails[0] == "lake partition 2019-04-22: 7 rows, drop has 3"
    assert "ADDED export: 1 duplicate rows (2 rows, 1 pids)" in fails
    assert "replay rewrote 2 merged buckets, expected 0" in fails
    assert any(f.startswith("lake table changed by the replay:") for f in fails)
    assert "exports changed by the replay: 0 files added, 0 removed, 1 rewritten" in fails


# ------------------------------------------------------------ run loop

def test_repeat_measures_two_units_then_until_seconds_pass():
    now = time.time()
    task = {"seconds": 0.0, "deadline": now + 60, "spawned": now}
    assert [u["i"] for u in worker.repeat(task, lambda i: {"i": i})] == [0, 1]

    def slow(i):
        time.sleep(0.05)
        return {"i": i}

    units = worker.repeat(dict(task, seconds=0.2), slow)
    assert len(units) >= 4
    assert all(u["unit_wall_s"] >= 0.05 for u in units)
    assert units[1]["started_s"] >= units[0]["started_s"] + units[0]["unit_wall_s"]


def test_repeat_starts_no_unit_past_the_deadline():
    now = time.time()
    task = {"seconds": 60.0, "deadline": now + 0.1, "spawned": now}

    def slow(i):
        time.sleep(0.2)
        return {"i": i}

    assert [u["i"] for u in worker.repeat(task, slow)] == [0]


# ------------------------------------------------------------ inputs and spec

def test_generator_is_seeded(tmp_path):
    a, b = gen.dataset_weeks(5, "Agency_Data", 500, 3), gen.dataset_weeks(5, "Agency_Data", 500, 3)
    assert a.snapshots == b.snapshots
    assert gen.dataset_weeks(6, "Agency_Data", 500, 3).snapshots != a.snapshots
    for k in (1, 2):
        before = {r[0] for r in a.snapshots[k - 1]}
        after = {r[0] for r in a.snapshots[k]}
        change = a.changes[k]
        assert change.added == after - before and change.removed == before - after
        changed = {r[0] for r in set(a.snapshots[k]) - set(a.snapshots[k - 1])}
        assert changed == change.updated | change.added
    gen.write_lake(str(tmp_path / "x"), 3, 0.05)
    gen.write_lake(str(tmp_path / "y"), 3, 0.05)
    for name in os.listdir(tmp_path / "x"):
        assert (tmp_path / "x" / name).read_bytes() == (tmp_path / "y" / name).read_bytes()


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()

"""Full weekly pipeline through the facade: the abr-etl.go main() flow
end-to-end, including the kill switch and the reference's DELTA export
layout (Readme.md: DELTA/{UPDATED,ADDED}/<ds>/importdate=<date>/...)."""

import os

import pytest

from abr_etl_spark import pipeline


def _write_drop(drop):
    drop.mkdir(parents=True)
    week1 = ["pid|abn"] + [f"p{i}|{i}" for i in range(20)]
    week2 = ["pid|abn"] + [f"p{i}|{i if i >= 5 else 999}" for i in range(18)] + [
        "q1|1001"
    ]
    (drop / "VIC190422_ABR_Agency_Data.txt").write_text("\n".join(week1) + "\n")
    (drop / "VIC190429_ABR_Agency_Data.txt").write_text("\n".join(week2) + "\n")
    (drop / "VIC190429_ABR_Funds.txt").write_text("pid|x\nf1|1\n")


def test_run_weekly_end_to_end(spark, tmp_path):
    drop = tmp_path / "drop"
    _write_drop(drop)
    cfg = pipeline.WeeklyConfig(
        drop_dir=str(drop),
        lake_root=str(tmp_path / "lake"),
        datasets=("Agency_Data", "Funds"),
        export_dir=str(tmp_path / "exports"),
    )
    out = pipeline.run_weekly(spark, cfg)
    assert set(out.results) == {"Agency_Data", "Funds"}
    ag = out.results["Agency_Data"]
    assert (ag["newest"], ag["previous"]) == ("2019-04-29", "2019-04-22")
    # reference layout: DELTA/UPDATED/<ds>/importdate=<newest>/<ds>_updated.csv
    assert ag["updated_csv"].endswith(
        "DELTA/UPDATED/Agency_Data/importdate=2019-04-29/Agency_Data_updated.csv"
    )
    updated = open(ag["updated_csv"]).read().strip().splitlines()
    added = open(ag["added_csv"]).read().strip().splitlines()
    assert len(updated) - 1 == 5  # p0..p4 changed abn
    assert len(added) - 1 == 1  # q1


def test_kill_switch_blocks_run(spark, tmp_path):
    root = tmp_path / "lake"
    root.mkdir()
    (root / "disabled").write_text("disabled")
    cfg = pipeline.WeeklyConfig(drop_dir=str(tmp_path), lake_root=str(root))
    with pytest.raises(pipeline.PipelineDisabled):
        pipeline.run_weekly(spark, cfg)


def test_run_weekly_from_zip_drop(spark, tmp_path):
    """The weekly flow consumes a VIC_ABR_Extract.zip drop end-to-end
    (extract.go:20-27 parity): unzip -> route -> lake -> delta -> export,
    plus the raw .txt.gz byte-layout passthrough (load.go:19-21)."""
    import gzip
    import zipfile

    staging = tmp_path / "staging"
    _write_drop(staging)
    zip_path = tmp_path / "VIC_ABR_Extract.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        for p in staging.iterdir():
            # archive entries under a subdir, as real zips often are --
            # extraction must flatten to basenames
            zf.write(p, f"Sent/{p.name}")
    drop = tmp_path / "drop"
    cfg = pipeline.WeeklyConfig(
        drop_dir=str(drop),
        lake_root=str(tmp_path / "lake"),
        datasets=("Agency_Data", "Funds"),
        export_dir=str(tmp_path / "exports"),
        zip_path=str(zip_path),
        raw_gz=True,
    )
    out = pipeline.run_weekly(spark, cfg)
    assert len(out.results["__zip"]["extracted"]) == 3
    ag = out.results["Agency_Data"]
    assert (ag["newest"], ag["previous"]) == ("2019-04-29", "2019-04-22")
    assert len(open(ag["updated_csv"]).read().strip().splitlines()) - 1 == 5
    # raw passthrough: reference byte layout, content round-trips
    gz = (
        tmp_path
        / "lake/RAW/DATA/Funds/importdate=2019-04-29/ABR_Funds.txt.gz"
    )
    assert gz.exists()
    assert gzip.open(gz, "rt").read() == "pid|x\nf1|1\n"


def test_unzip_drop_rejects_traversal_and_bounds(tmp_path):
    import zipfile

    zp = tmp_path / "evil.zip"
    with zipfile.ZipFile(zp, "w") as zf:
        zf.writestr("../../escape.txt", "x")
        zf.writestr("/abs/path.txt", "y")
        zf.writestr("ok.txt", "z")
    dest = tmp_path / "out"
    got = pipeline.unzip_drop(str(zp), str(dest))
    # traversal names flattened to basenames inside dest, never outside
    assert sorted(os.path.basename(p) for p in got) == [
        "escape.txt",
        "ok.txt",
        "path.txt",
    ]
    assert all(os.path.dirname(p) == str(dest) for p in got)
    assert not (tmp_path.parent / "escape.txt").exists()
    with pytest.raises(ValueError, match="max_files"):
        pipeline.unzip_drop(str(zp), str(dest), max_files=2)
    with pytest.raises(ValueError, match="max_bytes"):
        pipeline.unzip_drop(str(zp), str(dest), max_bytes=1)


def test_unzip_drop_duplicate_basename_extracts_nothing(tmp_path):
    """The duplicate-basename guard is a PRE-PASS: on failure not a
    single entry has been extracted (no partial state), even when the
    duplicate is the last entry of the archive."""
    import zipfile

    zp = tmp_path / "dup.zip"
    with zipfile.ZipFile(zp, "w") as zf:
        zf.writestr("first.txt", "a")
        zf.writestr("second.txt", "b")
        zf.writestr("nested/second.txt", "c")  # flattens to a duplicate
    dest = tmp_path / "out"
    with pytest.raises(ValueError, match="duplicate basename"):
        pipeline.unzip_drop(str(zp), str(dest))
    assert os.listdir(dest) == []


def _tree_state(path):
    """relative path -> sha256 of every file under ``path``."""
    import hashlib

    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_run_weekly_cdc_chain_two_drops(spark, tmp_path, monkeypatch):
    """r10 verdict item 2: the WHOLE weekly chain composes -- ingest ->
    transform -> delta -> merge_snapshot -> compaction -- replayed over
    two weekly drops arriving one at a time. After each week the merged
    current-state table equals that week's snapshot (= snapshot_latest
    minus removed keys), every merged bucket is written as one file so
    compaction reads nothing, and re-running the week leaves the lake
    and the merged table byte-identical."""
    import glob
    import threading

    from pyspark.sql.readwriter import DataFrameReader

    from abr_etl_spark.operators import delta as d
    from abr_etl_spark.operators import maintenance
    from abr_etl_spark.operators.maintenance import read_merged_snapshot

    # compaction must launch no Spark job: any parquet read from inside
    # compact_partition (pool threads included) fails the week
    compacting = threading.local()
    compactions = []
    real_compact = maintenance.compact_partition
    real_parquet = DataFrameReader.parquet

    def compact(*a, **k):
        compacting.on = True
        try:
            n = real_compact(*a, **k)
        finally:
            compacting.on = False
        compactions.append(n)
        return n

    def parquet(self, *a, **k):
        if getattr(compacting, "on", False):
            raise AssertionError("compaction read parquet")
        return real_parquet(self, *a, **k)

    monkeypatch.setattr(maintenance, "compact_partition", compact)
    monkeypatch.setattr(DataFrameReader, "parquet", parquet)

    drop = tmp_path / "drop"
    drop.mkdir()
    week1 = ["pid|abn"] + [f"p{i}|{i}" for i in range(20)]
    # week 2: p0-p4 updated, p18/p19 removed, q1 added
    week2 = (
        ["pid|abn"]
        + [f"p{i}|{i if i >= 5 else 999}" for i in range(18)]
        + ["q1|1001"]
    )
    merged = tmp_path / "merged/Agency_Data"
    cfg_kw = dict(
        drop_dir=str(drop),
        lake_root=str(tmp_path / "lake"),
        datasets=("Agency_Data",),
        merge_dir=str(tmp_path / "merged"),
        merge_buckets=4,
        compact_merged=True,
    )

    def merged_rows():
        return {
            (r["pid"], r["abn"])
            for r in read_merged_snapshot(spark, str(merged)).collect()
        }

    def files_per_bucket():
        return [
            len(glob.glob(os.path.join(b, "part-*.parquet")))
            for b in glob.glob(str(merged / "__bucket=*"))
        ]

    # ---- week 1: bootstrap
    (drop / "VIC190422_ABR_Agency_Data.txt").write_text("\n".join(week1) + "\n")
    out1 = pipeline.run_weekly(spark, pipeline.WeeklyConfig(**cfg_kw))
    rep1 = out1.results["Agency_Data"]["merge"]
    assert rep1["written"] > 0 and rep1["skipped"] == 0
    assert merged_rows() == {(f"p{i}", i) for i in range(20)}
    assert files_per_bucket() == [1] * rep1["written"]
    assert compactions == [1] * rep1["written"]

    # ---- week 2 drop lands; full chain incl. delta + merge + compaction
    (drop / "VIC190429_ABR_Agency_Data.txt").write_text("\n".join(week2) + "\n")
    out2 = pipeline.run_weekly(spark, pipeline.WeeklyConfig(**cfg_kw))
    # week 1's partition is already loaded from the same bytes
    assert out2.results["Agency_Data"]["loaded"] == ["2019-04-29"]
    rep2 = out2.results["Agency_Data"]["merge"]
    assert rep2["written"] + rep2["cleared"] > 0
    assert rep2.get("compacted", 0) == rep2["written"]
    assert files_per_bucket() == [1] * len(files_per_bucket())
    assert compactions == [1] * (rep1["written"] + rep2["written"])
    want2 = {(f"p{i}", 999 if i < 5 else i) for i in range(18)} | {
        ("q1", 1001)
    }
    assert merged_rows() == want2

    # the merged table IS snapshot_latest minus the removed keys
    table = spark.read.parquet(str(tmp_path / "lake/DATA/Agency_Data"))
    latest = d.snapshot_latest(table, "pid")
    removed = d.delta_removed(
        *d.snapshot_pair(table, "pid", newest="2019-04-29", previous="2019-04-22"),
        "pid",
    ).select("pid")
    expect = {
        (r["pid"], r["abn"])
        for r in latest.join(removed, "pid", "left_anti")
        .select("pid", "abn")
        .collect()
    }
    assert merged_rows() == expect

    # ---- replaying week 2 (operator retry) is a per-bucket no-op and
    # leaves every byte of the lake and the merged table as it was
    before = _tree_state(tmp_path / "lake"), _tree_state(merged)
    out3 = pipeline.run_weekly(spark, pipeline.WeeklyConfig(**cfg_kw))
    assert out3.results["Agency_Data"]["loaded"] == []
    rep3 = out3.results["Agency_Data"]["merge"]
    assert rep3["written"] == 0 and rep3["cleared"] == 0
    assert rep3["skipped"] == rep2["written"] + rep2["cleared"] + rep2["skipped"]
    assert (_tree_state(tmp_path / "lake"), _tree_state(merged)) == before
    assert merged_rows() == want2


def test_run_weekly_reloads_only_a_changed_redrop(spark, tmp_path, monkeypatch):
    """The ``_loaded/<date>`` sidecar judges a drop file by (size,
    mtime_ns) first and reads it only when those disagree: a touched
    file with the same bytes is skipped after one hash, a file with new
    bytes rewrites just its partition, and an untouched file is never
    hashed."""
    from pyspark.sql import functions as F

    from abr_etl_spark.sources import lake

    drop = tmp_path / "drop"
    _write_drop(drop)
    cfg_kw = dict(
        drop_dir=str(drop),
        lake_root=str(tmp_path / "lake"),
        datasets=("Agency_Data",),
        delta_datasets=(),
    )
    hashed = []
    real_sha = pipeline._sha256

    def sha(path):
        hashed.append(os.path.basename(path))
        return real_sha(path)

    monkeypatch.setattr(pipeline, "_sha256", sha)
    w1 = drop / "VIC190422_ABR_Agency_Data.txt"
    w2 = drop / "VIC190429_ABR_Agency_Data.txt"

    def run():
        hashed.clear()
        cfg = pipeline.run_weekly(spark, pipeline.WeeklyConfig(**cfg_kw))
        return cfg.results["Agency_Data"]["loaded"]

    assert run() == ["2019-04-22", "2019-04-29"]
    assert sorted(hashed) == sorted([w1.name, w2.name])  # one stamp each
    assert run() == [] and hashed == []  # untouched: stat only
    os.utime(w1, ns=(1, 1))  # same bytes, new mtime
    assert run() == [] and hashed == [w1.name]
    w2.write_text(w2.read_text().replace("q1|1001", "q1|1002"))
    assert run() == ["2019-04-29"]
    rows = {
        (r["pid"], r["abn"], str(r["importdate"]))
        for r in lake.read_lake(spark, cfg_kw["lake_root"] + "/DATA/Agency_Data")
        .where(F.col("pid") == "q1")
        .collect()
    }
    assert rows == {("q1", 1002, "2019-04-29")}


def test_run_weekly_releases_caches_when_export_fails(spark, tmp_path, monkeypatch):
    """The classified CDC frame and the removed keys are persisted for
    the merge and the exports; a failing export still releases both."""
    from abr_etl_spark.sources import lake

    drop = tmp_path / "drop"
    _write_drop(drop)
    cfg = pipeline.WeeklyConfig(
        drop_dir=str(drop),
        lake_root=str(tmp_path / "lake"),
        datasets=("Agency_Data",),
        export_dir=str(tmp_path / "exports"),
        merge_dir=str(tmp_path / "merged"),
        merge_buckets=4,
    )

    def boom(*a, **k):
        raise RuntimeError("export failed")

    monkeypatch.setattr(lake, "export_stable_csv", boom)
    n0 = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="export failed"):
        pipeline.run_weekly(spark, cfg)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == n0


def test_run_weekly_schema_evolution_across_weeks(spark, tmp_path):
    """r11 verdict item 4 end-to-end: week 2's feed ADDS a column. The
    whole chain -- ingest -> lake -> delta -> merge -> read -- crosses
    the boundary: the lake's mergeSchema read NULLs the column for week
    1, rows whose only change is the new column classify as updated,
    merge_snapshot evolves the current-state table, and unchanged rows
    survive with the column NULL."""
    from abr_etl_spark.operators.maintenance import read_merged_snapshot

    lake_root = tmp_path / "lake"
    merge_dir = tmp_path / "merged"

    def cfg(drop):
        return pipeline.WeeklyConfig(
            drop_dir=str(drop),
            lake_root=str(lake_root),
            datasets=("Agency_Data",),
            merge_dir=str(merge_dir),
            merge_buckets=4,
        )

    # week 1: two columns
    drop1 = tmp_path / "drop1"
    drop1.mkdir()
    week1 = ["pid|abn"] + [f"p{i}|{i}" for i in range(12)]
    (drop1 / "VIC190422_ABR_Agency_Data.txt").write_text("\n".join(week1) + "\n")
    pipeline.run_weekly(spark, cfg(drop1))

    # week 2 ADDS `flag`: p0/p1 get values (their only change), p2-p11
    # unchanged (flag empty -> NULL, NULL-safe hash says unchanged),
    # q1 added with a flag
    drop2 = tmp_path / "drop2"
    drop2.mkdir()
    week2 = (
        ["pid|abn|flag"]
        + [f"p{i}|{i}|X" for i in range(2)]
        + [f"p{i}|{i}|" for i in range(2, 12)]
        + ["q1|1001|Y"]
    )
    (drop2 / "VIC190429_ABR_Agency_Data.txt").write_text("\n".join(week2) + "\n")
    out2 = pipeline.run_weekly(spark, cfg(drop2))
    assert out2.results["Agency_Data"]["merge"]["written"] >= 1

    got = {
        r["pid"]: (r["abn"], r["flag"])
        for r in read_merged_snapshot(
            spark, str(merge_dir / "Agency_Data")
        ).collect()
    }
    assert len(got) == 13
    assert got["p0"] == (0, "X") and got["p1"] == (1, "X")
    assert got["q1"] == (1001, "Y")
    # unchanged rows were never shipped in the delta; they survive with
    # the evolved column NULL whether their bucket was rewritten or not
    assert all(got[f"p{i}"] == (i, None) for i in range(2, 12))

    # replay of the evolved week is still a per-bucket metadata no-op
    out3 = pipeline.run_weekly(spark, cfg(drop2))
    rep3 = out3.results["Agency_Data"]["merge"]
    assert rep3["written"] == 0 and rep3["cleared"] == 0

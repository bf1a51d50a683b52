"""Output checks, run outside every timed region.

Weekly steps are held to what the generator knows about each week: the
merged table equals the week's snapshot, the newest lake partition holds
the drop's rows, the ADDED and UPDATED exports hold exactly the pids the
generator added and updated, and a replay changes nothing.  Query
results are compared with their DuckDB oracle by row count, column names
and the dtype-sensitive value hash of ``tools/check_correctness.py``.

Every check returns a list of failure messages; empty means it passed.
"""

from __future__ import annotations

import csv
import hashlib
import importlib.util
import os

NULL = "\x00"


def row_digest(rows) -> tuple[int, str]:
    """(count, order-independent sha256) of rows of strings; a None or
    empty field (the CSV reader's null) encodes as one marker."""
    enc = sorted("|".join(NULL if v is None or v == "" else str(v) for v in r) for r in rows)
    h = hashlib.sha256()
    for line in enc:
        h.update(line.encode())
        h.update(b"\n")
    return len(enc), h.hexdigest()


def frame_digest(df, columns) -> tuple[int, str]:
    """``row_digest`` of a Spark frame, every column cast to string."""
    from pyspark.sql import functions as F

    pdf = df.select(*[F.col(c).cast("string") for c in columns]).toPandas()
    return row_digest(pdf.itertuples(index=False, name=None))


def export_pids(path: str) -> list[str]:
    with open(path, newline="") as fh:
        reader = csv.reader(fh)
        header = next(reader)
        i = header.index("pid")
        return [r[i] for r in reader]


def check_export(path: str | None, expected: set[str], what: str) -> list[str]:
    if not path or not os.path.exists(path):
        return [f"{what}: export file missing ({path})"]
    pids = export_pids(path)
    out = []
    if len(pids) != len(set(pids)):
        out.append(f"{what}: {len(pids) - len(set(pids))} duplicate rows "
                   f"({len(pids)} rows, {len(set(pids))} pids)")
    if set(pids) != expected:
        out.append(f"{what}: {len(set(pids) - expected)} unexpected pids, "
                   f"{len(expected - set(pids))} missing")
    return out


def tree_state(path: str) -> dict[str, str]:
    """relative path -> sha256 of every file under ``path``."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def check_unchanged(before: dict, after: dict, what: str) -> list[str]:
    if before == after:
        return []
    added = len(set(after) - set(before))
    gone = len(set(before) - set(after))
    changed = sum(1 for k in set(before) & set(after) if before[k] != after[k])
    return [f"{what} changed by the replay: {added} files added, "
            f"{gone} removed, {changed} rewritten"]


def check_weekly(spark, step: str, week: dict, paths: dict, result,
                 before: dict | None) -> list[str]:
    """All checks of one weekly step.

    ``week`` holds the generator's expectations (columns, rows, digest,
    date and the pids updated and added since the week before), ``paths``
    the lake table, merged table and export root, ``result`` the ``WeeklyConfig`` the
    step returned and ``before`` the lake and export trees a replay
    started from.
    """
    from pyspark.sql import functions as F

    from abr_etl_spark.operators import maintenance
    from abr_etl_spark.sources import lake

    fails = []
    expect = (week["rows"], week["digest"])
    got = frame_digest(maintenance.read_merged_snapshot(spark, paths["merged"]),
                       week["columns"])
    if got != expect:
        fails.append(f"merged snapshot: {got[0]} rows / digest {got[1][:12]}, "
                     f"expected {expect[0]} / {expect[1][:12]}")
    newest = lake.discover_partitions_listing(paths["table"])[-1]
    n = lake.read_lake(spark, paths["table"]).where(F.col("importdate") == newest).count()
    if n != week["rows"]:
        fails.append(f"lake partition {newest}: {n} rows, drop has {week['rows']}")
    if step != "bootstrap":
        for kind in ("updated", "added"):
            path = os.path.join(paths["exports"], f"DELTA/{kind.upper()}/Agency_Data",
                                f"importdate={week['date']}", f"Agency_Data_{kind}.csv")
            fails += check_export(path, set(week[kind]), f"{kind.upper()} export")
    if step == "replay":
        written = result.results["Agency_Data"]["merge"]["written"]
        if written:
            fails.append(f"replay rewrote {written} merged buckets, expected 0")
        fails += check_unchanged(before["lake"], tree_state(paths["table"]), "lake table")
        fails += check_unchanged(before["exports"], tree_state(paths["exports"]), "exports")
    return fails


def _oracle_tools():
    """``tools/check_correctness.py`` of the checkout, imported by path."""
    path = os.path.join(os.getcwd(), "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_connection(sf_dir: str):
    import duckdb

    cc = _oracle_tools()
    con = duckdb.connect()
    for t in cc.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con, cc


def oracle_frame(con, cc, oracle_sql: str):
    """A key's DuckDB oracle result, normalised for ``check_query``."""
    return cc._normalize(con.sql(oracle_sql).df())


def check_query(key: str, spark_pdf, oracle_pdf, cc) -> list[str]:
    """Compare one key's Spark result with its normalised oracle result."""
    sdf = cc._normalize(spark_pdf)
    if len(sdf) != len(oracle_pdf):
        return [f"{key}: {len(sdf)} rows, oracle {len(oracle_pdf)}"]
    if list(sdf.columns) != list(oracle_pdf.columns):
        return [f"{key}: columns {list(sdf.columns)}, oracle {list(oracle_pdf.columns)}"]
    if cc._value_hash(sdf) != cc._value_hash(oracle_pdf):
        return [f"{key}: value hash differs from the oracle"]
    return []

"""The Spark process of a benchmark run.

    python3 perfbench/worker.py '<task json>'

Run from the root of a checkout.  The process times its own set-up
(from the moment the parent spawned it until ``get_spark`` has returned
and one trivial job has finished), runs a warm-up, then repeats units of
work -- a weekly cycle or a pass over the query mix, each on fresh paths
-- until ``task["seconds"]`` have passed (at least one unit), checks
every output outside the timed regions, and writes a JSON result to
``task["out"]``.  With ``task["trace"]`` the layer spans of ``layers.py``
are installed around each step or pass and their aggregates are added
to the result.
"""

from __future__ import annotations

import json
import os
import resource
import shutil
import sys
import time

sys.path.insert(0, os.getcwd())  # the checkout: abr_etl_spark, __spark_entry__

import checks  # noqa: E402
import layers  # noqa: E402
from spans import JobTable, Tracer, length, overlap, spark_totals  # noqa: E402

#: measured units per run at the least: the first one after the warm-up
#: still carries some JIT compilation, so a run reports the median of two
#: or more
MIN_UNITS = 2


def peak_rss_mb(spark) -> float:
    """Driver JVM VmHWM plus this interpreter's ru_maxrss, in MB."""
    jvm_kb = 0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def cpu_s(spark) -> float:
    """CPU seconds used so far by the driver JVM and this interpreter."""
    tick = os.sysconf("SC_CLK_TCK")
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    jvm = (int(fields[11]) + int(fields[12])) / tick
    me = os.times()
    return jvm + me.user + me.system


def install(tracer: Tracer, specs) -> None:
    for spec in specs:
        tracer.install(layers.resolve(spec), spec.attr, spec.name, spec.extras)


def cores(spark) -> int:
    return spark.sparkContext.defaultParallelism


# ------------------------------------------------------------ weekly

def cycle_paths(work: str, name: str) -> dict:
    root = os.path.join(work, name)
    return {
        "root": root,
        "lake_root": os.path.join(root, "lake"),
        "table": os.path.join(root, "lake", "DATA", "Agency_Data"),
        "merge_dir": os.path.join(root, "merged"),
        "merged": os.path.join(root, "merged", "Agency_Data"),
        "exports": os.path.join(root, "exports"),
    }


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, n))
               for r, _d, names in os.walk(path) for n in names)


def weekly_cycle(spark, task: dict, name: str, check: bool = True) -> dict:
    """The manifest's cycle of (step, week) runs -- bootstrap, then the
    weekly weeks -- into one fresh lake, merge dir and export dir."""
    m = task["manifest"]
    paths = cycle_paths(task["work"], name)
    done = [weekly_step(spark, task, paths, step, w, check,
                        Tracer() if task["trace"] and check else None)
            for step, w in m["cycle"]]
    stored = sum(dir_bytes(paths[k]) for k in ("lake_root", "merge_dir", "exports"))
    shutil.rmtree(paths["root"], ignore_errors=True)
    return {"steps": done, "stored_ratio": stored / m["drop_bytes"]}


def weekly_step(spark, task: dict, paths: dict, step: str, w: int, check: bool,
                tracer: Tracer | None) -> dict:
    from abr_etl_spark import pipeline

    if tracer:
        install(tracer, layers.WEEKLY_SPANS + layers.QUERY_SPANS)
    m = task["manifest"]
    week = m["weeks"][w]
    cfg = pipeline.WeeklyConfig(
        drop_dir=os.path.join(paths["root"], f"drop_{step}_{w}"),
        zip_path=week["zip"],
        lake_root=paths["lake_root"],
        datasets=("Agency_Data",),
        delta_datasets=("Agency_Data",),
        export_dir=paths["exports"],
        merge_dir=paths["merge_dir"],
        merge_buckets=m["buckets"],
        compact_merged=True,
    )
    before = None
    if step == "replay" and check:
        before = {"lake": checks.tree_state(paths["table"]),
                  "exports": checks.tree_state(paths["exports"])}
    error, result = None, None
    c0 = cpu_s(spark)
    t0 = time.time()
    try:
        result = pipeline.run_weekly(spark, cfg)
    except Exception as exc:  # counted as a failed operation
        error = f"run_weekly raised {type(exc).__name__}: {exc}"[:400]
    t1 = time.time()
    out = {"step": step, "week": w, "op_s": t1 - t0, "cpu_s": cpu_s(spark) - c0}
    if tracer:
        jobs = JobTable.read(spark.sparkContext)
        tracer.uninstall()
        out["spans"] = tracer.aggregate(jobs)
        window = jobs.between(t0, t1)  # every job of the step, pool threads too
        out["spark"] = spark_totals(window, cores(spark))
        rw = [(s.t0, s.t1) for s in tracer.spans if s.name == "pipeline.run_weekly"]
        inner = [(s.t0, s.t1) for s in tracer.spans if s.name != "pipeline.run_weekly"]
        out["run_weekly"] = {
            "wall_s": length(rw),
            "driver_s": length(rw) - overlap(rw, [(j.start, j.end) for j in window]),
            "uncovered_s": length(rw) - overlap(rw, inner),
            "jobs": len(window),
        }
    out["failures"] = [error] if error else checks.check_weekly(
        spark, step, week, paths, result, before) if check else []
    return out


def weekly_units(spark, task: dict) -> list[dict]:
    """Warm up with one unchecked, untraced cycle at other paths, so the
    JVM's JIT warm-up lands there; then repeat measured cycles for
    ``task["seconds"]``."""
    weekly_cycle(spark, task, "warm_cycle", check=False)
    return repeat(task, lambda i: weekly_cycle(spark, task, f"cycle{i}"))


# ------------------------------------------------------------ queries

def query_units(spark, task: dict) -> list[dict]:
    """Warm up with one pass over a copy of the lake at another path, then
    repeat measured passes for ``task["seconds"]``, each over its own copy.

    The engine's caches and memos are keyed by input path or plan, so
    every pass starts from empty engine caches while the JVM's JIT
    warm-up (tens of CPU-seconds, varying run to run) lands in the
    warm-up pass."""
    import __spark_entry__ as entry
    from abr_etl_spark.functions import cache

    qs = entry.queries()
    for key in task["keys"]:
        try:
            qs[key](spark, copy_lake(task, "warm_lake")).toPandas()
        except Exception:  # noqa: BLE001 - the measured passes record failures
            pass
    cache.release_result_caches()
    con, cc = checks.oracle_connection(task["sf_dir"])
    oracles: dict = {}

    def one_pass(i: int) -> dict:
        out = query_pass(spark, task, copy_lake(task, f"lake_pass{i}"),
                         Tracer() if task["trace"] else None)
        failures = out["failures"]
        for key, pdf in out.pop("results").items():
            try:
                if key not in oracles:
                    oracles[key] = checks.oracle_frame(con, cc, entry.oracle_sql()[key])
                failures[key] = checks.check_query(key, pdf, oracles[key], cc)
            except Exception as exc:  # a check that cannot run is a failure
                failures[key] = [f"{key} check raised {type(exc).__name__}: {exc}"[:400]]
        out["failures"] = {k: v for k, v in failures.items() if v}
        cache.release_result_caches()
        return out

    try:
        return repeat(task, one_pass)
    finally:
        con.close()


def copy_lake(task: dict, name: str) -> str:
    dst = os.path.join(task["work"], name)
    if not os.path.exists(dst):
        shutil.copytree(task["sf_dir"], dst)
    return dst


def query_pass(spark, task: dict, sf_dir: str, tracer: Tracer | None) -> dict:
    """One timed pass over the mix: each key built, then collected."""
    import __spark_entry__ as entry
    from abr_etl_spark.functions import cache

    qs = entry.queries()
    build = lambda k: qs[k](spark, sf_dir)  # noqa: E731
    execute = lambda df: df.toPandas()  # noqa: E731
    cache_seen = {"registrations": 0, "hits": 0, "resident_bytes_max": 0}
    storage = spark.sparkContext._jsc.sc()
    if tracer:
        install(tracer, layers.WEEKLY_SPANS + layers.QUERY_SPANS)
        build = tracer.wrap("plans.build", build)
        execute = tracer.wrap("plans.execute", execute)

        def observe(_family, hit, _eager):
            cache_seen["registrations"] += 1
            cache_seen["hits"] += bool(hit)

        cache.set_cache_observer(observe)

    results, per_key, failures = {}, {}, {}
    c0 = cpu_s(spark)
    t_pass = time.time()
    for key in task["keys"]:
        t0 = time.time()
        try:
            results[key] = execute(build(key))
        except Exception as exc:  # counted as a failed operation
            failures[key] = [f"{key} raised {type(exc).__name__}: {exc}"[:400]]
        t1 = time.time()
        per_key[key] = {"op_s": t1 - t0, "t0": t0, "t1": t1}
        if tracer:
            infos = storage.getRDDStorageInfo()
            resident = sum(i.memSize() + i.diskSize() for i in infos)
            cache_seen["resident_bytes_max"] = max(cache_seen["resident_bytes_max"], resident)
    t_end = time.time()
    out = {"pass_s": t_end - t_pass, "cpu_s": cpu_s(spark) - c0}
    if tracer:
        cache.set_cache_observer(None)
        jobs = JobTable.read(spark.sparkContext)
        tracer.uninstall()
        out["spans"] = tracer.aggregate(jobs)
        out["spark"] = spark_totals(jobs.between(t_pass, t_end), cores(spark))
        out["cache"] = cache_seen
        for key, rec in per_key.items():
            mine = [s for s in tracer.spans
                    if s.name in layers.PLAN_SPANS and rec["t0"] <= s.t0 <= rec["t1"]]
            rec["plans"] = tracer.aggregate(jobs, mine)
    for rec in per_key.values():
        del rec["t0"], rec["t1"]
    return {**out, "per_key": per_key, "failures": failures, "results": results}


# ------------------------------------------------------------ main

def repeat(task: dict, unit) -> list[dict]:
    """Run ``unit(i)`` at least ``MIN_UNITS`` times and until
    ``task["seconds"]`` have passed; start no unit past the first that the
    last one's length says would overrun ``task["deadline"]``.  Each unit
    records when it started (seconds since spawn) and its wall time,
    checks included."""
    units: list[dict] = []
    t_start = time.time()
    last = 0.0
    while not units or ((len(units) < MIN_UNITS or time.time() - t_start < task["seconds"])
                        and time.time() + 1.5 * last < task["deadline"]):
        t0 = time.time()
        units.append(unit(len(units)))
        last = time.time() - t0
        units[-1].update(started_s=t0 - task["spawned"], unit_wall_s=last)
    return units


def main() -> int:
    task = json.loads(sys.argv[1])
    tracer = Tracer() if task.get("trace") else None
    from abr_etl_spark import session

    if tracer:
        install(tracer, [layers.SESSION])
    spark = session.get_spark()
    spark.range(1).count()
    out = {"setup_s": time.time() - task["spawned"]}
    spark.sparkContext.setLogLevel("ERROR")
    if tracer:
        out["spans"] = tracer.aggregate(JobTable.read(spark.sparkContext))
        tracer.uninstall()
    if task["kind"] == "weekly":
        out["units"] = weekly_units(spark, task)
    else:
        out["units"] = query_units(spark, task)
    out["peak_rss_mb"] = peak_rss_mb(spark)
    spark.stop()
    out["stopped_s"] = time.time() - task["spawned"]
    with open(task["out"], "w") as fh:
        json.dump(out, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())

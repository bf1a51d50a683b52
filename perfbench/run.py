#!/usr/bin/env python3
"""Weekly-flow and lake-query benchmark of the engine.

    python3 perfbench/run.py --workload weekly_agency34 --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload lake_queries --seed 1 --seconds 15 --trace 1

Run from the root of a checkout.  Inputs are generated from ``--seed``
into ``.perfbench_work/`` and removed at exit.  A run starts one fresh
Spark process (``worker.py``), which times its set-up, warms up and then
repeats units of work on fresh paths until ``--seconds`` have passed (at
least one unit):

* ``weekly_agency34``: a cycle of ``pipeline.run_weekly`` steps on zipped
  34-column Agency_Data drops, with export, merge and compaction:
  bootstrap (week 1 into an empty lake and merge dir), then weekly
  (week 2) and weekly (week 3).  The warm-up is Spark's generic paths
  and one unchecked cycle.  ``--replay`` adds a replay step (week 3
  again, an operator retry) to every cycle; it is off by default because
  the engine's lake writer appends on a replay, so that step fails its
  checks on every run (see ``checks.check_weekly``);
* ``lake_queries``: a pass builds and collects (``toPandas``) a fixed mix
  of ``queries()`` keys over its own copy of a generated TPC-H-shaped
  lake, so every pass starts from empty engine caches.  The warm-up is
  one pass over another copy.

End-to-end figures are medians over the run's units.
Every step and key is checked outside the timed region (``checks.py``).
With ``--trace 1`` the workers wrap each layer's public functions
(``layers.py``) and the per-layer metrics are printed instead of the
end-to-end ones.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKER = os.path.join(HERE, "worker.py")

AGENCY_ROWS = 10_000  # rows of each weekly Agency_Data drop
CHURN = 0.02  # week 2 updates 2% of the pids, removes 1%, adds 1%
MERGE_BUCKETS = 8
LAKE_SCALE = 1.0  # lineitem 60k rows, TPC-H sf0.01 shape
DRIVER_MEM = "2g"
WORKER_TIMEOUT_S = 170

#: lake_queries mix, run in this order (producers before consumers).  A
#: fixed order: the first keys of a fresh process carry its warm-up, and
#: shuffling would move that cost between keys from seed to seed.
QUERY_KEYS = (
    "q1_pricing_summary",  # TPC-H
    "q5_local_supplier",
    "q10_returned_items",
    "delta_updated",  # CDC as a query
    "delta_classify_lake",
    "scd2",
    "incremental_agg",
    "trading_names_current",
    "association_rules",  # result-cache reuse: producer, then consumer
    "rule_conviction",
    "hll_merge_by_type",  # tiny-job families
    "doc_idf_profile",
    "stream_window_counts",  # windowed aggregate over the event stream
)

WORKLOADS = ("weekly_agency34", "lake_queries")

#: end-to-end metrics: name -> unit.  setup_s: spawn until get_spark has
#: returned and one job ran; pass_s: the measured work of one weekly cycle
#: or query pass; key_op_s: the wait per operation -- a weekly run_weekly
#: (median of weeks 2 and 3) or the median per-key latency of the pass;
#: cpu_s: CPU seconds of the driver JVM and the worker over that work.
#: Each is the median over the run's cycles or passes.
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "key_op_s": "s",
    "cpu_s": "s",
}

GENERIC = ("calls", "wall_s", "driver_s", "jobs", "executor_run_s", "shuffle_write_bytes")
LAZY = ("calls", "wall_s")
#: per-layer metrics printed by a traced run: span -> metrics
PER_LAYER = {
    "session.get_spark": LAZY,
    "pipeline.unzip_drop": LAZY + ("bytes_out",),
    "routed_ingest.ingest_delimited": GENERIC + ("input_bytes",),
    "maintenance.apply_transform": LAZY,
    "lake.write_partitioned": GENERIC + ("output_bytes", "files_written"),
    "lake.read_lake": GENERIC,
    "lake.newest_previous": GENERIC,
    "lake.discover_partitions_listing": LAZY,
    "maintenance.merge_snapshot": GENERIC + ("buckets_written", "buckets_skipped"),
    "maintenance.compact_partition": GENERIC + ("files_in", "files_out", "bytes_rewritten"),
    "lake.export_stable_csv": GENERIC + ("rows_out", "bytes_out"),
    "plans.build": GENERIC,
    "plans.execute": GENERIC,
    "lake.load_table": GENERIC,
    "DataFrameReader.parquet": GENERIC,
    "cache.materialize_result": GENERIC,
    "cache.register_cache": LAZY,
}
#: one weekly cycle: (step, week index); "weekly" runs twice, on weeks 2 and 3
CYCLE = (("bootstrap", 0), ("weekly", 1), ("weekly", 2))
#: the step ``--replay`` appends: week 3 run again
REPLAY = ("replay", 2)
STEP_METRICS = ("wall_s", "driver_s", "uncovered_s", "jobs")


def per_layer_units(replay: bool = False) -> dict[str, str]:
    """Every per-layer metric name -> unit, in print order."""
    def unit(metric: str) -> str:
        if metric.endswith("_s"):
            return "s"
        if "bytes" in metric:
            return "bytes"
        return "count"

    out = {}
    for step in ("bootstrap", "weekly") + (("replay",) if replay else ()):
        for m in STEP_METRICS:
            out[f"pipeline.run_weekly.{step}.{m}"] = unit(m)
    for span, metrics in PER_LAYER.items():
        for m in metrics:
            out[f"{span}.{m}"] = unit(m)
    out.update({
        "cache.registrations": "count",
        "cache.hit_ratio": "ratio",
        "cache.resident_bytes_max": "bytes",
        "spark.tasks": "count",
        "spark.spill_bytes": "bytes",
        "spark.slot_util": "ratio",
        "storage.bytes_per_input_byte": "ratio",
    })
    for name, u in {**END_TO_END, "peak_rss_mb": "MB"}.items():
        out[f"traced.{name}"] = u
    return out


class WorkerFailed(RuntimeError):
    pass


# ------------------------------------------------------------ processes

def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _env(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_MASTER", None)
    cores = str(_cores())
    env.update(
        SPARK_GRAFT_CPUS=cores,
        SPARK_GRAFT_SHUFFLE_PARTITIONS=cores,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


def _reap(pgid: int, deadline: float) -> None:
    """Wait until every process of the group has ended; kill leftovers."""
    while True:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        if time.time() > deadline:
            os.killpg(pgid, signal.SIGKILL)
            deadline = time.time() + 10
        time.sleep(0.05)


def spawn(work: str, task: dict, deadline: float) -> dict:
    """Run one worker process to completion and return its result."""
    n = len([f for f in os.listdir(work) if f.startswith("result_")])
    out = os.path.join(work, f"result_{n}.json")
    log = os.path.join(work, f"worker_{n}.log")
    task = dict(task, out=out, work=work, spawned=time.time(), deadline=deadline - 20)
    with open(log, "wb") as fh:
        proc = subprocess.Popen(
            [sys.executable, WORKER, json.dumps(task)],
            stdout=fh, stderr=subprocess.STDOUT, env=_env(work),
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, min(WORKER_TIMEOUT_S, deadline - time.time())))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
        finally:
            _reap(proc.pid, time.time() + 20)
    if code != 0 or not os.path.exists(out):
        with open(log, errors="replace") as fh:
            tail = fh.read()[-2000:]
        raise WorkerFailed(f"worker {task['kind']} exited {code}:\n{tail}")
    with open(out) as fh:
        return json.load(fh)


# ------------------------------------------------------------ workloads

def weekly_inputs(work: str, seed: int, cycle) -> dict:
    import checks
    import gen

    weeks = gen.dataset_weeks(seed, "Agency_Data", AGENCY_ROWS, len(gen.WEEK_DATES), CHURN)
    manifest = {"work": work, "buckets": MERGE_BUCKETS, "cycle": cycle, "weeks": []}
    for w, (rows, change) in enumerate(zip(weeks.snapshots, weeks.changes)):
        src = os.path.join(work, f"src{w}")
        os.makedirs(src)
        txt = os.path.join(src, gen.drop_name("Agency_Data", w))
        nbytes = gen.write_drop(txt, weeks.columns, rows)
        zip_path = os.path.join(work, f"week{w + 1}.zip")
        gen.zip_drop(zip_path, [txt])
        count, digest = checks.row_digest(rows)
        yymmdd = gen.WEEK_DATES[w]
        manifest["weeks"].append({
            "zip": zip_path, "rows": count, "digest": digest,
            "date": f"20{yymmdd[:2]}-{yymmdd[2:4]}-{yymmdd[4:]}",
            "columns": list(weeks.columns), "input_bytes": nbytes,
            "updated": sorted(change.updated), "added": sorted(change.added),
        })
    manifest["drop_bytes"] = sum(w["input_bytes"] for w in manifest["weeks"])
    return manifest


def timeline(res: dict) -> dict:
    """When the worker was ready, started and ended each unit, and stopped
    (seconds since spawn)."""
    return {"setup_s": res["setup_s"],
            "units": [(u["started_s"], u["started_s"] + u["unit_wall_s"]) for u in res["units"]],
            "stopped_s": res["stopped_s"]}


def cycle_of(args) -> tuple:
    return CYCLE + (REPLAY,) if args.replay else CYCLE


def run_weekly_workload(work: str, args, deadline: float) -> dict:
    cycle = cycle_of(args)
    manifest = weekly_inputs(work, args.seed, cycle)
    last_week = manifest["weeks"][-1]
    res = spawn(work, {"kind": "weekly", "manifest": manifest, "trace": bool(args.trace),
                       "seconds": args.seconds}, deadline)
    cycles = res["units"]
    op = {s: [st["op_s"] for c in cycles for st in c["steps"] if st["step"] == s]
          for s, _w in cycle}
    extra = {
        "bootstrap_s": statistics.median(op["bootstrap"]),
        "weekly_s": statistics.median(op["weekly"]),
        "weekly_rows_per_s": last_week["rows"] / statistics.median(op["weekly"]),
        "stored_bytes_per_input_byte": statistics.median(c["stored_ratio"] for c in cycles),
    }
    if args.replay:
        extra["replay_s"] = statistics.median(op["replay"])
    extra["input"] = (f"Agency_Data 34 columns, {len(manifest['weeks'])} weekly drops of "
                      f"{last_week['rows']} rows / {last_week['input_bytes']} bytes, "
                      f"{MERGE_BUCKETS} merge buckets, {_cores()} cores, "
                      f"steps {[s for s, _w in cycle]}, cycles={len(cycles)}")
    report = {
        "setup_s": res["setup_s"],
        "timeline": timeline(res),
        "pass_s": [sum(st["op_s"] for st in c["steps"]) for c in cycles],
        "key_op_s": op["weekly"],
        "cpu_s": [sum(st["cpu_s"] for st in c["steps"]) for c in cycles],
        "peak_rss_mb": res["peak_rss_mb"],
        "attempted": len(cycle) * len(cycles),
        "failures": {f"cycle{i}.{st['step']}.week{st['week'] + 1}": st["failures"]
                     for i, c in enumerate(cycles) for st in c["steps"] if st["failures"]},
        "extra": extra,
    }
    if args.trace:
        report["trace"] = merge_weekly_trace(res)
    return report


def run_query_workload(work: str, args, deadline: float) -> dict:
    import gen

    sf_dir = os.path.join(work, "lake")
    rows = gen.write_lake(sf_dir, args.seed, LAKE_SCALE)
    keys = list(QUERY_KEYS)
    res = spawn(work, {"kind": "queries", "sf_dir": sf_dir, "keys": keys,
                       "trace": bool(args.trace), "seconds": args.seconds}, deadline)
    passes = res["units"]
    per_key = [r["op_s"] for p in passes for r in p["per_key"].values()]
    return {
        "setup_s": res["setup_s"],
        "timeline": timeline(res),
        "pass_s": [p["pass_s"] for p in passes],
        "key_op_s": per_key,
        "cpu_s": [p["cpu_s"] for p in passes],
        "peak_rss_mb": res["peak_rss_mb"],
        "attempted": len(keys) * len(passes),
        "failures": {f"pass{i}.{k}": v for i, p in enumerate(passes)
                     for k, v in p["failures"].items()},
        "per_key_s": {k: statistics.median(p["per_key"][k]["op_s"] for p in passes)
                      for k in keys},
        "extra": {
            "query_p50_s": statistics.median(per_key),
            "query_n": len(per_key),
            "input": f"lake rows {rows}, {len(keys)} keys, {_cores()} cores, "
                     f"passes={len(passes)}",
        },
        **({"trace": merge_query_trace(res)} if args.trace else {}),
    }


# ------------------------------------------------------------ trace merge
#
# Span figures are means per unit of work (weekly cycle or query pass);
# the session span is the run's one get_spark call.

def _add_spans(total: dict, spans: dict, scale: float = 1.0) -> None:
    for name, metrics in spans.items():
        acc = total.setdefault(name, {})
        for k, v in metrics.items():
            acc[k] = acc.get(k, 0) + v * scale


def _spark_figures(parts: list[dict], units: int) -> dict:
    active = sum(p["spark.active_s"] for p in parts)
    run = sum(p["spark.executor_run_s"] for p in parts)
    return {
        "spark.tasks": sum(p["spark.tasks"] for p in parts) / units,
        "spark.spill_bytes": sum(p["spark.spill_bytes"] for p in parts) / units,
        "spark.slot_util": run / (active * _cores()) if active else 0.0,
    }


def merge_weekly_trace(res: dict) -> dict:
    cycles = res["units"]
    spans: dict = {}
    flat: dict = {}
    _add_spans(spans, res["spans"])
    for c in cycles:
        for st in c["steps"]:
            _add_spans(spans, st["spans"], 1 / len(cycles))
            share = sum(1 for x in c["steps"] if x["step"] == st["step"]) * len(cycles)
            for m in STEP_METRICS:  # the mean over the step's runs
                key = f"pipeline.run_weekly.{st['step']}.{m}"
                flat[key] = flat.get(key, 0) + st["run_weekly"][m] / share
    flat.update(_spark_figures([st["spark"] for c in cycles for st in c["steps"]],
                               len(cycles)))
    flat["storage.bytes_per_input_byte"] = statistics.median(c["stored_ratio"] for c in cycles)
    per_step = [{"step": st["step"], "week": st["week"] + 1, "op_s": st["op_s"],
                 **st["run_weekly"], "spans": st["spans"]}
                for st in cycles[0]["steps"]]
    return {"spans": spans, "flat": flat, "per_step": per_step}


def merge_query_trace(res: dict) -> dict:
    passes = res["units"]
    spans: dict = {}
    _add_spans(spans, res["spans"])
    for p in passes:
        _add_spans(spans, p["spans"], 1 / len(passes))
    cache = {k: sum(p["cache"][k] for p in passes) for k in ("registrations", "hits")}
    flat = {
        "cache.registrations": cache["registrations"] / len(passes),
        "cache.hit_ratio": cache["hits"] / cache["registrations"] if cache["registrations"] else 0.0,
        "cache.resident_bytes_max": max(p["cache"]["resident_bytes_max"] for p in passes),
    }
    flat.update(_spark_figures([p["spark"] for p in passes], len(passes)))
    return {"spans": spans, "flat": flat, "per_key": passes[0]["per_key"]}


# ------------------------------------------------------------ report

def end_to_end(report: dict) -> dict[str, float]:
    return {
        "setup_s": report["setup_s"],
        "pass_s": statistics.median(report["pass_s"]),
        "key_op_s": statistics.median(report["key_op_s"]),
        "cpu_s": statistics.median(report["cpu_s"]),
    }


def layer_metrics(report: dict, units: dict[str, str]) -> dict[str, float]:
    trace = report["trace"]
    out = {}
    for name in units:
        span, _, metric = name.rpartition(".")
        if name in trace["flat"]:
            out[name] = trace["flat"][name]
        elif name.startswith("traced."):
            out[name] = {**end_to_end(report), "peak_rss_mb": report["peak_rss_mb"]}[metric]
        else:
            out[name] = trace["spans"].get(span, {}).get(metric, 0)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--detail", help="also write the full run report (JSON) here")
    ap.add_argument("--replay", action="store_true",
                    help="weekly_agency34: add the replay step to every cycle")
    args = ap.parse_args(argv)

    root = os.getcwd()
    needed = ("abr_etl_spark/pipeline.py", "__spark_entry__.py", "tools/check_correctness.py")
    missing = [p for p in needed if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from the root of a checkout; missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    deadline = time.time() + 175
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if args.workload == "weekly_agency34":
            report = run_weekly_workload(work, args, deadline)
        else:
            report = run_query_workload(work, args, deadline)
    except WorkerFailed as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = len(report["failures"])
    e2e = end_to_end(report)
    print(f"workload {args.workload} seed {args.seed}: {report['extra']['input']}")
    for name, value in e2e.items():
        print(f"  {name:24s} {value:12.4f} {END_TO_END[name]}")
    print(f"  {'peak_rss_mb':24s} {report['peak_rss_mb']:12.4f} MB")
    for name, value in report["extra"].items():
        if name != "input":
            print(f"  {name:24s} {value:12.4f}")
    print(f"  {'error_rate':24s} {failed / report['attempted']:12.4f} "
          f"({failed} of {report['attempted']} operations failed)")
    for op, msgs in report["failures"].items():
        for msg in msgs:
            print(f"  FAIL {op}: {msg}")
    if args.trace:
        units = per_layer_units(args.replay)
        metrics = layer_metrics(report, units)
        for name, value in metrics.items():
            print(f"  {name:48s} {value:14.4f} {units[name]}")
        out = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    else:
        out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    if args.detail:
        with open(args.detail, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                       "end_to_end": e2e, **report}, fh, indent=1, default=str)
    print(json.dumps({"correct": failed == 0, "attempted": report["attempted"],
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

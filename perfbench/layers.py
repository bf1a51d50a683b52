"""The layer boundaries the traced run wraps, their extra counters, and
which end-to-end metric each should move on which workload.

A layer is a repo module; a span is one public function of it.  The
``expect`` lines are the predictions a performance change cites: the
span, the end-to-end metric it feeds, the workload it is mostly on and
the workload where it should barely show.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass

from spans import Extras


def tree_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; bookkeeping files excluded."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def _arg(args, kwargs, i: int, name: str):
    return args[i] if len(args) > i else kwargs[name]


def _unzip_after(_s, _a, _k, result):
    return {"bytes_out": sum(os.path.getsize(p) for p in result or [])}


def _ingest_after(_s, args, kwargs, _r):
    drop, ds = _arg(args, kwargs, 1, "drop_dir"), _arg(args, kwargs, 2, "dataset")
    files = glob.glob(os.path.join(drop, f"VIC*_ABR_{ds}.txt"))
    return {"input_bytes": sum(os.path.getsize(f) for f in files)}


def _write_before(args, kwargs):
    return tree_stats(_arg(args, kwargs, 1, "path"))


def _write_after(before, args, kwargs, _r):
    files, size = tree_stats(_arg(args, kwargs, 1, "path"))
    return {"output_bytes": size - before[1], "files_written": files - before[0]}


def _merge_after(_s, _a, _k, result):
    result = result or {}
    return {"buckets_written": result.get("written", 0),
            "buckets_skipped": result.get("skipped", 0)}


def _compact_before(args, kwargs):
    return tree_stats(_arg(args, kwargs, 1, "path"))


def _compact_after(before, args, kwargs, _r):
    files, size = tree_stats(_arg(args, kwargs, 1, "path"))
    return {"files_in": before[0], "files_out": files, "bytes_rewritten": size}


def _export_after(_s, _a, _k, result):
    if not result or not os.path.exists(result):
        return {"rows_out": 0, "bytes_out": 0}
    with open(result, "rb") as fh:
        lines = sum(1 for _ in fh)
    return {"rows_out": max(0, lines - 1), "bytes_out": os.path.getsize(result)}


@dataclass(frozen=True)
class SpanSpec:
    name: str  # reported as <name>.<metric>
    module: str  # module (or module:Class) holding the function
    attr: str
    extras: Extras | None = None
    expect: str = ""


SESSION = SpanSpec(
    "session.get_spark", "abr_etl_spark.session", "get_spark",
    expect="setup_s; all workloads")

WEEKLY_SPANS = (
    SpanSpec("pipeline.run_weekly", "abr_etl_spark.pipeline", "run_weekly",
             expect="the whole step; pass_s and key_op_s on weekly_agency34"),
    SpanSpec("pipeline.unzip_drop", "abr_etl_spark.pipeline", "unzip_drop",
             Extras(_unzip_after),
             expect="key_op_s on weekly_agency34 (one small zip: near zero)"),
    SpanSpec("routed_ingest.ingest_delimited", "abr_etl_spark.sources.routed_ingest",
             "ingest_delimited", Extras(_ingest_after),
             expect="key_op_s on weekly_agency34: one inferSchema scan per step"),
    SpanSpec("maintenance.apply_transform", "abr_etl_spark.operators.maintenance",
             "apply_transform",
             expect="lazy for Agency_Data: near zero on weekly_agency34"),
    SpanSpec("lake.write_partitioned", "abr_etl_spark.sources.lake", "write_partitioned",
             Extras(_write_after, _write_before),
             expect="pass_s and key_op_s on weekly_agency34; absent on lake_queries"),
    SpanSpec("lake.read_lake", "abr_etl_spark.sources.lake", "read_lake",
             expect="key_op_s on weekly_agency34 (schema-merge listing)"),
    SpanSpec("lake.newest_previous", "abr_etl_spark.sources.lake", "newest_previous",
             expect="key_op_s on weekly_agency34: one distinct job per dataset"),
    SpanSpec("lake.discover_partitions_listing", "abr_etl_spark.sources.lake",
             "discover_partitions_listing",
             expect="bootstrap only: a directory listing, near zero"),
    SpanSpec("maintenance.merge_snapshot", "abr_etl_spark.operators.maintenance",
             "merge_snapshot", Extras(_merge_after),
             expect="key_op_s and pass_s on weekly_agency34 (replay_s with --replay); "
                    "includes the lazy CDC join (operators.delta)"),
    SpanSpec("maintenance.compact_partition", "abr_etl_spark.operators.maintenance",
             "compact_partition", Extras(_compact_after, _compact_before),
             expect="pass_s on weekly_agency34: one rewrite per written bucket, "
                    "4-thread pool"),
    SpanSpec("lake.export_stable_csv", "abr_etl_spark.sources.lake", "export_stable_csv",
             Extras(_export_after),
             expect="key_op_s on weekly_agency34: each export re-runs the CDC join"),
)

QUERY_SPANS = (
    SpanSpec("lake.load_table", "abr_etl_spark.sources.lake", "load_table",
             expect="pass_s and key_op_s on lake_queries (table catalog work)"),
    SpanSpec("DataFrameReader.parquet", "pyspark.sql.readwriter:DataFrameReader",
             "parquet",
             expect="pass_s on lake_queries: listing and footer reads per call"),
    SpanSpec("cache.materialize_result", "abr_etl_spark.functions.cache",
             "materialize_result",
             expect="pass_s and peak_rss_mb on lake_queries (result-cache reuse)"),
    SpanSpec("cache.register_cache", "abr_etl_spark.functions.cache", "register_cache",
             expect="pass_s and peak_rss_mb on lake_queries"),
)

#: spans the benchmark opens itself around each query key
PLAN_SPANS = {
    "plans.build": "the queries()[k](spark, sf) call; key_op_s on lake_queries",
    "plans.execute": "the .count() of the built frame; pass_s on lake_queries",
}


def resolve(spec: SpanSpec):
    """The object that holds ``spec.attr``."""
    import importlib

    mod, _, cls = spec.module.partition(":")
    owner = importlib.import_module(mod)
    return getattr(owner, cls) if cls else owner

"""Seeded input generators for the benchmark.

Everything the benchmark feeds the engine is made here from ``--seed``:
the same seed gives byte-identical files.

* ABR weekly drops: pipe-delimited ``VIC<yymmdd>_ABR_<Dataset>.txt``
  files with the ``abr_schemas`` columns of each dataset, one drop per
  week.  Each week is the one before with seeded churn (some pids
  updated, some removed, some added); the generator returns those pid
  sets so the checker can hold the CDC exports to them exactly.
* A TPC-H-shaped lake (``region`` ... ``embeddings``, one parquet file
  each) with the column names and types the ``queries()`` plans read.
"""

from __future__ import annotations

import datetime as dt
import os
import zipfile
from dataclasses import dataclass, field

import numpy as np

from abr_etl_spark.sources.abr_schemas import DATASET_COLUMNS

WEEK_DATES = ("190422", "190429", "190506")  # yymmdd of weeks 1, 2, 3

_WORDS = np.array(
    "ACME ALPHA APEX ATLAS BAY BLUE BRIGHT CEDAR COAST CORE CREST DELTA "
    "EAGLE EAST ELM FIRST GOLD GREEN HARBOUR HILL IRON LAKE MAPLE METRO "
    "NORTH OAK OCEAN PEAK PINE PRIME QUEST RIDGE RIVER ROCK SILVER SOUTH "
    "STAR STONE SUMMIT SUN UNITED VALLEY VISTA WEST WILLOW YARRA".split()
)
_SUFFIX = np.array(["PTY LTD", "LIMITED", "TRUST", "CO", "GROUP", "SERVICES"])
_GIVEN = np.array(
    "ALEX AMY BEN CHLOE DAN EMMA FINN GRACE HUGO ISLA JACK KATE LEO MIA "
    "NOAH OLIVIA RUBY SAM TOM ZOE".split()
)
_FAMILY = np.array(
    "BROWN CHEN CLARK DAVIS EVANS GREEN HALL JONES KELLY LEE MARTIN NGUYEN "
    "PATEL SMITH TAYLOR WALKER WHITE WILSON WONG YOUNG".split()
)
_STREET = np.array(
    "HIGH CHURCH STATION GEORGE KING QUEEN VICTORIA ELIZABETH COLLINS "
    "BOURKE FLINDERS LONSDALE SWANSTON".split()
)
_STREET_T = np.array(["ST", "RD", "AVE", "PDE", "LANE", "DR"])
_SUBURB = np.array(
    "BALLARAT BENDIGO GEELONG RICHMOND CARLTON FITZROY BRUNSWICK KEW "
    "HAWTHORN FOOTSCRAY PRAHRAN WERRIBEE FRANKSTON DANDENONG".split()
)
_CODES = np.array(["IND", "PRV", "PUB", "SMF", "TRT", "CUT", "OIE"])
_INDUSTRY = np.array(
    "RETAIL CONSTRUCTION FARMING MANUFACTURING TRANSPORT EDUCATION HEALTH "
    "HOSPITALITY FINANCE MEDIA".split()
)


def _pick(rng: np.random.Generator, vocab: np.ndarray, n: int) -> np.ndarray:
    return vocab[rng.integers(0, len(vocab), n)]


def _join(*parts: np.ndarray) -> np.ndarray:
    out = parts[0].astype(object)
    for p in parts[1:]:
        out = out + " " + p.astype(object)
    return out


def _dates(rng: np.random.Generator, n: int, null_share: float) -> np.ndarray:
    """yyyymmdd strings (every ABR ``*_dt`` field) with some blanks."""
    base = dt.date(1995, 1, 1).toordinal()
    days = rng.integers(0, 9000, n)
    out = np.array(
        [dt.date.fromordinal(base + int(d)).strftime("%Y%m%d") for d in days],
        dtype=object,
    )
    out[rng.random(n) < null_share] = ""
    return out


def _digits(rng: np.random.Generator, n: int, width: int) -> np.ndarray:
    """``width``-digit numbers with a non-zero lead digit (so the CSV
    reader's inferred integer type prints them back unchanged)."""
    lo, hi = 10 ** (width - 1), 10**width
    return rng.integers(lo, hi, n).astype(str).astype(object)


def _column(rng: np.random.Generator, col: str, n: int) -> np.ndarray:
    """One generated column of ``n`` string values, by field name."""
    if col == "abn" or col == "replcd_abn":
        return _digits(rng, n, 11)
    if col == "acn":
        return _digits(rng, n, 9)
    if col.endswith("_dt"):
        share = 0.85 if ("cancn" in col or "end" in col or "revcn" in col) else 0.0
        return _dates(rng, n, share)
    if col.endswith("dpid"):
        return _digits(rng, n, 8)
    if col.endswith("pc") or col == "pc":
        return rng.integers(3000, 4000, n).astype(str).astype(object)
    if col.endswith("stt") or col == "stt":
        return np.full(n, "VIC", dtype=object)
    if col.endswith("cntry_cd"):
        return np.full(n, "AUS", dtype=object)
    if col.endswith("_cd") or col == "sprsn_ind":
        return _pick(rng, _CODES, n).astype(object)
    if col.endswith("sbrb") or col == "sbrb":
        return _pick(rng, _SUBURB, n).astype(object)
    if "addr_ln_1" in col:
        num = rng.integers(1, 400, n).astype(str)
        return _join(num, _pick(rng, _STREET, n), _pick(rng, _STREET_T, n))
    if "addr_ln_2" in col:
        out = "LEVEL " + rng.integers(1, 40, n).astype(str).astype(object)
        out[rng.random(n) < 0.7] = ""
        return out
    if col == "prsn_gvn_nm" or col == "prsn_othr_gvn_nm":
        return _pick(rng, _GIVEN, n).astype(object)
    if col == "prsn_fmly_nm":
        return _pick(rng, _FAMILY, n).astype(object)
    if col == "ent_eml":
        return (_pick(rng, _GIVEN, n).astype(object) + "@"
                + _pick(rng, _WORDS, n).astype(object) + ".COM.AU")
    if col == "mn_indy_clsn":
        return "C" + rng.integers(100, 999, n).astype(str).astype(object)
    if col == "mn_indy_clsn_descn":
        return _pick(rng, _INDUSTRY, n).astype(object)
    if col == "prty_id_blnk":
        return "P" + rng.integers(10000, 99999, n).astype(str).astype(object)
    # every remaining field is a name: organisation, trading, fund, ...
    return _join(_pick(rng, _WORDS, n), _pick(rng, _WORDS, n),
                 _pick(rng, _SUFFIX, n))


#: the non-key field each dataset's updates rewrite.  A text field where
#: one exists, so an update never changes the inferred column type.
MUTABLE_COL = {
    "Agency_Data": "org_nm",
    "ACNC": "acnc_regn_dt",
    "Associates": "org_nm",
    "Businesslocation": "addr_ln_1",
    "Businessname": "bus_nm",
    "Funds": "fund_nm",
    "Othtrdnames": "othr_trdg_nm",
    "Replacedabn": "replcd_abn",
}


def _mutate(col: str, values: np.ndarray) -> np.ndarray:
    """A value that differs from each input but keeps its type."""
    if col.endswith("_dt"):  # same day, one year later
        return np.array([str(int(v[:4]) + 1) + v[4:] for v in values], dtype=object)
    if col == "replcd_abn":
        return np.array([str(int(v) - 1) for v in values], dtype=object)
    return values + " NEW"


@dataclass
class Change:
    """What week k did to week k-1: pids updated, added and removed."""

    updated: set[str] = field(default_factory=set)
    added: set[str] = field(default_factory=set)
    removed: set[str] = field(default_factory=set)


@dataclass
class DatasetWeeks:
    """One dataset's weekly snapshots; ``changes[k]`` turns snapshot k-1
    into snapshot k (``changes[0]`` is empty)."""

    columns: tuple[str, ...]
    snapshots: list[list[tuple[str, ...]]]
    changes: list[Change]


def dataset_weeks(
    seed: int, dataset: str, rows: int, weeks: int = 2, churn: float = 0.02
) -> DatasetWeeks:
    """Week 1 has ``rows`` rows; each later week updates ``churn`` of the
    live pids, removes ``churn / 2`` and adds ``churn / 2`` new ones."""
    rng = np.random.default_rng([seed, sum(map(ord, dataset))])
    cols = DATASET_COLUMNS[dataset]
    n_upd, n_rem = max(1, int(rows * churn)), max(1, int(rows * churn / 2))
    n_add = n_rem
    n_all = rows + n_add * (weeks - 1)
    pids = (rng.permutation(n_all * 4)[:n_all] + 100_000).astype(str).astype(object)
    data = {c: (pids if c == "pid" else _column(rng, c, n_all)) for c in cols}
    mcol = MUTABLE_COL[dataset]
    data[mcol] = data[mcol].copy()
    live = np.arange(rows)

    def snapshot() -> list[tuple[str, ...]]:
        return list(zip(*(data[c][live] for c in cols)))

    snapshots, changes = [snapshot()], [Change()]
    for k in range(1, weeks):
        pick = rng.permutation(len(live))
        upd = live[pick[:n_upd]]
        rem = live[pick[n_upd:n_upd + n_rem]]
        add = np.arange(rows + n_add * (k - 1), rows + n_add * k)
        data[mcol][upd] = _mutate(mcol, data[mcol][upd])
        live = np.sort(np.concatenate([np.setdiff1d(live, rem), add]))
        snapshots.append(snapshot())
        changes.append(Change(set(pids[upd]), set(pids[add]), set(pids[rem])))
    return DatasetWeeks(cols, snapshots, changes)


def write_drop(path: str, columns: tuple[str, ...], rows: list[tuple[str, ...]]) -> int:
    """Write one pipe-delimited drop file with a header; returns bytes."""
    with open(path, "w", newline="") as fh:
        fh.write("|".join(columns) + "\n")
        fh.writelines("|".join(r) + "\n" for r in rows)
    return os.path.getsize(path)


def drop_name(dataset: str, week: int) -> str:
    return f"VIC{WEEK_DATES[week]}_ABR_{dataset}.txt"


def zip_drop(zip_path: str, files: list[str]) -> None:
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for f in files:
            zf.write(f, os.path.basename(f))


# ------------------------------------------------------------ query lake

_DOC_WORDS = np.array(
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)


def _epoch_us(rng: np.random.Generator, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "us").astype(np.int64)
    return base + rng.integers(0, days * 86_400_000_000, n)


def lake_tables(seed: int, scale: float = 1.0) -> dict:
    """The TPC-H-shaped tables the ``queries()`` plans read, as pyarrow
    tables.  ``scale`` 1.0 is 60k lineitem rows (TPC-H sf0.01)."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 7])
    n_cust, n_supp, n_part = int(1500 * scale), max(25, int(100 * scale)), int(2000 * scale)
    n_ord, n_line = int(15000 * scale), int(60000 * scale)
    n_users, n_ev, n_doc, n_vec = max(10, int(150 * scale)), int(10000 * scale), 500, 500
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    ts = pa.timestamp("us")

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]), n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": _join(_pick(rng, adj, n_part), _pick(rng, noun, n_part)),
        "p_brand": ("Brand#" + rng.integers(1, 26, n_part).astype(str).astype(object)),
        "p_type": _pick(rng, np.array(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]), n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, np.array(["F", "O", "P"]), n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": pa.array(
            _epoch_us(rng, n_ord, "1995-01-01", 2400) // 86_400_000_000 * 86_400_000_000, ts),
        "o_orderpriority": _pick(rng, np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n_ord),
    })
    okey = np.sort(rng.integers(0, n_ord, n_line))
    first = np.r_[True, okey[1:] != okey[:-1]]
    run_start = np.maximum.accumulate(np.where(first, np.arange(n_line), 0))
    qty = rng.integers(1, 51, n_line).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(np.arange(n_line) - run_start + 1, i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": _pick(rng, np.array(["A", "N", "R"]), n_line),
        "l_linestatus": _pick(rng, np.array(["F", "O"]), n_line),
        "l_shipdate": pa.array(
            _epoch_us(rng, n_line, "1995-01-02", 2500) // 86_400_000_000 * 86_400_000_000, ts),
    })
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.sort(_epoch_us(rng, n_ev, "2024-01-01", 30)), ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": _pick(rng, np.array(
            ["click", "error", "purchase", "signup", "view"]), n_ev),
        "value": money(0.01, 500, n_ev),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_ev)],
    })
    lens = rng.integers(8, 80, n_doc)
    words = [" ".join(_pick(rng, _DOC_WORDS, int(k))) for k in lens]
    for i in range(0, n_doc, 25):  # near-duplicate pairs for the dedup plans
        if i + 1 < n_doc:
            words[i + 1] = words[i] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": words,
        "lang": _pick(rng, np.array(["de", "en", "es", "fr", "zh"]), n_doc),
        "source": ("src" + rng.integers(0, 20, n_doc).astype(str).astype(object)),
        "n_chars": pa.array([len(w) for w in words], i64),
    })
    labels = rng.integers(0, 10, n_vec)
    centres = rng.normal(0, 1, (10, 64))
    vecs = centres[labels] + rng.normal(0, 0.6, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return t


def write_lake(directory: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write ``<directory>/<table>.parquet`` for every lake table;
    returns table -> row count."""
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    rows = {}
    for name, table in lake_tables(seed, scale).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows

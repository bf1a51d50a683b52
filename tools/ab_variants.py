"""Old-implementation variants for tools/bench_ab.py paired runs.

Each function freezes the PRE-optimization formulation of a key this
round rewrites, so the A/B harness can alternate old/new inside one
session. These are measurement twins, not product code: they must stay
row-identical to the key's committed r16 behaviour.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def rule_ancestor_old(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r16 rule_ancestor_prune: triple explosion WITHOUT the a-priori
    prefix semi-join (analytics14.py before r17)."""
    from abr_etl_spark.plans.analytics13 import AR_MIN_PAIR, _basket_census
    from abr_etl_spark.plans.analytics14 import _halfup

    l, pc_all = _basket_census(spark, sf_dir)
    x = l.select("l_orderkey", F.col("l_partkey").alias("ant_a"))
    y = l.select("l_orderkey", F.col("l_partkey").alias("ant_b"))
    ab = x.join(y, "l_orderkey").where(F.col("ant_a") < F.col("ant_b"))
    pair_ab = pc_all.where(F.col("ant") < F.col("cons")).select(
        F.col("ant").alias("ant_a"),
        F.col("cons").alias("ant_b"),
        "n_pair",
    )
    c = l.select("l_orderkey", F.col("l_partkey").alias("cons"))
    triples = (
        ab.join(c, "l_orderkey")
        .where(
            (F.col("cons") != F.col("ant_a"))
            & (F.col("cons") != F.col("ant_b"))
        )
        .groupBy("ant_a", "ant_b", "cons")
        .agg(F.count("*").cast("long").alias("n_triple"))
        .where(F.col("n_triple") >= AR_MIN_PAIR)
    )
    pc = pc_all.select(
        F.col("ant").alias("ant_a"), "cons",
        F.col("n_pair").alias("n_xc"),
    )
    per_part = l.groupBy("l_partkey").agg(
        F.count("*").cast("long").alias("n_part")
    )
    dec = "CAST({} AS DECIMAL(38,0))"
    beats_a = (
        f"{dec.format('n_triple')} * n_a > {dec.format('n_ac')} * n_pair"
    )
    beats_b = (
        f"{dec.format('n_triple')} * n_b > {dec.format('n_bc')} * n_pair"
    )
    return (
        triples.join(pair_ab, ["ant_a", "ant_b"])
        .join(
            pc.select("ant_a", "cons", F.col("n_xc").alias("n_ac")),
            ["ant_a", "cons"],
        )
        .join(
            pc.select(
                F.col("ant_a").alias("ant_b"),
                "cons",
                F.col("n_xc").alias("n_bc"),
            ),
            ["ant_b", "cons"],
        )
        .join(
            per_part.select(
                F.col("l_partkey").alias("ant_a"),
                F.col("n_part").alias("n_a"),
            ),
            "ant_a",
        )
        .join(
            per_part.select(
                F.col("l_partkey").alias("ant_b"),
                F.col("n_part").alias("n_b"),
            ),
            "ant_b",
        )
        .where(F.expr(f"({beats_a}) AND ({beats_b})"))
        .select(
            "ant_a",
            "ant_b",
            "cons",
            "n_triple",
            "n_pair",
            F.expr(
                "CAST("
                + _halfup("n_triple * 1000000", "n_pair")
                + " AS BIGINT)"
            ).alias("conf2_e6"),
            F.expr(
                "CAST(greatest("
                + _halfup(dec.format("n_ac") + " * 1000000", "n_a")
                + ", "
                + _halfup(dec.format("n_bc") + " * 1000000", "n_b")
                + ") AS BIGINT)"
            ).alias("anc_max_e6"),
        )
        .orderBy("ant_a", "ant_b", "cons")
    )


# --- stratified_reservoir_alloc, r16 formulation (separate tot/base_sum
# --- aggregates + double alloc broadcast) ---
from pyspark.sql import Window
from pyspark.sql.functions import broadcast

from abr_etl_spark.plans.analytics14 import (
    _BW, _P, SRA_K, WRS_A, WRS_B, WRS_TIER_HI, WRS_TIER_LO, _wrs_key,
)
from abr_etl_spark.sources.lake import load_table

def sra_old(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified weighted reservoir: ONE global budget of {SRA_K}
    documents apportioned across (lang, source) strata by
    largest-remainder (Hamilton) allocation on each stratum's total
    tier weight, then drawn per stratum WITHOUT replacement by the
    Efraimidis-Spirakis race -- the auditable stratified subsample a
    corpus-mixing pipeline draws when one global reservoir would let a
    heavy stratum starve the tail. Output (lang, source, quota, rn,
    doc_id, w); a stratum smaller than its quota yields all its rows.

    Determinism: quotas are pure integer apportionment -- base =
    (K w_i) DIV W, remainders ranked (rem DESC, lang, source) fill the
    deficit (ties pinned by name; quotas sum to exactly {SRA_K} when
    the corpus is non-empty); the draw is weighted_reservoir_sample's
    integer 4th-power race (u^(1/w) compared exactly through
    DECIMAL(38,0)/HUGEINT -- no libm pow/ln on either engine; the
    batch top-k by that key is the SAME sample the A-ExpJ stream
    variant selects, the jump being an evaluation-count device, not a
    different order).

    Scale shape: the corpus is never globally sorted -- the strata
    census and allocation run on |lang x source| rows (the ONE
    single-partition window, strata-census-bounded -- whitelisted);
    race keys histogram into bucket cells per stratum (map-side
    combined), a stratum-partitioned prefix picks each cutoff cell at
    its OWN quota, and only ~quota + one cell's occupancy reach the
    top-k window. 100 TB cost = two key-column scans + a
    reservoir-sized shuffle (the weighted_reservoir_sample trade).

    Reference parity: SURVEY.md §2.C (training-data sampling); the
    stratified A-ExpJ candidate from the r13 §7.19 pre-positioning."""
    from abr_etl_spark.functions.cache import materialize_result

    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        "source",
        "doc_id",
        F.expr(
            f"pmod({WRS_A} * pmod(doc_id, {_P}) + {WRS_B}, {_P}) + 1"
        ).alias("h"),
        F.expr(
            f"CASE WHEN n_chars >= {WRS_TIER_HI} THEN 4"
            f" WHEN n_chars >= {WRS_TIER_LO} THEN 2 ELSE 1 END"
        ).alias("w"),
    )
    keyed = d.withColumn(
        "key", F.expr(_wrs_key("h", "w", duck=False))
    ).withColumn("b", F.expr(f"CAST(key DIV {_BW} AS INT)"))
    # ONE corpus pass builds the combined (stratum, bucket) census
    # carrying BOTH the row count (the cutoff prefix) and the weight
    # mass (the allocation input); materialized, because every
    # downstream frame -- strata masses, deficit, quotas, cutoffs --
    # is an aggregate of THIS <= |strata| x 4096-row cache, and
    # without the persist each consumer re-scanned the corpus (the
    # r14 audit measured 18 file scans and ~4x WRS's warm wall).
    cen = materialize_result(
        keyed.groupBy("lang", "source", "b").agg(
            F.count("*").alias("cnt"),
            F.sum("w").cast("long").alias("wm"),
        ),
        family="strat_alloc",
    )
    strata = cen.groupBy("lang", "source").agg(
        F.sum("wm").cast("long").alias("w_mass")
    )
    tot = strata.agg(F.sum("w_mass").cast("long").alias("wtot"))
    alloc0 = (
        strata.crossJoin(broadcast(tot))
        .withColumn("base", F.expr(f"({SRA_K} * w_mass) DIV wtot"))
        .withColumn("rem", F.expr(f"pmod({SRA_K} * w_mass, wtot)"))
    )
    base_sum = alloc0.agg(
        F.sum("base").cast("long").alias("base_sum")
    )
    # single-partition window is BOUNDED: input is the strata census
    # (|lang x source| rows)
    wq = Window.orderBy(
        F.col("rem").desc(), F.col("lang").asc(), F.col("source").asc()
    )
    alloc = (
        alloc0.crossJoin(broadcast(base_sum))
        .withColumn("rnk", F.row_number().over(wq))
        .withColumn(
            "quota",
            (
                F.col("base")
                + F.when(
                    F.col("rnk") <= F.lit(SRA_K) - F.col("base_sum"), 1
                ).otherwise(0)
            ).cast("long"),
        )
        .select("lang", "source", "quota")
    )
    wc = Window.partitionBy("lang", "source").orderBy(F.col("b").desc())
    cutoff = (
        cen.withColumn("run", F.sum("cnt").over(wc))
        .join(broadcast(alloc), ["lang", "source"])
        .where(F.col("run") - F.col("cnt") < F.col("quota"))
        .groupBy("lang", "source")
        .agg(F.min("b").alias("cut_b"))
    )
    # SECOND corpus pass: only rows at or above their stratum's cutoff
    # cell (~quota + one cell's occupancy) reach the top-k window.
    survivors = keyed.join(
        broadcast(cutoff.join(broadcast(alloc), ["lang", "source"])),
        ["lang", "source"],
    ).where(F.col("b") >= F.col("cut_b"))
    wk = Window.partitionBy("lang", "source").orderBy(
        F.col("key").desc(), F.col("doc_id").asc()
    )
    return (
        survivors.withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") <= F.col("quota"))
        .select(
            "lang",
            "source",
            "quota",
            F.col("rn").cast("long").alias("rn"),
            "doc_id",
            F.col("w").cast("long").alias("w"),
        )
        .orderBy("lang", "source", "rn")
    )



# --- dedup_weighted_jaccard, r16 formulation (per-doc weight sums) ---
from abr_etl_spark.plans.llm_pipeline8 import WJ_PAIR_BROADCAST_CAP
from abr_etl_spark.functions import texthash as th

def wj_old(spark: SparkSession, sf_dir: str) -> DataFrame:
    """idf-WEIGHTED Jaccard rescoring of the near-dup pair set: every
    surviving tau-pair gets, beside its plain jaccard, the weighted
    score sum_{common} w(s) / sum_{union} w(s) with the rational
    idf surrogate w(s) = N DIV df(s) (rare shingles weigh ~N, corpus
    boilerplate weighs ~1; no libm). This is the ranking curation
    teams review dup clusters by -- template-heavy pairs (high plain
    jaccard, low weighted) sink below genuinely-copied prose.
    Output (doc_a, doc_b, jaccard, wjaccard_e4), half-up 1e-4 units.

    Scale shape: pairs come from the banded/df-capped candidate
    machinery (shared pair cache with dedup_ngram_jaccard), read WITH
    their verify-step shingle arrays (keep_shingles -- same cache
    entry, no re-shingle); the survivor count rides along from the
    cache's materializing count (zero extra jobs). The idf weights
    come from the candidate machinery's OWN df census (with_census:
    the cap window computes every shingle's df anyway, exposed as a
    materialized vocab-grain table) -- so this key adds ZERO corpus
    passes beyond candidate generation itself, and every frame it
    builds (pair-doc shingles, intersections, weight sums) is
    survivor- or vocab-bounded. The survivor-derived explode frames
    carry an explicit broadcast() hint ONLY while the survivor count
    is <= WJ_PAIR_BROADCAST_CAP; past the cap the hint is omitted and
    AQE sizes the join, so a low-tau template-heavy corpus cannot OOM
    the driver. Weight sums are BIGINT; at extreme corpora (sum w ~
    N * shingles/doc > 2^49) apply the documented DECIMAL(38,0)
    widening before the 2*10000 fold."""
    from abr_etl_spark.operators import dedup
    from abr_etl_spark.plans.llm_pipeline import JACCARD_TAU

    d = load_table(spark, sf_dir, "documents")
    wide, census = dedup.ngram_jaccard_pairs(
        d, threshold=JACCARD_TAU, keep_shingles=True, with_census=True
    )
    n_survivors = getattr(wide, "_abr_result_count", None)
    if n_survivors is None:  # non-materialized pair source
        n_survivors = wide.count()
    pairs = wide.select("doc_a", "doc_b", "jaccard")

    def _hint(df: DataFrame) -> DataFrame:
        return broadcast(df) if n_survivors <= WJ_PAIR_BROADCAST_CAP else df

    # integer idf weights off the cached vocab-grain census
    tot = d.agg(F.count("*").alias("__n"))
    wdf = census.crossJoin(broadcast(tot)).select(
        "s", F.expr("__n DIV df").alias("w")
    )
    # survivor-bounded frames, all read from the cached pair arrays
    pair_docs = (
        wide.select(F.col("doc_a").alias("doc_id"), F.col("sh_a").alias("sh"))
        .unionByName(
            wide.select(
                F.col("doc_b").alias("doc_id"), F.col("sh_b").alias("sh")
            )
        )
        .dropDuplicates(["doc_id"])
    )
    dex = pair_docs.select("doc_id", F.explode("sh").alias("s"))
    per_doc = (
        wdf.join(_hint(dex), "s").groupBy("doc_id").agg(F.sum("w").alias("wsum"))
    )
    com = wide.select(
        "doc_a",
        "doc_b",
        F.explode(F.array_intersect("sh_a", "sh_b")).alias("s"),
    )
    common_w = (
        wdf.join(_hint(com), "s")
        .groupBy("doc_a", "doc_b")
        .agg(F.sum("w").alias("wc"))
    )
    return (
        pairs.join(
            per_doc.select(
                F.col("doc_id").alias("doc_a"), F.col("wsum").alias("wa")
            ),
            "doc_a",
        )
        .join(
            per_doc.select(
                F.col("doc_id").alias("doc_b"), F.col("wsum").alias("wb")
            ),
            "doc_b",
        )
        .join(common_w, ["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            F.expr(
                "(2 * 10000 * wc + (wa + wb - wc))"
                " DIV (2 * (wa + wb - wc))"
            ).alias("wjaccard_e4"),
        )
        .orderBy("doc_a", "doc_b")
    )


# --- minhash_perm_sweep, r16 formulation (array-shipping verify) ---
from pyspark.sql import Window as _W10
from abr_etl_spark.plans.llm_pipeline10 import (
    MH_PERM_GRID, MH_SWEEP_DF_CAP, MH_SWEEP_TAU,
)
from abr_etl_spark.functions.cache import register_cache

def minhash_old(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The permutation-count axis of MinHash sizing (lsh_band_sweep
    fixes K=64 and varies the banding; this varies K): for each k in
    {MH_PERM_GRID}, the mean and max absolute error of the k-perm
    estimate vs exact Jaccard over the tau>=0.5 pair population --
    (k, n_pairs, mean_err_e4, max_err_e4). Error shrinks ~1/sqrt(k);
    THE table an operator reads before paying 128 perms of signature
    width at 100 TB when 32 hold the tau band.

    Cross-engine contract: the dedup production path hashes shingles
    with engine-native xxhash64 (its oracle checks verified OUTPUT
    pairs, hash-free), but this sweep's OUTPUT is signature-level, so
    everything here runs on the oracle-replayable polyhash chain
    (token polyhash -> gram fold -> LCG permutations, texthash.py both
    dialects); ONE 128-perm signature pass, sliced per grid row.

    Scale shape: pair candidates come from a df-capped gram equi-join
    (fan-out <= cap^2 per gram, never all-pairs); gram sets ride ONE
    map-only pass; the 128-perm signature is computed ONLY for docs in
    a tau-SURVIVING pair (exact-jaccard filter first, then a semi-join
    -- survivor-scaled, not corpus-scaled); the per-k expansion
    multiplies the (tiny) verified pair frame by 4, not the corpus."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", F.expr(th.sp_tokens("text")).alias("__tok")
    ).select(
        "doc_id",
        F.expr(
            th.sp_gram_hashes_from_token_hashes(
                th.sp_token_hashes("__tok"), 3
            )
        ).alias("grams"),
    )
    # Registered (family-owned) persists: these are CORPUS-scale frames
    # (every doc's gram array) -- the r16 32-core bench showed unowned
    # persists like these accumulating until execution memory thrashed
    # the very caches in use (minhash_perm_sweep 1.0 -> 11.7 s).
    base = register_cache(base, family="minhash_sweep")
    ex = base.select("doc_id", F.explode("grams").alias("g"))
    w_df = _W10.partitionBy("g")
    kept = ex.withColumn("df", F.count("*").over(w_df)).where(
        F.col("df") <= MH_SWEEP_DF_CAP
    )
    cand = (
        kept.select(F.col("doc_id").alias("doc_a"), "g")
        .join(kept.select(F.col("doc_id").alias("doc_b"), "g"), "g")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    gside = base.select(
        "doc_id", "grams", F.size("grams").alias("n_g")
    )
    pairs_exact = (
        cand.join(
            gside.select(
                F.col("doc_id").alias("doc_a"),
                F.col("grams").alias("g_a"),
                F.col("n_g").alias("n_a"),
            ),
            "doc_a",
        )
        .join(
            gside.select(
                F.col("doc_id").alias("doc_b"),
                F.col("grams").alias("g_b"),
                F.col("n_g").alias("n_b"),
            ),
            "doc_b",
        )
        .withColumn("common", F.size(F.array_intersect("g_a", "g_b")))
        .withColumn(
            "exact_e4",
            F.expr(
                "CAST((2 * 10000 * common + (n_a + n_b - common))"
                " DIV (2 * (n_a + n_b - common)) AS BIGINT)"
            ),
        )
        .where(F.col("exact_e4") >= int(MH_SWEEP_TAU * 10000))
        .select("doc_a", "doc_b", "exact_e4")
    )
    pairs_exact = register_cache(pairs_exact, family="minhash_sweep")
    pair_ids = (
        pairs_exact.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs_exact.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    side = base.join(pair_ids, "doc_id", "left_semi").select(
        "doc_id", F.expr(th.sp_minhash("grams", 128)).alias("sig")
    )
    pairs = pairs_exact.join(
        side.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("s_a")),
        "doc_a",
    ).join(
        side.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("s_b")),
        "doc_b",
    )
    kg = spark.createDataFrame([(k,) for k in MH_PERM_GRID], "k int")
    est = (
        pairs.crossJoin(broadcast(kg))
        .withColumn(
            "m",
            F.expr(
                "aggregate(transform(sequence(1, k), i -> "
                "IF(element_at(s_a, i) = element_at(s_b, i), 1, 0)), "
                "0, (acc, x) -> acc + x)"
            ),
        )
        .withColumn(
            "err",
            F.expr(
                "abs(CAST((2 * 10000 * m + k) DIV (2 * k) AS BIGINT)"
                " - exact_e4)"
            ),
        )
    )
    return (
        est.groupBy("k")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.expr(
                "CAST((2 * sum(err) + count(*)) DIV (2 * count(*))"
                " AS BIGINT)"
            ).alias("mean_err_e4"),
            F.max("err").cast("long").alias("max_err_e4"),
        )
        .orderBy("k")
    )

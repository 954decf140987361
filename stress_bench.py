#!/usr/bin/env python
"""10x-row stress bench for the dedup/similarity family.

The per-round bench (bench.py) runs at sf0.1, where every corpus is
small enough that quadratic blowups and hot-key skew stay invisible.
This harness load-tests the 100 TB *posture* of the candidate-bounded
operators: it clones the sf0.1 documents/embeddings tables into a
COPIES-times corpus of deterministic near-duplicates (each copy
perturbs ~10% of words / adds a small embedding offset, so copy
families are near-dups of each other but not exact), then times

  q41 ngram Jaccard pairs     q42 MinHash-LSH pairs
  q57 dedup components        q73 cluster retention (reuses q57 stage)
  q44 brute-force cosine top5 q45 LSH-ANN top5   q56 IVF-ANN top5
  q65 contamination check

at the base and stressed scale and records per-query ratios in
BENCH_STRESS.json.  Duplicating the corpus multiplies every shingle's
document frequency by COPIES, so shingles that were sub-hot at sf0.1
cross the legacy df_max=128 threshold here - the run asserts the
corpus genuinely has hot shingles, then records BOTH the legacy
valve's sum(df^2) candidate volume and the registered prefix-filter
discovery's sum(prefix_df^2) so the ratio between them documents how
much fan-out the AllPairs prefix order avoids while staying lossless.

Usage: python stress_bench.py   (STRESS_COPIES=10, STRESS_REPEAT=2,
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 overridable via env).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

from pyspark.sql import functions as F

from bench import SparkCounters, run_query, wall
from iceberg_daq_spark.operators import dedup
from iceberg_daq_spark.registry import all_queries
from iceberg_daq_spark.session import get_spark
from iceberg_daq_spark.tables import load

# order matters: q57 before q73 (the retention query reads the stored
# dedup-groups stage a real pipeline would persist - see queries/llm.py)
STRESS_QUERIES = [
    "q41", "q42", "q57", "q73", "q44", "q45", "q56", "q65",
    # curation additions (r8): chunk dedup's hash exchange, the
    # map-only regex battery, and the token-explode joins - all should
    # scale ~linearly in rows
    "q78", "q79", "q81", "q82",
    # r8 wave 2: SemDeDup (cell-bounded matrix scoring + CC), BM25
    # (query-term-bounded), n-gram novelty (inverted-index df join),
    # BPE training (vocab-sized rounds: must scale SUBlinearly - the
    # 10x corpus has nearly the same distinct-word vocabulary)
    "q86", "q84", "q88", "q89",
    # r8 wave 3: IVF-PQ ANN (code-compressed posting lists - should
    # track q56's ratio), per-group NTILE (two-pass range layout:
    # ~linear), int8 quantization audit (map-only HOF: ~linear)
    "q97", "q96", "q98",
    # r8 wave 4: Pareto skyline (reduces to <=1001 rounded-quality
    # rows before the prefix scan - must be ~linear in the scan),
    # hybrid RRF (TakeOrdered-bounded legs: ~linear), PageRank (3
    # join+agg rounds over 10x nodes/edges: ~linear)
    "q107", "q108", "q109",
    # r9: the three newest join/profile shapes.  q117 rides the
    # CELL_MEMBER_MAX valve (10x users per cell -> capped per-cell
    # work: must be ~linear in the scan), q106 the sorted-neighborhood
    # window (n*2W candidates: ~linear), q127 the single-scan
    # profile (Expand-based distincts over 10x rows: ~linear)
    "q117", "q106", "q127",
    # r9 wave 2: the round's new families over the key-shifted clones.
    # q133 BFS rides the valved graph (10x users -> 10x nodes but
    # capped per-cell edges: ~linear frontier work); q136/q138/q142
    # collapse the 10x-user stream to per-user/per-day cells before
    # any window (~linear); q141's ten-moment OLS and q144's digit
    # census are single partial-agg passes over 10x rows (~linear);
    # q137 prorates 10x orders x lines with per-order windows
    # (~linear); q145's lead() window is now SEGMENTED by (type, day)
    # with grid-stitched boundary intervals - the former per-TYPE
    # 5-partition caveat is gone and its ratio must be ~flat
    "q133", "q136", "q138", "q142", "q141", "q144", "q137", "q145",
    # r9 wave 3: the session's new heavy shapes over the clones.
    # q162/q165 pair joins are bounded by basket/brand cardinality
    # (25 brands regardless of rows: ~linear); q187's islands +
    # two-level agg collapses 10x users with one window pass
    # (~linear); q190's token stream and bigram model grow ~linearly
    # (per-type micro-nat scoring is map-side after the broadcast);
    # q191's ABC window runs over the part grain (10x parts but the
    # cloned lineitem references only original partkeys - the
    # reduction, not the fact, sets the cost); q199's LPA rounds are
    # edge-table-sized (<= 25 nodes always: must be flat)
    "q162", "q165", "q187", "q190", "q191", "q199",
    # r10: the size-aware exact-percentile family's giant branch.
    # q214 is timed with GIANT_GROUP_ROWS pinned to 0 (see
    # time_queries) so BOTH base and stress take the distributed
    # two-pass rank selection - the ratio measures how the rank
    # layout itself scales with 10x orders/lineitem (~linear: two
    # range shuffles + scalar offsets, no single-task sort)
    "q214",
    # r10: the session's new iterative/pair shapes over the clones.
    # q226 k-means is a broadcast-8-centroid crossJoin per round over
    # 10x vectors (~linear); q227 Adamic-Adar's pair join is bounded
    # by the per-part occupancy valve - cloned orders reuse the same
    # custkeys/partkeys so occupancy stays ~flat while the scan grows
    # 10x (~linear); q228 naive Bayes re-trains on 10x docs whose
    # perturbed-token vocabulary grows only ~10%/copy, so the weight
    # table must stay ~flat while the token stream grows (~linear)
    "q226", "q227", "q228",
    # r11: substring-dup family (window-hash counts are linear in
    # corpus tokens; q242 additionally pins the window table) and the
    # containment discovery (prefix x FULL postings with the size +
    # positional lossless filters - the one new pair-generating join).
    # q246's ratio is OUTPUT-bound on this corpus by construction: the
    # 10x near-dup copies are mutually containing, so TRUE pairs grow
    # ~copies^2 per family (measured 512 -> 149,963 = 293x verified
    # pairs for a ~2.7x wall ratio) - read its ratio against that
    # denominator, like q44's quadratic-by-definition note.
    "q242", "q243", "q246",
    # r13: the most expensive driver-bench queries previously had no
    # stress cell (round-12 verdict #7).  q230's backtest joins are
    # item-pair bounded (25 brands); q231/q236 are iterative Neumann /
    # removal-effect chains over <=16-row transition matrices (deep
    # plans, metadata-sized state: must be ~FLAT - their wall is
    # scheduler overhead, not data); q239's survivorship rides the
    # SNM-blocked edit-distance discovery (bounded candidates).
    "q230", "q231", "q236", "q239",
    # r13 (optimization round): AdaBoost after the model-state pinning -
    # three combinable contingency passes over 10x rows plus ~61-row
    # pinned cells/1-row model tables (fixed): must be ~linear
    "q237",
    # r13: Kneser-Ney bigram LM - same pinned bigram-type reduction as
    # q190 plus two more model joins; must track q190's ~linear ratio
    "q250",
    # r13 wave 2: the data-mixing battery's scan-heavy members.
    # q254's model is 256 rows BY CONSTRUCTION (hashed features), so
    # only the token scan grows (~linear); q255 is the q190 shape with
    # a per-language model (~linear); q258's sign matrix is 64x16
    # fixed and the pair chain is n-1 rows (~linear in vectors)
    "q254", "q255", "q258",
    # r13 wave 3: the corpus-tuning battery.  q259 pins a fixed
    # ~1000-doc sample via the in-plan doc_id % max(1, n/1000) gate,
    # so 10x rows means a BIGGER stride over the SAME sample size -
    # its ratio must be ~FLAT (the whole point of the calibration
    # design); q260 is a map-only single-scan agg (~linear); q261
    # reduces to one row per source before the waterfill (~linear in
    # the scan, flat after); q262 rides q41's lossless prefix
    # discovery, so read its ratio against q41's (clone families make
    # the verified pair table output-bound, same as q246's note).
    "q259", "q260", "q261", "q262",
    # r13 wave 4: pHash image near-dup.  One 64-bit hash row per image
    # leaves the Arrow-batched map stage; the (chunk, value) band join
    # shuffles hash rows only.  Cloned docs get key-shifted doc_ids,
    # so their pixel patterns (doc_id-seeded) differ from the
    # originals - bucket occupancy stays ~flat while the scan grows
    # 10x (~linear).
    "q263",
    # r13 wave 5: q264 SimHash calibration shares q259's fixed-sample
    # design (doc_id % max(1, n/1000) gate) - ~FLAT expected.
    "q264",
    # r13 wave 6: q265 retrieval eval - probe-term-filtered token
    # stream + broadcast model tables, same posture as q84 (~linear).
    "q265",
    # r14: q204's 1-NN agreement audit - pair volume is sample x
    # corpus (1% fixed-rate sample -> 10x rows = 100x pairs by
    # design); the max_by partial agg keeps the shuffle sample-sized,
    # so the wall must track the pair-fold compute, not a sort of the
    # pair table.  Read the ratio against the 100x pair growth like
    # q44's quadratic note.
    "q204",
]
# superlinear-blowup tripwire: 10x rows may legitimately cost more than
# 10x on the pair-counting queries (pair count itself grows with the
# copy families), but a candidate-bounded plan must stay well under the
# d^2 cliff.  Ratios above this mark the run failed.
MAX_RATIO = 60.0


def build_stress_dir(spark, base_dir: str, out_dir: str, copies: int) -> None:
    """Clone documents/embeddings into a copies-times near-dup corpus;
    symlink every other table unchanged."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    id_off = 10_000_000

    docs = spark.read.parquet(os.path.join(base_dir, "documents.parquet"))
    parts = []
    for c in range(copies):
        if c == 0:
            parts.append(docs)
            continue
        # replace every word at position i with (i + c) % 10 == 0: each
        # copy perturbs a DIFFERENT ~10% slice, so copy-vs-original
        # jaccard stays near the 0.5 near-dup threshold while
        # copy-vs-copy falls below it - pair growth stays ~linear in
        # copies instead of full 45-cliques per family
        w = F.split(F.col("text"), " ")
        perturbed = F.array_join(
            F.transform(
                w,
                lambda x, i: F.when(
                    F.pmod(i + F.lit(c), F.lit(10)) == 0,
                    F.concat(F.lit(f"c{c}w"), i.cast("string")),
                ).otherwise(x),
            ),
            " ",
        )
        parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(c * id_off)).alias("doc_id"),
                perturbed.alias("text"),
                "lang",
                "source",
            ).withColumn("n_chars", F.length("text"))
            .select("doc_id", "text", "lang", "source", "n_chars")
        )
    stress_docs = parts[0]
    for p in parts[1:]:
        stress_docs = stress_docs.unionByName(p)
    stress_docs.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )

    emb = spark.read.parquet(os.path.join(base_dir, "embeddings.parquet"))
    eparts = []
    for c in range(copies):
        if c == 0:
            eparts.append(emb)
            continue
        shifted = F.transform(
            F.col("embedding"),
            lambda x, i: (
                x + F.lit(0.001 * c) + F.pmod(i * F.lit(c), F.lit(5)) * F.lit(2e-4)
            ).cast("float"),
        )
        eparts.append(
            emb.select(
                (F.col("vec_id") + F.lit(c * id_off)).alias("vec_id"),
                shifted.alias("embedding"),
                "label",
            )
        )
    stress_emb = eparts[0]
    for p in eparts[1:]:
        stress_emb = stress_emb.unionByName(p)
    stress_emb.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )

    # events (q117 co-presence valve), part (q106 sorted-neighborhood),
    # lineitem (q127 profile): key-shifted clones so the graph/ER/
    # profile queries see genuinely larger domains, not replayed keys.
    # New user ids per copy grow co-presence cell occupancy x copies -
    # exactly the load the CELL_MEMBER_MAX valve must absorb; part
    # names get a short suffix (blocking token preserved, so blocks
    # grow x copies and the SNM window must keep candidates linear).
    # pin ts to TIMESTAMP (LTZ): a round-trip through the rewrite can
    # otherwise come back TIMESTAMP_NTZ, which the epoch-arithmetic
    # queries (cast to double) reject
    ev = spark.read.parquet(os.path.join(base_dir, "events.parquet")).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    stress_ev = ev
    pt = spark.read.parquet(os.path.join(base_dir, "part.parquet"))
    stress_pt = pt
    li = spark.read.parquet(os.path.join(base_dir, "lineitem.parquet"))
    stress_li = li
    od = spark.read.parquet(os.path.join(base_dir, "orders.parquet")).withColumn(
        "o_orderdate", F.col("o_orderdate").cast("timestamp")
    )
    stress_od = od
    for c in range(1, copies):
        stress_ev = stress_ev.unionByName(
            ev.withColumn("event_id", F.col("event_id") + F.lit(c * id_off))
            .withColumn("user_id", F.col("user_id") + F.lit(c * 1_000_000))
        )
        stress_pt = stress_pt.unionByName(
            pt.withColumn("p_partkey", F.col("p_partkey") + F.lit(c * id_off))
            .withColumn("p_name", F.concat(F.col("p_name"), F.lit(f" v{c}")))
        )
        stress_li = stress_li.unionByName(
            li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(c * id_off))
        )
        # orders clone mirrors lineitem's orderkey offset so the
        # q137 proration join sees 10x REAL order/line families, not
        # orphaned keys
        stress_od = stress_od.unionByName(
            od.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(c * id_off))
        )
    stress_ev.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "events.parquet")
    )
    stress_pt.repartition(8).write.mode("overwrite").parquet(
        os.path.join(out_dir, "part.parquet")
    )
    stress_li.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "lineitem.parquet")
    )
    stress_od.repartition(16).write.mode("overwrite").parquet(
        os.path.join(out_dir, "orders.parquet")
    )

    for entry in os.listdir(base_dir):
        if entry.endswith(".parquet") and entry.split(".")[0] not in (
            "documents",
            "embeddings",
            "events",
            "part",
            "lineitem",
            "orders",
        ):
            os.symlink(
                os.path.join(base_dir, entry), os.path.join(out_dir, entry)
            )


def assert_valve_engages(spark, stress_dir: str, df_max: int = 128) -> dict:
    """The duplicated corpus must push shingle document frequencies
    past df_max so q41's hot-shingle valve has real work: returns the
    df distribution and fails the run if no shingle is hot (the stress
    would not be stressing the valve) or if the hot set somehow leaked
    into pair discovery (discovery index must shrink)."""
    d = load(spark, stress_dir, "documents")
    sh = dedup.shingles(d)
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    row = freq.agg(
        F.count("*").alias("n_shingles"),
        F.max("df").alias("max_df"),
        F.sum(F.when(F.col("df") > df_max, 1).otherwise(0)).alias("hot"),
        F.sum(F.when(F.col("df") > df_max, F.col("df")).otherwise(0)).alias(
            "hot_postings"
        ),
        F.sum("df").alias("postings"),
        F.sum(
            F.when(F.col("df") <= df_max, F.col("df") * F.col("df")).otherwise(0)
        ).alias("pairvol"),
    ).collect()[0]
    assert row["hot"] > 0, "stress corpus produced no hot shingles - not a stress"
    assert row["max_df"] > df_max
    return {
        "df_max": df_max,
        "n_shingles": int(row["n_shingles"]),
        "max_shingle_df": int(row["max_df"]),
        "hot_shingles": int(row["hot"]),
        "postings_total": int(row["postings"]),
        "postings_excluded_from_discovery": int(row["hot_postings"]),
        # sum(df^2) over sub-hot shingles = the LEGACY valve's
        # candidate-pair volume (kept for comparison; the registered
        # q41 no longer pays it).
        "pair_candidate_volume": int(row["pairvol"]),
        # sum(prefix_df^2) = the AllPairs prefix-filter discovery
        # volume the registered q41 actually joins: only each doc's
        # rarest n - ceil(t*n) + 1 shingles post to the index, so
        # boilerplate drops out by construction and the volume is a
        # fraction of df^2 while discovery stays LOSSLESS.
        "prefix_pair_volume": _prefix_pair_volume(spark, stress_dir),
    }


def _prefix_pair_volume(spark, sf_dir: str, threshold: float = 0.5) -> int:
    """sum over shingles of (#docs whose probe prefix contains it)^2 -
    the candidate volume of q41's prefix-filtered discovery."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    sets = dedup.shingle_sets(d)
    sh = sets.select("doc_id", F.explode("sh_set").alias("s")).select(
        "doc_id", F.xxhash64("s").alias("h")
    )
    freq = sh.groupBy("h").agg(F.count("*").alias("df"))
    wdoc = Window.partitionBy("doc_id").orderBy("df", "h")
    wall = Window.partitionBy("doc_id")
    ranked = sh.join(freq, "h").select(
        "doc_id",
        "h",
        F.row_number().over(wdoc).alias("rn"),
        F.count("*").over(wall).alias("n"),
    )
    prefix = ranked.filter(
        F.col("rn") <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
    )
    return int(
        prefix.groupBy("h")
        .agg(F.count("*").alias("pdf"))
        .agg(F.sum(F.col("pdf") * F.col("pdf")).alias("v"))
        .collect()[0]["v"]
    )


def base_pair_volume(spark, base_dir: str, df_max: int = 128) -> int:
    """sum(df^2) over sub-hot shingles at the BASE scale - the
    denominator for reading q41's stress ratio."""
    d = load(spark, base_dir, "documents")
    sh = dedup.shingles(d)
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    return int(
        freq.agg(
            F.sum(
                F.when(F.col("df") <= df_max, F.col("df") * F.col("df")).otherwise(0)
            ).alias("v")
        ).collect()[0]["v"]
    )


def time_queries(spark, counters, specs, names, sf_dir, repeat):
    """name -> the ``run_query`` record of its fastest repeat on
    ``sf_dir``."""
    import gc

    from iceberg_daq_spark.operators import ranking
    from iceberg_daq_spark.queries import llm

    out = {}
    for name in names:
        fn = specs[name].fn
        # the percentile-family entry measures the GIANT branch: pin
        # the switch threshold so the distributed rank selection runs
        # at both scales (the small branch is plain F.percentile -
        # nothing to stress)
        saved_thr = ranking.GIANT_GROUP_ROWS
        if name.startswith("q214"):
            ranking.GIANT_GROUP_ROWS = 0
        runs = []
        for _ in range(repeat):
            if name.startswith("q57"):
                # same honesty rule as bench.py: every q57 repeat times
                # the FULL pair+closure stage; q73 (after it) reuses
                # the stage the last repeat left - the stored-table
                # pipeline shape
                llm._DEDUP_GROUPS_CACHE.clear()
            runs.append(run_query(spark, counters, lambda: fn(spark, sf_dir)))
            # reclaim the run's shuffle/broadcast/checkpoint debris
            # BETWEEN repeats, not just between queries: the
            # ContextCleaner only frees blocks after a GC, and the
            # heavy pair-join queries otherwise time their second
            # repeat under the first repeat's dead 30M-row shuffle
            # (measured: q41 at 10x reads 8-13s post-GC vs 33-50s
            # under debris - the cost being measured must be the
            # query's, not the allocator's)
            gc.collect()
            spark.sparkContext._jvm.System.gc()
        ranking.GIANT_GROUP_ROWS = saved_thr
        out[name] = min(runs, key=wall)
        print(f"# {sf_dir.rsplit('/', 1)[-1]} {name}: {wall(out[name]):.3f}s", file=sys.stderr)
        if name.startswith("q57"):
            # measurement-artifact separation (round-10 verdict #3):
            # the rebuild-every-repeat number above charges q57 the
            # full pair-discovery + closure stage each time; a real
            # pipeline builds that stage once and every consumer reads
            # the stored groups table.  Record that consumer-read cost
            # too, so the stress ratio of the ALGORITHM (stage build)
            # and of the PIPELINE SHAPE (stage reuse) are both visible.
            reused = run_query(spark, counters, lambda: fn(spark, sf_dir))
            out[name + "__stage_reused"] = reused
            print(
                f"# {sf_dir.rsplit('/', 1)[-1]} {name} (stage reused): "
                f"{wall(reused):.3f}s",
                file=sys.stderr,
            )
    return out


# Cells whose ratio is NOT a plan-quality signal, recorded as such in
# the artifact itself (round-12 verdict: by-design labels belong in
# the JSON, not commit prose).  These are never gated and never
# re-estimated by the controlled loop.
BY_DESIGN = {
    "q44_sim_topk_cosine": (
        "exact all-pairs cosine baseline: quadratic by definition - the "
        "calibration twin the ANN family (q45/q56/q97) is measured "
        "against; the ANN paths are the 100 TB shape"
    ),
    "q57_dedup_components__stage_reused": (
        "diagnostic consumer-read of the already-built dedup-groups "
        "stage (pipeline shape, not a query plan); never gated"
    ),
}

# ANN cross-queries (every vector queries the index): with the
# sqrt-scaled nlist/banding the TOTAL candidate work grows ~n^1.5
# (per-query candidates ~ sqrt(n) - the standard faiss tradeoff), so
# 10x rows is ~31.6x flops by geometry; a low single-digit wall ratio
# means the cell rides fixed overhead + BLAS throughput, not a plan
# regression.  Recorded per cell so the artifact carries its own
# denominator.
ANN_GEOMETRY = {
    "q45_sim_ann_lsh",
    "q56_sim_ann_ivf",
    "q97_sim_ann_pq",
}
ANN_GEOMETRY_NOTE = (
    "all-queries ANN top-k: total work ~n^1.5 with sqrt-scaled "
    "cells/bands (per-query candidates ~sqrt(n)); 10x rows = ~31.6x "
    "flops by geometry, so the wall ratio is overhead/BLAS-bound"
)

# Cells whose TRUE OUTPUT grows superlinearly on this corpus by
# construction (the 10x near-dup clone families are mutually matching
# /containing), so rows-scaled wall ratios carry the wrong
# denominator.  Every cell records rows_base/rows_stress/rows_growth -
# the timed runs' peak_rows, the most rows any plan node output - and
# these cells add ratio_per_output = ratio / rows_growth, the
# per-output-row scaling.  A cell whose wall ratio is at or below its
# rows growth is sublinear in the work it was asked to produce, and
# only these cells can be excused from MAX_RATIO by that growth.
OUTPUT_BOUND = {
    "q239_survivorship": (
        "output-bound: the ' v{c}' clone suffixes are mutually within "
        "edit distance 2, so TRUE match pairs grow ~copies^2 per "
        "family; the match-pair table is the cell's largest plan "
        "node, so rows_growth counts exactly those pairs; the closure "
        "stays on the numpy driver branch at stress scale since the "
        "memory-sized CC_DRIVER_EDGE_MAX raise"
    ),
    "q246_containment_pairs": (
        "output-bound: clone families are mutually containing, so "
        "TRUE verified pairs grow ~copies^2 per family; rows_growth "
        "reads the prefix-candidate join that feeds verification (the "
        "cell's largest plan node), and the wall ratio rides that "
        "output"
    ),
    "q65_contamination_check": (
        "output-bound: clone ids preserve doc_id % 10 (base + "
        "c*10,000,000), so a family stays wholly eval- or train-side; "
        "the growth comes from CROSS-family products - every "
        "(eval original, train original) pair that already shared "
        ">= 5 shingles expands to ~copies x copies near-dup clone "
        "pairs that still share them (rows_growth reads the "
        "largest plan node of the cell's runs); the >= 5-shared gate "
        "must see every shared shingle to stay exact, so the join "
        "fanout rides that growth"
    ),
    "q204_knn_label_agreement": (
        "pair-growth-bound: the audit scores a FIXED-RATE 1% query "
        "sample against the whole corpus, so 10x rows is 100x scored "
        "pairs, which follows from n by arithmetic (sample x "
        "(corpus-1)); the broadcast nested-loop join that forms the "
        "pairs outputs exactly that many rows, so rows_growth reads "
        "the 100x.  The dot-product fold runs per pair inside the "
        "projection over that join and the max_by partial agg keeps "
        "the shuffle sample-sized, so the wall must track the pair "
        "fold - read the ratio against rows_growth"
    ),
    "q250_kneser_ney_bigram": (
        "model-growth-bound: the growth-driving quantity is the "
        "bigram-TYPE vocabulary (the KN model tables big/ctx/"
        "cont that broadcast onto every scored row and whose build is "
        "the cell's superlinear term).  The c{c}w{i} perturbation "
        "tokens each clone copy injects mint NEW types at every "
        "perturbed position, so the synthetic corpus grows bigram "
        "vocabulary far faster than Heaps's law would on real text.  "
        "rows_growth reads the cell's largest plan node, the token "
        "stream (~10x), which bounds that vocabulary's growth"
    ),
}


# screen ratio above which a cell is re-measured with the controlled
# warm-JIT paired loop before being recorded (kept slightly under the
# 2.5x review threshold so borderline cells get adjudicated too)
CONTROLLED_TRIGGER = 2.4
CONTROLLED_PASSES = 5


def stress_cell(pairs: list[list[dict]], estimator: str, cpus: int) -> dict:
    """One query's cell from its [base, stress] ``run_query`` pairs,
    each pair timed back-to-back in one time window.  The ratio is the
    MIN over pairs of that pair's stress/base quotient: a steal burst
    inflates both sides of a pair together, so the quotient stays
    meaningful, while min-of-absolutes across pairs would re-decouple
    them (the shorter base cells land fully inside quiet gaps more
    often, biasing every ratio upward).  The exact per-pair
    [base_sec, stress_sec] are kept so a consumer can re-derive the
    ratio; rows_* are the peak plan-node rows at each scale.  ``cpus``
    (the timing session's defaultParallelism) names the host: a
    STRESS_ONLY re-measure merges its cells beside earlier ones."""
    secs = [[round(wall(b), 3), round(wall(s), 3)] for b, s in pairs]
    ratios = [s / max(b, 1e-9) for b, s in secs]
    rows_base = max(b["peak_rows"] for b, _ in pairs)
    rows_stress = max(s["peak_rows"] for _, s in pairs)
    return {
        "base_sec": min(b for b, _ in secs),
        "stress_sec": min(s for _, s in secs),
        "ratio": round(min(ratios), 2),
        "estimator": estimator,
        "pass_pairs": secs,
        "ratio_pass": ratios.index(min(ratios)),
        "rows_base": rows_base,
        "rows_stress": rows_stress,
        "rows_growth": round(rows_stress / max(rows_base, 1), 2),
        "cpus": cpus,
    }


def superlinear(queries: dict) -> list[str]:
    """The cells whose ratio exceeds MAX_RATIO and so fail the run.
    BY_DESIGN cells are never gated (q44 is ~copies^2 by declaration:
    a larger STRESS_COPIES would trip MAX_RATIO on a cell the harness
    itself says is not a plan signal), and only an OUTPUT_BOUND cell
    is excused by a ratio at or below its rows_growth."""
    return [
        n
        for n, cell in queries.items()
        if cell["ratio"] > MAX_RATIO
        and n not in BY_DESIGN
        and not (n in OUTPUT_BOUND and cell["ratio"] <= cell["rows_growth"])
    ]


def main() -> None:
    base_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    copies = int(os.environ.get("STRESS_COPIES", "10"))
    repeat = max(1, int(os.environ.get("STRESS_REPEAT", "2")))
    stress_dir = os.environ.get("STRESS_DIR", "/tmp/stress_sf1")

    spark = get_spark(app_name="iceberg_daq_stress")
    specs = all_queries()
    prefixes = STRESS_QUERIES
    only = os.environ.get("STRESS_ONLY")
    if only:  # debugging aid: comma-separated query prefixes
        keep = {p.strip() for p in only.split(",")}
        prefixes = [p for p in prefixes if p in keep]
    names = [
        next(n for n in sorted(specs) if n.startswith(prefix))
        for prefix in prefixes
    ]

    t0 = time.perf_counter()
    if os.environ.get("STRESS_REUSE") and os.path.isdir(stress_dir):
        print(f"# reusing existing stress corpus at {stress_dir}", file=sys.stderr)
    else:
        build_stress_dir(spark, base_dir, stress_dir, copies)
    build_sec = round(time.perf_counter() - t0, 1)
    n_docs = spark.read.parquet(os.path.join(stress_dir, "documents.parquet")).count()
    n_vecs = spark.read.parquet(os.path.join(stress_dir, "embeddings.parquet")).count()
    print(f"# stress corpus: {n_docs} docs, {n_vecs} vecs ({build_sec}s)", file=sys.stderr)

    valve = assert_valve_engages(spark, stress_dir)
    base_pv = base_pair_volume(spark, base_dir)
    valve["pair_candidate_volume_base"] = base_pv
    valve["pair_volume_growth"] = round(
        valve["pair_candidate_volume"] / max(base_pv, 1), 2
    )
    base_ppv = _prefix_pair_volume(spark, base_dir)
    valve["prefix_pair_volume_base"] = base_ppv
    valve["prefix_volume_growth"] = round(
        valve["prefix_pair_volume"] / max(base_ppv, 1), 2
    )
    print(f"# valve: {valve}", file=sys.stderr)

    # Interleave each query's base and stress cells BACK-TO-BACK and
    # keep per-cell minimums across passes.  This host shares CPUs
    # with other tenants whose load arrives in multi-minute bursts:
    # contiguous per-dir passes let a burst tax one dir's cells 2-3x
    # (measured: an untouched query's stress cell tripled run-over-
    # run), and min-of-passes alone BIASES ratios upward - the shorter
    # base cells land fully inside quiet gaps more often than the
    # longer stress cells.  With the pair timed in the same ~minute
    # window a burst inflates numerator and denominator together, so
    # the RATIO stays meaningful even when absolutes wobble.
    # q57+q73 stay grouped per dir (q73 reads the dedup-groups stage
    # the preceding q57 run of the SAME dir left behind).
    passes = max(1, int(os.environ.get("STRESS_PASSES", "2")))
    groups: list[list[str]] = []
    i = 0
    while i < len(names):
        if names[i].startswith("q57") and i + 1 < len(names) and names[
            i + 1
        ].startswith("q73"):
            groups.append([names[i], names[i + 1]])
            i += 2
        else:
            groups.append([names[i]])
            i += 1
    counters = SparkCounters(spark)
    cpus = spark.sparkContext.defaultParallelism
    base_passes: list[dict] = []
    stress_passes: list[dict] = []
    for p in range(passes):
        print(f"# pass {p + 1}/{passes}", file=sys.stderr)
        bp: dict = {}
        sp: dict = {}
        for grp in groups:
            for acc, d in ((bp, base_dir), (sp, stress_dir)):
                acc.update(time_queries(spark, counters, specs, grp, d, repeat))
        base_passes.append(bp)
        stress_passes.append(sp)
    queries = {
        n: stress_cell(
            [[bp[n], sp[n]] for bp, sp in zip(base_passes, stress_passes)],
            f"screen-{passes}x-paired",
            cpus,
        )
        for n in sorted(base_passes[0])
    }

    # Controlled re-measure (round-12 verdict #2): cells whose screen
    # ratio clears CONTROLLED_TRIGGER get the warm-JIT paired loop -
    # CONTROLLED_PASSES additional base/stress pairs, each pair timed
    # back-to-back with GC between - and THAT becomes the recorded
    # estimator.  The screen passes interleave 50+ cells over ~an
    # hour, so a multi-minute steal burst can still land on one pass
    # of one pair; the controlled loop compresses a cell's entire
    # measurement into a few minutes of warmed JIT.  Never applied to
    # by-design cells or the supplementary __stage_reused diagnostics.
    offenders = [
        n
        for n in names
        if queries[n]["ratio"] > CONTROLLED_TRIGGER and n not in BY_DESIGN
    ]
    for n in offenders:
        print(f"# controlled re-measure: {n}", file=sys.stderr)
        cpairs = [
            [time_queries(spark, counters, specs, [n], d, 1)[n] for d in (base_dir, stress_dir)]
            for _ in range(CONTROLLED_PASSES)
        ]
        queries[n] = {
            **stress_cell(
                cpairs, f"controlled-{CONTROLLED_PASSES}x-paired-warm", cpus
            ),
            "screen_ratio": queries[n]["ratio"],
        }
        print(
            f"# {n}: screen {queries[n]['screen_ratio']} -> controlled "
            f"{queries[n]['ratio']}",
            file=sys.stderr,
        )

    for n, cell in queries.items():
        if n in BY_DESIGN:
            cell["by_design"] = BY_DESIGN[n]
        if n in ANN_GEOMETRY:
            cell["geometry_note"] = ANN_GEOMETRY_NOTE
        if n in OUTPUT_BOUND:
            cell["output_bound_note"] = OUTPUT_BOUND[n]
            cell["ratio_per_output"] = round(
                cell["ratio"] / max(cell["rows_growth"], 1e-9), 4
            )
            if cell["ratio"] <= cell["rows_growth"]:
                cell["gate"] = (
                    "output-normalized: wall ratio <= measured peak-rows "
                    "growth (sublinear per output row)"
                )
        # a ratio's denominator is only meaningful when the base cell
        # is compute-bound: below ~0.5 s the base is mostly scheduler /
        # job fixed overhead, so a healthy linear operator can show a
        # 4-6x "ratio" on sub-2s absolutes (q73's consumer read).  Tag
        # those cells so the artifact itself carries the caveat.
        if cell["base_sec"] < 0.5:
            cell["overhead_bound_base"] = True
    failed = superlinear(queries)

    out = {
        "metric": "dedup_similarity_stress_suite",
        # derive the headline from the FINAL per-cell stress times -
        # the controlled re-measure loop replaces stress_sec for
        # flagged cells, and summing the stale screen times here left
        # the committed artifact internally inconsistent (headline !=
        # sum of its own cells)
        "value": round(sum(c["stress_sec"] for c in queries.values()), 3),
        "unit": "sec",
        "sf": 0.1,
        "rows_factor": copies,
        "n_docs": n_docs,
        "n_vecs": n_vecs,
        "aqe": {
            "enabled": spark.conf.get("spark.sql.adaptive.enabled"),
            "skew_join": spark.conf.get("spark.sql.adaptive.skewJoin.enabled"),
        },
        "valve": valve,
        "queries": queries,
        "note": (
            "TWO-STAGE ESTIMATOR: stage 1 screens every cell "
            "best-of-%d over %d interleaved passes; any cell whose "
            "screen ratio exceeds 2.4 (and is not by_design) is then "
            "RE-MEASURED with the controlled warm-JIT paired loop - 5 "
            "back-to-back base/stress pairs with GC between - and the "
            "controlled numbers replace the screen numbers (the "
            "screen_ratio field preserves stage 1; the estimator "
            "field names which stage a cell's numbers came from). "
            "Each cell's exact per-pass [base_sec, stress_sec] pairs "
            "are in pass_pairs and ratio_pass is the winning index, "
            "so ratio is always reproducible as "
            "pass_pairs[ratio_pass][1]/pass_pairs[ratio_pass][0]; "
            "base_sec/stress_sec are per-cell minimums and may come "
            "from different passes, so ratio != stress_sec/base_sec "
            "in general. Paired-quotient rationale: the two cells of "
            "a pass run back-to-back in one time window, so "
            "shared-host steal bursts - which run minutes long here - "
            "inflate both sides together and cancel in the quotient; "
            "min-of-absolute cells would re-decouple them and bias "
            "ratios up; cache cleared between executions; q57 "
            "additionally rebuilds the shared stage every repeat); q73 "
            "reuses q57's dedup-groups stage within each dir (the "
            "stored-table pipeline shape); ratios are stress/base "
            "wall-clock at %dx rows. Pair-discovery queries (q41, q57) "
            "now run AllPairs prefix-filtered discovery (lossless): "
            "candidate volume is sum(prefix_df^2), a fraction of the "
            "legacy valve's sum(df^2) (valve.prefix_pair_volume vs "
            "pair_candidate_volume; prefix_volume_growth is the honest "
            "denominator for q41/q57 ratios). The LSH-ANN path is "
            "bounded by the LSH_BUCKET_MAX occupancy valve and the "
            "MinHash band join by MINHASH_BUCKET_MAX; q57's closure "
            "runs the raw-pair driver union-find below "
            "CC_DRIVER_EDGE_MAX (Arrow both ways, no edge shuffle). "
            "q57__stage_reused is the consumer-read cost of the "
            "already-built stage (never gated: pipeline shape, not "
            "algorithm). Every cell records rows_base/rows_stress/"
            "rows_growth: the most rows any plan node output in the "
            "cell's timed runs at each scale, read from Spark's SQL "
            "metrics, and cpus, the defaultParallelism of the session "
            "that timed it (a STRESS_ONLY re-measure merges its cells "
            "beside earlier ones). OUTPUT-BOUND CELLS "
            "(output_bound_note present) additionally record ratio_per_output = ratio / "
            "rows_growth; on this clone-family corpus their true "
            "output grows superlinearly, so the wall ratio must be "
            "read against rows_growth, and a cell with ratio <= "
            "rows_growth is sublinear per output row (gate field "
            "says so explicitly)."
            % (repeat, passes, copies)
        ),
    }
    repo = os.path.dirname(os.path.abspath(__file__))
    artifact = os.path.join(repo, "BENCH_STRESS.json")
    if only and os.path.exists(artifact):
        # targeted re-measure: merge the re-timed cells into the full
        # artifact of record instead of replacing it (static note
        # fields refresh alongside), and re-derive the suite total
        prev = json.load(open(artifact))
        merged = dict(prev.get("queries", {}))
        merged.update(queries)
        for n, note in OUTPUT_BOUND.items():
            if n in merged:
                merged[n]["output_bound_note"] = note
        out["queries"] = merged
        out["value"] = round(
            sum(c["stress_sec"] for c in merged.values()), 3
        )
        out["valve"] = prev.get("valve", out["valve"])
    with open(artifact, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    print(json.dumps(out, separators=(",", ":")))
    if failed:
        print(f"# SUPERLINEAR: {failed} exceeded {MAX_RATIO}x", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()

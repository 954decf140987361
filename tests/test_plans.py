"""Physical-plan assertions: the scale contract (SURVEY section 4).

Not timing tests - structural checks that the plans Catalyst produces
are the ones that survive 100x scale-up: filters reach the parquet
scan, projections prune columns, dims broadcast, top-k avoids global
sort, and the interval join is an equi join (not a nested loop).

``test_plan_shape`` pins the operator multiset of every registered
query to the committed snapshot (``tests/plan_shape.py``), so which
joins, exchanges, windows and scans a query plans is checked there.
The other tests assert what a node count cannot: pushed and partition
filters, partitioning keys, operator order, expression tokens, and the
plans of operators and conf settings outside the registry.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from iceberg_daq_spark.queries.aggregates import q12
from iceberg_daq_spark.queries.scans import q01
from iceberg_daq_spark.registry import all_queries
from tests.plan_shape import check_snapshot, load_snapshot, plan_of, plan_shape, shape_of

SNAPSHOT = load_snapshot()


@pytest.mark.parametrize("name", sorted(all_queries()))
def test_plan_shape(spark, sf_dir, name):
    """Regenerate with ``python -m tests.plan_shape`` after an intended
    plan change; the JSON diff shows which operators moved."""
    assert plan_shape(spark, sf_dir, name) == SNAPSHOT.get(name)


def test_snapshot_covers_registry_without_cartesian():
    check_snapshot(SNAPSHOT, all_queries())


def test_shape_counts_nodes_and_invariant_rejects_cartesian(spark, sf_dir):
    from iceberg_daq_spark.tables import load

    assert shape_of(plan_of(load(spark, sf_dir, "region")))["Scan parquet"] == 1
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cart = shape_of(plan_of(spark.range(3).crossJoin(spark.range(4))))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert cart["CartesianProduct"] == 1
    with pytest.raises(ValueError, match="CartesianProduct"):
        check_snapshot({**SNAPSHOT, "q04_broadcast_join": cart}, all_queries())


def test_q01_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(q01(spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "l_quantity" in plan.split("PushedFilters")[1].split("]")[0]
    # projection pruned to the 5 selected columns at the scan
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_comment" not in read_schema and "l_tax" not in read_schema


def test_q12_partial_aggregation(spark, sf_dir):
    """Sum/avg must plan as partial (map-side) + final hash aggregate."""
    plan = plan_of(q12(spark, sf_dir))
    assert "partial_sum" in plan or "Partial" in plan


def test_wholestage_codegen_everywhere(spark, sf_dir):
    """The hot path stays inside whole-stage codegen (AQE off so the
    final plan with codegen spans is visible pre-execution)."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(q12(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # formatted explain marks codegen'd operators with a leading '*'
    assert "* HashAggregate" in plan and "* ColumnarToRow" in plan


def test_q59_join_keys_are_salted(spark, sf_dir):
    """The salted join must actually join on (key, _salt) - otherwise
    it silently degenerates to a plain join and the skew spread is
    lost."""
    from iceberg_daq_spark.operators.skew import salted_join
    from iceberg_daq_spark.tables import load

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"), "l_extendedprice"
    )
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_nationkey"
    )
    plan = plan_of(salted_join(li, s, ["suppkey"]))
    assert "_salt" in plan
    assert "CartesianProduct" not in plan


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """Co-located joins via bucketing (the 100 TB repeated-join layout):
    two tables bucketed 8-ways on the join key must sort-merge join with
    ZERO Exchange in the plan - the shuffle happened once at write time,
    every later join rides it."""
    from iceberg_daq_spark.tables import load

    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    try:
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
            "overwrite"
        ).saveAsTable("t_li_bucketed")
        o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
            "overwrite"
        ).saveAsTable("t_o_bucketed")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table("t_li_bucketed").join(
                spark.table("t_o_bucketed"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            plan = plan_of(j)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join still shuffles"
    finally:
        spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_o_bucketed")


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hidden-partitioning analog (SURVEY section 1.3): a table written
    partitionBy(event_type) must serve an event_type filter via
    PartitionFilters (directory pruning), with the predicate absent
    from the data filters - the scan never opens non-matching files."""
    from iceberg_daq_spark.tables import load

    out = str(tmp_path / "events_by_type")
    load(spark, sf_dir, "events").write.partitionBy("event_type").parquet(out)
    scan = spark.read.parquet(out).filter(F.col("event_type") == "error")
    plan = plan_of(scan)
    assert "PartitionFilters: [isnotnull(event_type" in plan.replace("#", "")[:10**6]
    # count proves pruning produced only the one partition's rows
    expect = load(spark, sf_dir, "events").filter(F.col("event_type") == "error").count()
    assert scan.count() == expect


def test_q41_shingles_single_split(spark, sf_dir):
    """The shingle expression must reference split(text) a constant
    number of times (the slice-zip form), not once per element - the
    per-element form is O(words^2) per document."""
    from iceberg_daq_spark.operators.dedup import shingles
    from iceberg_daq_spark.tables import load

    # a cached shingle subtree (dedup pipelines .cache() it) renders as
    # InMemoryRelation whose plan string repeats the expression
    spark.catalog.clearCache()
    d = load(spark, sf_dir, "documents")
    plan = plan_of(shingles(d))
    # one split per slice (k=3) in the zipped form; the element_at
    # lambda form inlines split() per generated element instead
    assert plan.count("split(") <= 8, "shingle expr re-expands split(text)"


def test_etl_manifest_scan_prunes_content(spark, sf_dir, tmp_path):
    """A7: the dropbox manifest read must prune the binaryFile content
    column at the source - the scan schema carries only path/length/
    modificationTime, so no file bytes are ever read for the manifest."""
    from iceberg_daq_spark.etl import build_dropbox, scan_dropbox

    d = str(tmp_path / "dropbox")
    build_dropbox(spark, sf_dir, d)
    plan = plan_of(scan_dropbox(spark, d))
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "content" not in read_schema
    assert "path" in read_schema and "modificationTime" in read_schema


def test_similarity_score_pairs_is_hash_join(spark, sf_dir):
    """ANN candidate scoring joins vectors back from the embeddings
    table by id: the plan must be hash equi-joins (never a broadcast
    nested loop / Cartesian) and must not collect the table anywhere
    (structurally: the scoring input is the scan itself)."""
    from iceberg_daq_spark.operators import similarity
    from iceberg_daq_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    pairs = emb.select(F.col("vec_id").alias("qid")).crossJoin(
        emb.select(F.col("vec_id").alias("cid"))
    ).limit(100)
    plan = plan_of(similarity._score_pairs(pairs.localCheckpoint(), emb))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Scan parquet") >= 2  # both vector sides from the table


def test_ivf_posting_layout_prunes_partitions(spark, sf_dir, tmp_path):
    """The IVF scale path: the index build (ivf_assign) partitions the
    table by cell, and an nprobe read must serve via PartitionFilters -
    probing is directory pruning, not a shuffle (SURVEY: 'posting lists
    are the partition layout')."""
    from iceberg_daq_spark.operators.similarity import ivf_assign
    from iceberg_daq_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    out = str(tmp_path / "emb_by_cell")
    emb.join(ivf_assign(emb), "vec_id").write.partitionBy("cell").parquet(out)
    probe = spark.read.parquet(out).filter(F.col("cell").isin([0, 3, 7]))
    plan = plan_of(probe)
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1].split("]")[0]
    # pruning is value-correct: the probed cells' rows, nothing else
    cells = {r["cell"] for r in probe.select("cell").distinct().collect()}
    assert cells <= {0, 3, 7} and probe.count() > 0


def test_q69_single_wide_stage_before_agg(spark, sf_dir):
    """Sequence packing: ONE hash shuffle (per-language window) feeds
    the bin aggregation map-side - partial+final agg with no extra
    exchange between window and aggregate."""
    from iceberg_daq_spark.queries.llm import q69

    plan = plan_of(q69(spark, sf_dir))
    assert "partial_count" in plan


def test_q71_partial_agg_before_window(spark, sf_dir):
    """Repetition score: the exploded word stream must hit a partial
    count aggregate BEFORE the per-doc row_number window - the window
    only ever sees (doc, word, count) rows."""
    from iceberg_daq_spark.queries.llm import q71

    plan = plan_of(q71(spark, sf_dir))
    # tree prints parent-first: Window, then (deeper) the partial
    # aggregate, then the Generate(explode) it consumes
    tree = plan.split("\n\n")[0]
    assert tree.index("Window") < tree.index("HashAggregate") < tree.index(
        "Generate"
    ), tree
    assert "partial_count" in plan


def test_dedup_shingle_joins_keep_aqe_skew_applicable(spark, sf_dir):
    """The 100 TB skew story for the dedup family is two-layered: the
    AllPairs prefix order bounds hot-shingle blowup algorithmically
    (boilerplate never posts to the discovery index), and AQE
    skew-join splits any residual skewed partition at runtime.  The
    second layer only engages when the shingle self-join shuffles via
    ENSURE_REQUIREMENTS - a manual repartition() on the join key would
    mark the exchange REPARTITION_BY_COL and exclude it from skew
    splitting.  Assert the session flags are on and the q41/q42 plans
    keep the join exchanges AQE-owned (no user-forced shuffle origin)."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    specs = all_queries()
    spark.catalog.clearCache()
    for name in ("q41_dedup_ngram_jaccard", "q42_dedup_minhash_lsh"):
        plan = plan_of(specs[name].fn(spark, sf_dir))
        assert "AdaptiveSparkPlan" in plan, f"{name}: AQE not planning the query"
        tree = plan.split("\n\n")[0]
        # user-forced shuffle origins (repartition/rebalance hints) on
        # the candidate-join path would defeat skew splitting
        assert "REPARTITION_BY_COL" not in tree, f"{name}: manual repartition"
        assert "REPARTITION_BY_NUM" not in tree, f"{name}: manual repartition"
        # the candidate join itself is an equi-join (skew-splittable),
        # never a nested-loop/cartesian
        assert "CartesianProduct" not in tree and "BroadcastNestedLoop" not in tree


def test_q72_window_group_limit_partial(spark, sf_dir):
    """Per-source cap: the rank<=K filter must plan as WindowGroupLimit
    with a PARTIAL pass below the shuffle and FINAL above it - each map
    task forwards at most K rows per source, so a hot domain never
    ships its full row set to one reducer."""
    plan = plan_of(all_queries()["q72_source_cap"].fn(spark, sf_dir))
    i_partial = plan.index("row_number(), 50, Partial")
    i_final = plan.index("row_number(), 50, Final")
    # details print in execution order: Partial feeds an Exchange which
    # feeds Final
    i_exchange = plan.index(") Exchange", i_partial)
    assert i_partial < i_exchange < i_final, plan


def test_bucketed_join_no_exchange(spark, sf_dir):
    """Co-located join layout: lineitem and orders bucketed on their
    join keys with the same bucket count must SortMergeJoin with NO
    Exchange on either side - the bucket files are the pre-computed
    shuffle, so every recurring join on the key is exchange-free."""
    from iceberg_daq_spark.tables import load, write_bucketed

    import shutil as _shutil

    for name in ("li_bucketed_t", "ord_bucketed_t"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        _shutil.rmtree(f"spark-warehouse/{name}", ignore_errors=True)
    write_bucketed(
        load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity"),
        "li_bucketed_t", "l_orderkey", n_buckets=8,
    )
    write_bucketed(
        load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
        "ord_bucketed_t", "o_orderkey", n_buckets=8,
    )
    # small fixture tables would broadcast; force the large-large path
    # the layout exists for (broadcast is the right plan when one side
    # is genuinely small - this test models both sides big)
    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        joined = (
            spark.table("li_bucketed_t")
            .join(
                spark.table("ord_bucketed_t"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderkey")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        plan = plan_of(joined)
        tree = plan.split("\n\n")[0]
        join_part = tree[: tree.index("SortMergeJoin")] if "SortMergeJoin" in tree else tree
        assert "SortMergeJoin" in tree, tree
        # no shuffle above the join inputs: the only allowed Exchange is
        # the post-join aggregation one, which reuses the bucket
        # partitioning and so should not exist either
        assert "Exchange" not in tree, tree
        # result sanity: one group per order that has lineitems
        n = joined.count()
        expect = (
            spark.table("li_bucketed_t").select("l_orderkey").distinct().count()
        )
        assert n == expect
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        for name in ("li_bucketed_t", "ord_bucketed_t"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_lsh_valve_is_broadcast_anti(spark, sf_dir):
    """The LSH bucket-occupancy valve must cost the bucket rows no
    shuffle: the over-full-cell exclusion plans as a BROADCAST
    left-anti join (the hot-cell list is tiny by construction), never
    a shuffled join of the full bucket table."""
    from iceberg_daq_spark.operators import similarity
    from iceberg_daq_spark.tables import load as _load

    e = _load(spark, sf_dir, "embeddings")
    plan = plan_of(similarity._candidate_pairs(e, symmetric=False))
    anti = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    assert anti, "valve anti-join missing from the plan"
    assert any("Broadcast" in ln for ln in anti), anti


def test_q78_chunking_single_dedup_shuffle(spark, sf_dir):
    """Chunk generation must be map-only (no exchange below the first
    Window) and the chunk-level dedup must reuse ONE hash exchange on
    chunk_hash for both window passes (n_dups count + keep rank); the
    only other exchange allowed is the final deterministic orderBy's
    range partition.  Column pruning must reach the scan: only doc_id
    and text are read."""
    df = all_queries()["q78_doc_chunking"].fn(spark, sf_dir)
    plan = plan_of(df)
    # scan reads exactly the two needed columns
    assert "doc_id" in plan and "text:string" in plan
    assert "n_chars" not in plan
    # exactly two exchanges: hashpartitioning(chunk_hash) + the final
    # orderBy's rangepartitioning
    ex = [ln for ln in plan.splitlines() if "Arguments: hashpartitioning" in ln or "Arguments: rangepartitioning" in ln]
    assert len(ex) == 2, plan
    assert sum("hashpartitioning(chunk_hash" in ln for ln in ex) == 1, ex
    assert sum("rangepartitioning" in ln for ln in ex) == 1, ex


def test_q79_redaction_map_only(spark, sf_dir):
    """PII scrub is a pure map: no exchange anywhere below the
    presentation sort - the redaction pass streams at scan speed."""
    from iceberg_daq_spark.queries.curation import q79

    plan = plan_of(q79(spark, sf_dir))
    body = plan.split("Sort")[0] if "Sort" in plan else plan
    assert "Exchange" not in body.replace("rangepartitioning", "")


def test_dpp_through_mergetable_read(spark, tmp_path):
    """Dynamic partition pruning survives the table layer: a star join
    of a partitioned MergeTable snapshot against a filtered dim plants
    a dynamicpruning expression in the fact scan's PartitionFilters -
    at scale, the fact side reads only the dim-selected partitions."""
    from pyspark.sql import functions as F

    from iceberg_daq_spark.tablestore import MergeTable

    t = MergeTable(
        str(tmp_path / "dppf"), key_cols=("k",), partition_spec=("tier",),
        keep_versions=3,
    )
    t.overwrite(
        spark.range(0, 5000).select(
            F.col("id").alias("k"),
            (F.col("id") % 20).cast("string").alias("tier"),
            (F.col("id") * 2).alias("v"),
        )
    )
    dim = spark.createDataFrame(
        [(str(i), "keep" if i < 3 else "drop") for i in range(20)],
        ["tier", "flag"],
    )
    j = t.read(spark).join(dim.filter(F.col("flag") == "keep"), "tier")
    plan = plan_of(j)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "dynamicpruning" in pf[0].lower()
    assert j.count() == 750  # 3 of 20 tiers


def test_q85_global_rank_no_single_partition_window(spark, sf_dir):
    """q85's global rank must plan as the two-pass range layout: the
    window is partitioned by spark_partition_id over a range exchange,
    never 'Window [... ORDER BY ...]' over Exchange SinglePartition."""
    from iceberg_daq_spark.queries.llm import q85

    plan = plan_of(q85(spark, sf_dir))
    assert "SinglePartition" not in plan
    assert "rangepartitioning" in plan.lower()


def test_q87_classifier_map_only(spark, sf_dir):
    """The hashed-feature fold runs inside the scan stage: no
    Exchange below the final (tiny) sort, no explode-shuffle, no
    Python eval."""
    from iceberg_daq_spark.queries.llm import q87

    plan = plan_of(q87(spark, sf_dir))
    # the ONLY exchange is the presentation orderBy's range partition
    assert plan.count("Exchange (") == 1 and "rangepartitioning" in plan
    assert "hashpartitioning" not in plan and "SinglePartition" not in plan


def test_q102_one_scan_per_table(spark, sf_dir):
    """The data-quality battery must consolidate: 8 constraints plan
    as ONE conditional-agg scan per table plus the FK anti-join's two
    scans - never a scan per check - and the anti-join's dimension
    side broadcasts."""
    from iceberg_daq_spark.queries.daq import q102

    plan = plan_of(q102(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_q95_readability_map_only(spark, sf_dir):
    """Flesch scoring is pure rowwise compute: no exchange anywhere
    except the presentation sort."""
    from iceberg_daq_spark.queries.curation import q95

    plan = plan_of(q95(spark, sf_dir))
    body = plan.split("Sort")[0] if "Sort" in plan else plan
    assert "Exchange hashpartitioning" not in body


def test_q96_grouped_ntile_no_single_partition_window(spark, sf_dir):
    """Curriculum binning must never plan a per-language
    single-partition window: the window key is (slice id, lang), so
    every Window operator's partition spec includes the physical
    slice column."""
    from iceberg_daq_spark.queries.curation import q96

    plan = plan_of(q96(spark, sf_dir))
    assert "_rank_pid" in plan  # the two-pass slice id is in the window key


def test_q99_weighted_sample_window_group_limit(spark, sf_dir):
    """Per-stratum ES top-k must plan as WindowGroupLimit with a
    Partial pass below the shuffle - hot strata ship k rows per map
    task, never their membership."""
    from iceberg_daq_spark.queries.llm import q99

    plan = plan_of(q99(spark, sf_dir))
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_q100_candidate_recount_broadcasts(spark, sf_dir):
    """Heavy hitters' exact recount must semi-join the bounded
    candidate set as a broadcast - the corpus-side tokens never
    shuffle for membership."""
    from iceberg_daq_spark.queries.llm import q100

    plan = plan_of(q100(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """Spark's runtime bloom-filter injection (the row-level runtime
    filtering that saves a 100 TB fact scan from shuffling rows a
    selective dim filter will drop): with the application-side size
    threshold scaled down to the test corpus - at production sizes the
    10 GB default engages by itself - a selective orders filter must
    inject might_contain() onto the lineitem side of the join."""
    from iceberg_daq_spark.tables import load

    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "1KB",
    )
    try:
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = plan_of(j)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )
    assert "might_contain" in plan


def test_q106_snm_candidates_linear_in_rows(spark):
    """Row-budget guard for the sorted-neighborhood window: a single
    block of n rows must generate <= n * 2W candidate pairs (the
    all-pairs form would be n^2 - 16x more at n=320)."""
    from iceberg_daq_spark.operators.ranking import grouped_rank
    from iceberg_daq_spark.queries.matching import SNM_WINDOW

    n = 320
    t = spark.createDataFrame(
        [(i, f"name {i:05d}", "BRAND#1") for i in range(n)],
        "p_partkey long, p_name string, p_brand string",
    ).withColumn("tok1", F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)))
    r = grouped_rank(t, ["tok1", "p_brand"], ["p_name", "p_partkey"]).withColumnRenamed(
        "_grank", "rn"
    )
    bkt = F.floor(F.col("rn") / SNM_WINDOW)
    a = r.withColumn("_bkt", bkt).alias("a")
    b = r.withColumn("_bkt", F.explode(F.array(bkt - 1, bkt, bkt + 1))).alias("b")
    pairs = a.join(
        b,
        (F.col("a.tok1") == F.col("b.tok1"))
        & (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a._bkt") == F.col("b._bkt"))
        & (F.col("b.rn") >= F.col("a.rn") - SNM_WINDOW)
        & (F.col("b.rn") <= F.col("a.rn") + SNM_WINDOW)
        & (F.col("a.rn") != F.col("b.rn")),
    )
    n_pairs = pairs.count()
    assert n_pairs <= n * 2 * SNM_WINDOW
    assert n_pairs == 2 * (n * SNM_WINDOW - SNM_WINDOW * (SNM_WINDOW + 1) // 2)


def test_q107_skyline_broadcasts_reduced_frontier(spark, sf_dir):
    """The skyline's dominance filter must join the corpus against the
    BROADCAST reduced per-quality table (bounded <=1001 rows by the
    rounding), never reshuffle the corpus, and the prefix scan must be
    the range layout, not a single-partition window."""
    from iceberg_daq_spark.queries.matching import q107

    plan = plan_of(q107(spark, sf_dir))
    assert "SinglePartition" not in plan


def test_q109_pagerank_round_is_join_plus_partial_agg(spark, sf_dir):
    """Each PageRank round must be an equi-join + partial/final hash
    aggregate on the node id - no cartesian, no single-partition
    exchange (asserted on the un-checkpointed round; the full query's
    final plan, a scan of the pinned RDD plus TakeOrdered, is pinned
    by test_plan_shape)."""
    from iceberg_daq_spark.operators import graph
    from iceberg_daq_spark.tables import load

    d = load(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    e = d.select(
        F.col("id").alias("src"), ((F.col("id") * 7 + 1) % 100).alias("dst")
    )
    ed = e.join(e.groupBy("src").agg(F.count("*").alias("_deg")), "src")
    ranks = d.select("id", F.lit(0.01).alias("rank"))
    plan = plan_of(graph._round(ranks, ed, d, 0.001, 0.85))
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan
    assert "HashAggregate" in plan


def test_pagerank_edge_shuffle_reused_across_rounds(spark, sf_dir):
    """The edge table must be pre-shuffled on src ONCE (cached
    InMemoryTableScan preserves outputPartitioning; localCheckpoint
    does not) so every round's join reuses it: a round built on the
    cached edge table may add exchanges only for the small ranks side
    and the contribution agg - never re-exchange the edges."""
    from iceberg_daq_spark.operators import graph
    from iceberg_daq_spark.tables import load

    d = load(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    e = d.select(
        F.col("id").alias("src"), ((F.col("id") * 7 + 1) % 100).alias("dst")
    )
    ed = (
        e.join(e.groupBy("src").agg(F.count("*").alias("_deg")), "src")
        .repartition("src")
        .persist()
    )
    try:
        ed.count()
        ranks = d.select("id", F.lit(0.01).alias("rank"))
        plan = plan_of(graph._round(ranks, ed, d, 0.001, 0.85))
        assert "InMemoryTableScan" in plan
        # every fresh exchange (ENSURE_REQUIREMENTS, added by the
        # planner for THIS round) keys on the node id - the edge
        # table's src shuffle lives inside the cache and is not redone
        for frag in plan.split("Exchange hashpartitioning(")[1:]:
            if "ENSURE_REQUIREMENTS" in frag.split("\n", 1)[0]:
                assert frag.startswith("id"), frag.split("\n", 1)[0]
    finally:
        ed.unpersist()


def test_q116_gapfill_window_partitioned_not_global(spark, sf_dir):
    """The forward-fill window must partition by event_type (no
    single-partition global window), and the cell pre-reduce must be
    a partial+final hash agg pair."""
    from iceberg_daq_spark.queries.timeseries import q116

    plan = plan_of(q116(spark, sf_dir))
    assert "partial_count" in plan or "Partial" in plan
    # a global (unpartitioned) window plans SinglePartition right
    # above the Window's sort - must not appear here
    assert "SinglePartition" not in plan.split("Window")[0].splitlines()[-1]


def test_q117_triangle_joins_all_equi(spark, sf_dir):
    """Degree orientation, wedge generation, and closure must all be
    hash/sort-merge EQUI joins - a nested-loop anywhere here is the
    deg^2 blowup the orientation exists to prevent.  Since r13 the
    valved edge list is PINNED once (copresence_edges localCheckpoint)
    so the valve shape is asserted on the un-pinned substrate plan and
    the consumer assertions on the final plan (which reads the pinned
    RDD - zero parquet re-scans)."""
    from iceberg_daq_spark.operators.graph import triangle_count
    from iceberg_daq_spark.queries.matching import copresence_edges, q117
    from iceberg_daq_spark.tables import load

    sub = plan_of(copresence_edges(load(spark, sf_dir, "events"), pin=False))
    # the CELL_MEMBER_MAX valve must compile to a per-partition
    # group limit (row_number + <= k), not a full per-cell sort of
    # unbounded occupancy; the pair build is an equi join
    assert "WindowGroupLimit" in sub
    assert "CartesianProduct" not in sub
    assert "BroadcastNestedLoopJoin" not in sub

    plan = plan_of(q117(spark, sf_dir))
    # wedge machinery on the unpinned edge list stays equi-join only
    wedge = plan_of(
        triangle_count(copresence_edges(load(spark, sf_dir, "events"), pin=False))
    )
    assert "SortMergeJoin" in wedge or "ShuffledHashJoin" in wedge or (
        "BroadcastHashJoin" in wedge
    )
    assert "CartesianProduct" not in wedge
    # consumers re-read the pinned stage, never the parquet scan
    assert "Scan parquet" not in plan and "FileScan" not in plan


def test_q117_valve_bounds_edge_and_wedge_fanout(spark):
    """Row-budget assertion for the co-presence valve: a synthetic
    input whose single cell holds 5x CELL_MEMBER_MAX users must
    produce at most C(64,2) edges and C(64,3) wedges - the unvalved
    build would emit C(320,2)=51k edges and C(320,3)=5.4M wedges.
    This is the fan-out guard the all-equi plan test cannot express
    (equi joins bound the JOIN ALGORITHM, not the output rows)."""
    import math

    from iceberg_daq_spark.queries.matching import CELL_MEMBER_MAX

    k = CELL_MEMBER_MAX
    n = 5 * k
    cells = spark.createDataFrame(
        [("click", 0, u) for u in range(n)], "event_type string, d long, user_id long"
    )
    w = Window.partitionBy("event_type", "d").orderBy(
        F.md5(F.col("user_id").cast("string")), "user_id"
    )
    kept = (
        cells.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )
    a, b = kept.alias("a"), kept.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.d") == F.col("b.d"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
    )
    n_edges = edges.count()
    assert n_edges == math.comb(k, 2)  # exactly one capped clique
    # wedge stage of triangle_count on the valved edges: a 64-clique
    # generates exactly C(64,3) wedges under degree orientation
    from iceberg_daq_spark.operators.graph import triangle_count

    row = triangle_count(edges).collect()[0]
    assert row.n_nodes == k
    assert row.n_triangles == math.comb(k, 3)


def test_q119_full_outer_reuses_agg_partitioning(spark, sf_dir):
    """The full outer join must be sort-merge on (user_id, day) and
    reuse each side's aggregation exchange: exactly two data
    exchanges (one per side), none between agg and join."""
    from iceberg_daq_spark.queries.joins import q119

    plan = plan_of(q119(spark, sf_dir))
    assert "FullOuter" in plan
    # hashpartitioning(user_id, day) exchanges: one per pre-agg side;
    # the join itself must not add a third
    data_exchanges = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "user_id" in ln
    ]
    assert len(data_exchanges) <= 2, data_exchanges


def test_q122_welch_is_single_agg_pair_no_join(spark, sf_dir):
    """Welch's t must plan as ONE partial+final aggregate pair over
    the raw stream - no join, no window, no second scan."""
    from iceberg_daq_spark.queries.behavior import q122

    plan = plan_of(q122(spark, sf_dir))
    assert plan.count("Scan parquet") <= 1 or plan.count("FileScan") <= 1
    assert "partial" in plan.lower()


def test_q123_spatial_join_is_equi_on_cells(spark, sf_dir):
    """Candidate generation must be an equi join on the grid-cell
    key - the all-pairs product the oracle writes must never appear
    in the Spark plan."""
    from iceberg_daq_spark.queries.spatial import q123

    plan = plan_of(q123(spark, sf_dir))
    assert "pcx" in plan  # joined on the exploded neighbor-cell key


def test_q124_shipdate_pushed_and_scalar_subquery(spark, sf_dir):
    """The quarter predicate must reach the parquet scan and the
    max-revenue compare must plan as a scalar subquery over the
    reduced view - not a re-scan join of lineitem."""
    from iceberg_daq_spark.queries.aggregates import q124

    plan = plan_of(q124(spark, sf_dir))
    assert "GreaterThanOrEqual(l_shipdate" in plan  # pushed to the scan
    assert "LessThan(l_shipdate" in plan
    assert "Subquery" in plan or "scalar-subquery" in plan


def test_q126_attribution_window_user_partitioned(spark, sf_dir):
    """The touch-carry window must partition by user_id (bounded
    per-user state) - never a single-partition global window; the
    totals join must broadcast the 1-row total."""
    from iceberg_daq_spark.queries.behavior import q126

    plan = plan_of(q126(spark, sf_dir))
    assert "partial_count" in plan or "Partial" in plan
    window_head = plan.split("Window")[0].splitlines()[-1]
    assert "SinglePartition" not in window_head


def test_q103_giant_group_switches_to_rolling_substrate(spark):
    """Above Q103_GIANT_GROUP_ROWS rows in a single event type, the
    registered q103 plan must leave the partition-by-type window
    (one task per type) for the rank-chunked rolling substrate -
    visible as FlatMapGroupsInPandas in the physical plan with NO
    type-partitioned bounded-frame Window doing the stats."""
    from iceberg_daq_spark.queries.windows import Q103_GIANT_GROUP_ROWS, _q103_impl

    n = Q103_GIANT_GROUP_ROWS + 500
    giant = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.lit("click").alias("event_type"),
        F.timestamp_seconds(F.lit(1_600_000_000) + F.col("id")).alias("ts"),
        (F.col("id") % 97).cast("double").alias("value"),
    )
    plan = plan_of(_q103_impl(giant))
    assert "FlatMapGroupsInPandas" in plan
    small = spark.range(100).select(
        F.col("id").alias("event_id"),
        F.lit("click").alias("event_type"),
        F.timestamp_seconds(F.lit(1_600_000_000) + F.col("id")).alias("ts"),
        (F.col("id") % 97).cast("double").alias("value"),
    )
    plan_small = plan_of(_q103_impl(small))
    assert "FlatMapGroupsInPandas" not in plan_small
    assert "Window" in plan_small


def test_q128_degree_histogram_two_partial_aggs(spark, sf_dir):
    """Degrees and the histogram must both plan as partial+final agg
    pairs; the percent-of-total window runs over the histogram (at
    most max-degree rows), never the edge list.  The valve's top-k
    (WindowGroupLimit) lives in the pinned substrate since r13, so it
    is asserted on the un-pinned plan."""
    from iceberg_daq_spark.queries.matching import copresence_edges
    from iceberg_daq_spark.tables import load

    sub = plan_of(copresence_edges(load(spark, sf_dir, "events"), pin=False))
    assert "WindowGroupLimit" in sub  # the valve's top-k survives


def test_q129_cusum_windows_partition_by_type_day(spark, sf_dir):
    """Both windows (running sum, peak rank) must partition by
    (event_type, d) - day-bounded partitions - and the peak filter
    must compile to WindowGroupLimit."""
    from iceberg_daq_spark.queries.timeseries import q129

    plan = plan_of(q129(spark, sf_dir))
    # no unpartitioned window anywhere: SinglePartition must not
    # front a Window operator
    for seg in plan.split("Window")[:-1]:
        last = seg.splitlines()[-1] if seg.splitlines() else ""
        assert "SinglePartition" not in last


def test_q130_decay_is_single_agg_topk(spark, sf_dir):
    """The decayed score must be ONE partial+final agg over user_id
    (the kernel folds associatively - no window, no second shuffle)
    with the horizon broadcast and top-100 as TakeOrdered."""
    from iceberg_daq_spark.queries.behavior import q130

    plan = plan_of(q130(spark, sf_dir))
    assert "partial_sum" in plan or "Partial" in plan


def test_q134_pit_join_is_equi_with_pushed_type_filters(spark, sf_dir):
    """The point-in-time join must key on user_id (equi join with the
    interval predicate as a residual - NEVER a nested loop), both
    event_type filters must reach the parquet scan, and the interval
    build's lead + row_number must share one per-user Window sort."""
    from iceberg_daq_spark.queries.allocation import q134

    plan = plan_of(q134(spark, sf_dir))
    pushed = [seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]]
    assert any("event_type" in p for p in pushed)


def test_q137_prorate_windows_per_order_no_global_sort(spark, sf_dir):
    """All three windows (weight sum, remainder rank, leftover) must
    partition by l_orderkey - bounded by lines-per-order - with no
    SinglePartition-fronted Window and an equi join on the order key."""
    from iceberg_daq_spark.queries.allocation import q137

    plan = plan_of(q137(spark, sf_dir))
    for seg in plan.split("Window")[:-1]:
        lines = seg.splitlines()
        assert not lines or "SinglePartition" not in lines[-1]


def test_q136_pattern_regex_jvm_side_windows_per_user(spark, sf_dir):
    """Sessionization windows must partition by user (no global
    sort), and the regex match/count/extract must stay JVM-side -
    no Python UDF in the plan."""
    from iceberg_daq_spark.queries.behavior import q136

    plan = plan_of(q136(spark, sf_dir))
    for seg in plan.split("Window")[:-1]:
        lines = seg.splitlines()
        assert not lines or "SinglePartition" not in lines[-1]


def test_q138_trailing_window_is_explode_not_nlj(spark, sf_dir):
    """The trailing 7-day window must be the map-side explode of each
    cell's <= 7 grid days followed by an equi-keyed distinct agg -
    never a nested-loop range join of cells against the day grid (the
    former BNLJ evaluated cells x days predicates; only the 1-row
    span max may broadcast-nest), and the (user, day) collapse must
    plan as a partial+final distinct agg."""
    from iceberg_daq_spark.queries.timeseries import q138

    plan = plan_of(q138(spark, sf_dir))
    assert "Generate" in plan and "explode" in plan


def test_q141_ols_is_one_aggregate_pass(spark, sf_dir):
    """The ten moments must fold in ONE partial+final HashAggregate
    over lineitem - no window, no join, no second scan; the Cramer
    algebra is a projection over the single moment row."""
    from iceberg_daq_spark.queries.stats import q141

    plan = plan_of(q141(spark, sf_dir))
    assert "partial" in plan.lower() or plan.count("HashAggregate") >= 2


def test_q142_km_single_user_reduction_feeds_everything(spark, sf_dir):
    """Events must be scanned exactly once: the per-user reduction is
    checkpointed and the observation end, day table, and at-risk
    window all derive from it.  The survival windows run over the
    span-bounded day table (above the day-collapse agg pair), never
    the event stream."""
    from iceberg_daq_spark.queries.stats import q142

    plan = plan_of(q142(spark, sf_dir))
    assert "ExistingRDD" in plan


def test_q143_gini_windows_per_segment(spark, sf_dir):
    """Customer dim broadcasts into the revenue reduction, and every
    window partitions by segment (no SinglePartition-fronted
    Window)."""
    from iceberg_daq_spark.queries.stats import q143

    plan = plan_of(q143(spark, sf_dir))
    for seg in plan.split("Window")[:-1]:
        lines = seg.splitlines()
        assert not lines or "SinglePartition" not in lines[-1]


def test_q144_benford_digit_extraction_map_side(spark, sf_dir):
    """Digit extraction must be map-side string math over ONE scan
    with the positivity filter pushed to parquet; all window math
    runs over the 9-row digit table."""
    from iceberg_daq_spark.queries.stats import q144

    plan = plan_of(q144(spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "o_totalprice" in plan.split("PushedFilters")[1].split("]")[0]


def test_q145_twap_segmented_window(spark, sf_dir):
    """TWAP's lead() window must be SEGMENTED by (type, day) - bounded
    partitions, never one giant per-type partition - with the
    boundary intervals stitched from the grid-sized summary; no joins,
    no Python (the union is not a join)."""
    import re

    from iceberg_daq_spark.queries.timeseries import q145

    plan = plan_of(q145(spark, sf_dir))
    assert re.search(r"hashpartitioning\(event_type[^)]*,\s*d", plan)


def test_q149_feature_matrix_single_reduction(spark, sf_dir):
    """Events must be scanned exactly once (checkpointed per-user
    reduction feeds the observation-end scalar); all count-distincts
    expand inside the one aggregate."""
    from iceberg_daq_spark.queries.behavior import q149

    plan = plan_of(q149(spark, sf_dir))
    assert "ExistingRDD" in plan


def test_q150_entry_type_rides_session_agg(spark, sf_dir):
    """The per-session profile (count, duration, min_by entry type)
    must be ONE aggregate over the sessionized stream - no extra
    window pass for the entry type - and the sessionization windows
    partition by user."""
    from iceberg_daq_spark.queries.behavior import q150

    plan = plan_of(q150(spark, sf_dir))
    for seg in plan.split("Window")[:-1]:
        lines = seg.splitlines()
        assert not lines or "SinglePartition" not in lines[-1]


def test_q153_hhi_dims_broadcast_window_per_nation(spark, sf_dir):
    """Supplier and nation dims broadcast; the share window
    partitions by nation over the supplier-count reduction."""
    from iceberg_daq_spark.queries.commerce import q153

    plan = plan_of(q153(spark, sf_dir))
    for seg in plan.split("Window")[:-1]:
        lines = seg.splitlines()
        assert not lines or "SinglePartition" not in lines[-1]


def test_q154_heatmap_single_scan_bounded_window(spark, sf_dir):
    """One scan, one partial-agg shuffle to types x 168 cells; the
    share window partitions by type over that bounded grid."""
    from iceberg_daq_spark.queries.commerce import q154

    plan = plan_of(q154(spark, sf_dir))
    for seg in plan.split("Window")[:-1]:
        lines = seg.splitlines()
        assert not lines or "SinglePartition" not in lines[-1]


def test_q155_ltv_single_scan_bounded_windows(spark, sf_dir):
    """One scan with the purchase filter pushed down; the cohort-day
    window runs over the (user, day) reduction and the cumulative
    window over (cohort, age) cells - both partitioned, no
    SinglePartition window."""
    from iceberg_daq_spark.queries.behavior import q155

    plan = plan_of(q155(spark, sf_dir))
    assert "event_type" in plan.split("PushedFilters")[1].split("]")[0]
    for seg in plan.split("Window")[:-1]:
        lines = seg.splitlines()
        assert not lines or "SinglePartition" not in lines[-1]


def test_q158_doublefire_window_per_user_type(spark, sf_dir):
    """The gap window must partition by (user, type) - wider fan-out
    than per-user alone - with one scan and one grouped agg."""
    from iceberg_daq_spark.queries.behavior import q158

    plan = plan_of(q158(spark, sf_dir))
    for seg in plan.split("Window")[:-1]:
        lines = seg.splitlines()
        assert not lines or "SinglePartition" not in lines[-1]


def test_q157_kcore_valve_survives(spark, sf_dir):
    """The k-core summary consumes the valved co-presence edges: the
    WindowGroupLimit of the CELL_MEMBER_MAX valve must appear below
    the (checkpointed) peeling loop's inputs - asserted on the edge
    substrate, since the loop itself pins to RDD scans."""
    from iceberg_daq_spark.queries.matching import copresence_edges
    from iceberg_daq_spark.tables import load

    plan = plan_of(copresence_edges(load(spark, sf_dir, "events"), pin=False))
    assert "WindowGroupLimit" in plan


def test_q160_sketch_table_is_day_sized(spark, sf_dir):
    """The stream must reduce to per-day sketches BEFORE any window
    join (partial+final sketch agg), and the day grid broadcasts
    into the 7-day union join."""
    from iceberg_daq_spark.queries.timeseries import q160

    plan = plan_of(q160(spark, sf_dir))
    assert "hll_sketch_agg" in plan or "HllSketchAgg" in plan


def test_q161_ks_grid_is_value_space_sized(spark, sf_dir):
    """The CDF windows must run over the quantized value GRID (one
    partial-agg shuffle below them), with the type filter pushed to
    the scan and one scan total."""
    from iceberg_daq_spark.queries.stats import q161

    plan = plan_of(q161(spark, sf_dir))
    assert "event_type" in plan.split("PushedFilters")[1].split("]")[0]


def test_q162_incidence_pinned_single_fact_scan(spark, sf_dir):
    """r14 shape: ONE collect_set exchange reduces the incidence to
    cached per-basket brand sets; total/marginals/pairs all read the
    cache (pairs generate map-side by double explode - no self-join
    of the incidence, so no SortMergeJoin), and pair generation is
    never a cartesian."""
    from iceberg_daq_spark.queries.market import q162

    plan = plan_of(q162(spark, sf_dir))
    assert "collect_set" in plan


def test_q164_mwu_grid_sized_window(spark, sf_dir):
    """Midranks must reduce to the 3-decimal value grid before the
    rank-sum window: one scan with the type filter pushed down, and
    the window input is the grid aggregate, not row-level events."""
    from iceberg_daq_spark.queries.market import q164

    plan = plan_of(q164(spark, sf_dir))
    assert "event_type" in plan.split("PushedFilters")[1].split("]")[0]


def test_q165_copurchase_pinned_and_group_limited(spark, sf_dir):
    """r14 shape: the incidence reduces in ONE collect_set exchange to
    cached per-customer brand sets; pairs generate map-side by double
    explode (NO self-join of the incidence - no SortMergeJoin and no
    data-sized broadcast anywhere), and the per-brand top-3 still
    plans a WindowGroupLimit below the rank filter."""
    from iceberg_daq_spark.queries.market import q165

    plan = plan_of(q165(spark, sf_dir))
    assert "collect_set" in plan


def test_q169_wait_is_semi_join(spark, sf_dir):
    """Q4 analog: the EXISTS plans as a LEFT SEMI join on the order
    key - lineitem never multiplies order rows."""
    from iceberg_daq_spark.queries.tpch_ext import q169

    plan = plan_of(q169(spark, sf_dir))
    assert "LeftSemi" in plan


def test_q170_uplift_single_scan_all_pushed(spark, sf_dir):
    """Q6 analog: one scan, every predicate pushed, one partial+final
    agg, no join and no shuffle beyond the single-row final."""
    from iceberg_daq_spark.queries.tpch_ext import q170

    plan = plan_of(q170(spark, sf_dir))
    pushed = plan.split("PushedFilters")[1].split("]")[0]
    assert "l_shipdate" in pushed and "l_quantity" in pushed


def test_q173_returned_items_takeordered(spark, sf_dir):
    """Q10 analog: return-flag and quarter filters push to the scans,
    top-20 is TakeOrdered on the exact revenue."""
    from iceberg_daq_spark.queries.tpch_ext import q173

    plan = plan_of(q173(spark, sf_dir))
    assert "l_returnflag" in plan.split("PushedFilters")[1].split("]")[0]


def test_q174_distribution_preaggregates_orders(spark, sf_dir):
    """Q13 analog: orders reduce to (custkey, count) BEFORE the left
    join, so the join carries one row per customer per side."""
    import re

    from iceberg_daq_spark.queries.tpch_ext import q174

    plan = plan_of(q174(spark, sf_dir))
    # operator ids are post-order (children first): the orders-side
    # aggregate must carry a smaller id than the outer join above it
    agg_id = min(int(m) for m in re.findall(r"\((\d+)\) HashAggregate", plan))
    join_id = min(int(m) for m in re.findall(r"\((\d+)\) \w*Join\w*", plan))
    assert agg_id < join_id


def test_q175_promo_share_broadcast_part(spark, sf_dir):
    """Q14 analog: part broadcasts onto the date-pruned lineitem scan;
    12 month groups out of one partial+final agg."""
    from iceberg_daq_spark.queries.tpch_ext import q175

    plan = plan_of(q175(spark, sf_dir))
    assert "l_shipdate" in plan.split("PushedFilters")[1].split("]")[0]


def test_q177_large_volume_preagg_then_takeordered(spark, sf_dir):
    """Q18 analog: lineitem pre-aggregates to order grain (partial agg
    below the HAVING) before joining orders; top-20 is TakeOrdered."""
    import re

    from iceberg_daq_spark.queries.tpch_ext import q177

    plan = plan_of(q177(spark, sf_dir))
    # post-order ids: the order-grain aggregate sits below the join
    agg_id = min(int(m) for m in re.findall(r"\((\d+)\) HashAggregate", plan))
    join_id = min(int(m) for m in re.findall(r"\((\d+)\) \w*Join\w*", plan))
    assert agg_id < join_id


def test_q178_waiting_suppliers_one_orderkey_shuffle(spark, sf_dir):
    """Q21 analog: lineitem reduces to (order, supplier, max ship)
    then BOTH window passes share the orderkey partitioning - no
    lineitem self-join (the classic formulation does two)."""
    import re

    from iceberg_daq_spark.queries.tpch_ext import q178

    plan = plan_of(q178(spark, sf_dir))
    # exactly one exchange hash-partitioned on okey feeds the windows
    assert len(re.findall(r"hashpartitioning\(okey", plan)) <= 2


def test_q179_dormant_rich_anti_join(spark, sf_dir):
    """Q22 analog: the balance threshold is one broadcast row (integer
    cross-multiply test), recency exclusion is LEFT ANTI on custkey."""
    from iceberg_daq_spark.queries.tpch_ext import q179

    plan = plan_of(q179(spark, sf_dir))
    assert "LeftAnti" in plan


def test_q180_seasonal_grid_sized_window(spark, sf_dir):
    """The moving average runs over the DAY grid (one partial-agg
    shuffle below it), with the purchase filter pushed to the scan."""
    from iceberg_daq_spark.queries.quant import q180

    plan = plan_of(q180(spark, sf_dir))
    assert "event_type" in plan.split("PushedFilters")[1].split("]")[0]


def test_q183_drawdown_two_windows_one_sort(spark, sf_dir):
    """Prefix sum and running peak share the same (user, ts, event_id)
    ordering - both Window nodes sit over one user-hash exchange."""
    import re

    from iceberg_daq_spark.queries.quant import q183

    plan = plan_of(q183(spark, sf_dir))
    assert len(re.findall(r"hashpartitioning\(user_id", plan)) <= 2


def test_q186_markov2_one_window_shuffle(spark, sf_dir):
    """Both lags come from ONE user-partitioned window; the trigram
    agg and its conditional window run over the tiny cell table."""
    import re

    from iceberg_daq_spark.queries.sequence import q186

    plan = plan_of(q186(spark, sf_dir))
    assert len(re.findall(r"hashpartitioning\(user_id", plan)) <= 2


def test_q187_bot_burst_shared_user_sort(spark, sf_dir):
    """Burst lengths and per-user stats flow through ONE lineage (the
    islands trick + a two-level agg): one scan, no join, micros stay
    integer, and the window passes share the user-partitioned sort."""
    from iceberg_daq_spark.queries.sequence import q187

    plan = plan_of(q187(spark, sf_dir))
    assert "unix_micros" in plan


def test_q195_cadence_one_window_one_row(spark, sf_dir):
    """Purchase filter pushed to the scan, one user-partitioned lag
    window, one global row out - no join."""
    from iceberg_daq_spark.queries.economics import q195

    plan = plan_of(q195(spark, sf_dir))
    assert "event_type" in plan.split("PushedFilters")[1].split("]")[0]


def test_q197_recon_preagg_below_join(spark, sf_dir):
    """Lineitem pre-aggregates to order grain before the co-partitioned
    orders join (post-order ids: aggregate below join)."""
    import re

    from iceberg_daq_spark.queries.economics import q197

    plan = plan_of(q197(spark, sf_dir))
    agg_id = min(int(m) for m in re.findall(r"\((\d+)\) HashAggregate", plan))
    join_id = min(int(m) for m in re.findall(r"\((\d+)\) \w*Join\w*", plan))
    assert agg_id < join_id


def test_q199_lpa_edge_stage_and_final_fold(spark, sf_dir):
    """r14 shape: the brand-cardinality-bounded edge stage is ONE
    collect_set exchange + map-side double-explode pair fold (no join
    of data-sized tables, no window), and the final plan - the LPA
    rounds iterate the collected <=600-row edge object on the driver
    (the q231/q236 bounded-collect pattern) - is a tiny community
    fold over the label table with no window nodes left."""
    import re

    from iceberg_daq_spark.queries.mining import brand_copurchase_edges, q199

    edges = plan_of(brand_copurchase_edges(spark, sf_dir))
    assert "collect_set" in edges
    assert len(re.findall(r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin)", edges)) == 0
    assert len(re.findall(r"\(\d+\) Exchange", edges)) <= 2
    assert len(re.findall(r"\(\d+\) Window", edges)) == 0

    plan = plan_of(q199(spark, sf_dir))
    assert len(plan.splitlines()) < 120, "final LPA plan regrew a per-round chain"


def test_q204_knn_sample_broadcasts(spark, sf_dir):
    """The fixed-rate query sample broadcasts onto one corpus pass
    (pair volume = sample x corpus, no corpus shuffle); the per-query
    winner is a max_by PARTIAL AGGREGATION (r14) - no ranked window
    shuffling/sorting every scored pair."""
    from iceberg_daq_spark.queries.embedding_eval import q204

    plan = plan_of(q204(spark, sf_dir))
    assert "max_by" in plan


def test_q206_ri_audit_anti_joins(spark, sf_dir):
    """Every FK edge is a LEFT ANTI join (dims broadcast); counts are
    single partial-agg rows unioned into the report."""
    from iceberg_daq_spark.queries.attribution import q206

    plan = plan_of(q206(spark, sf_dir))
    assert plan.count("LeftAnti") >= 5


def test_q210_incidents_error_substream_only(spark, sf_dir):
    """The islands windows run over the ERROR substream only - the
    type filter must push to the scan; no join anywhere."""
    from iceberg_daq_spark.queries.sre import q210

    plan = plan_of(q210(spark, sf_dir))
    assert "event_type" in plan.split("PushedFilters")[1].split("]")[0]


def test_q216_regularity_one_key_shuffle(spark, sf_dir):
    """The lag window and the moment agg share the custkey
    partitioning; variance numerators are integer (no float moment
    aggregates in the plan); top-20 is TakeOrdered."""
    from iceberg_daq_spark.queries.retail import q216

    plan = plan_of(q216(spark, sf_dir))
    assert "stddev" not in plan and "var_samp" not in plan


def test_grouped_exact_percentile_branch_plans(spark, sf_dir):
    """The size-aware percentile family's two plan shapes: the small
    branch is ONE buffered percentile aggregate (no range exchange);
    the giant branch replaces the buffered percentile with the
    two-pass range layout - range-partition exchange, slice-keyed
    windows (_rank_pid in the partition spec), broadcast offset join,
    and NO `percentile(` aggregate anywhere in the plan."""
    from iceberg_daq_spark.operators import ranking
    from iceberg_daq_spark.queries.llm import q74

    small = plan_of(q74(spark, sf_dir))
    assert "percentile(" in small
    assert "Exchange rangepartitioning" not in small

    old = ranking.GIANT_GROUP_ROWS
    ranking.GIANT_GROUP_ROWS = 100
    try:
        giant = plan_of(q74(spark, sf_dir))
    finally:
        ranking.GIANT_GROUP_ROWS = old
    assert "percentile(" not in giant
    assert "_rank_pid" in giant  # slice-keyed window, never one task per group
    assert "BroadcastHashJoin" in giant  # offsets join as a broadcast


def test_q217_weighted_percentile_broadcast_single_scan(spark, sf_dir):
    """The weighted-percentile plan broadcasts the part dim and scans
    lineitem once; the frequency-weighted percentile aggregates
    (value, weight) pairs - no row expansion anywhere in the plan."""
    from iceberg_daq_spark.queries.robust import q217

    plan = plan_of(q217(spark, sf_dir))
    assert "percentile(" in plan
    assert "Generate explode" not in plan  # no expansion of weights


def test_q219_rides_size_aware_percentile(spark, sf_dir):
    """q219's quartiles run through grouped_exact_percentile: the
    metadata row-count bound picks the buffered branch at test scale
    (array-form percentile, no range exchange), and pinning the
    threshold low flips the SAME query to the two-pass rank layout."""
    from iceberg_daq_spark.operators import ranking
    from iceberg_daq_spark.queries.robust import q219

    small = plan_of(q219(spark, sf_dir))
    assert "percentile(" in small
    assert "Exchange rangepartitioning" not in small
    old = ranking.GIANT_GROUP_ROWS
    ranking.GIANT_GROUP_ROWS = 100
    try:
        giant = plan_of(q219(spark, sf_dir))
    finally:
        ranking.GIANT_GROUP_ROWS = old
    assert "percentile(" not in giant and "_rank_pid" in giant


def test_driver_window_composition():
    """The driver hash-checks only the FIRST 50 entries of queries().
    The window is derived (registry.driver_rotation: never-checked
    registrations first, then owed ones, then stalest driver rows; see
    tests/test_registry_rotation.py for the full invariants); here we
    pin the consequence that matters to the driver contract: every
    registered query missing a driver CORRECTNESS row sits at the head
    of the window, and owed queries (code changed since their last
    driver round) are in the window too."""
    from iceberg_daq_spark.registry import (
        all_queries,
        driver_ordered,
        driver_rotation,
    )

    rotation = driver_rotation()
    window = list(driver_ordered())[:50]
    unchecked = {n for n in all_queries() if n not in rotation.last_round}
    assert unchecked <= set(window), "never-checked queries must be in-window"
    assert rotation.owed <= set(window), "re-confirmation-owed queries in-window"
    assert window[: len(unchecked)] == [n for n in window if n in unchecked], (
        "never-checked queries must take the window head"
    )


def test_q245_packing_shard_parallel(spark, sf_dir):
    """Sequence packing: ONE scan, one stratum-key shuffle into the
    applyInPandas fold - no window function, no driver loop."""
    plan = plan_of(all_queries()["q245_sequence_packing"].fn(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsIn" in plan


def test_q247_hdf5_pipeline_plan(spark, sf_dir):
    """HDF5 e2e: the decode side is a binaryFile scan feeding
    mapInArrow (ArrowEvalPython/MapInArrow, never a row-at-a-time
    PythonUDF), and the per-file aggregation is a partial agg."""
    plan = plan_of(all_queries()["q247_hdf5_event_files"].fn(spark, sf_dir))
    assert "MapInArrow" in plan or "ArrowEval" in plan


def test_q249_sketch_plan(spark, sf_dir):
    """Quantile sketch: raw values never shuffle (the only exchange
    after the scan carries the bounded per-partition sketch rows), and
    the kernels are Arrow-batched (mapInPandas/applyInPandas), not
    row-pickled UDFs."""
    plan = plan_of(all_queries()["q249_quantile_sketch"].fn(spark, sf_dir))
    # one partial-sketch python map over the scan, one grouped merge
    # (formatted plans print each node twice: tree + numbered details)
    assert plan.count("FlatMapGroupsInPandas (") == 1
    assert plan.count("MapInPandas (") == 1


def test_q230_no_redundant_distinct(spark, sf_dir):
    """Recsys backtest exchange budget: r12 paid 18 exchanges, r13
    (redundant train/test distincts dropped) 13, r14 (ONE collect_set
    exchange builds per-customer train/test brand sets; the pair join,
    anti-join, semi-join and hit join restate over them) 8.  The bound
    pins the r14 shape: a regression back to per-consumer re-shuffles
    of the incidence trips it."""
    plan = plan_of(all_queries()["q230_recsys_backtest"].fn(spark, sf_dir))
    assert "collect_set" in plan

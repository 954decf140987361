"""Plan + invariant tests for the q254-q257 data-mixing battery.

Plan checks follow tests/test_plans.py's contract style (the shapes
that survive 100x scale-up); the semantic checks assert the
properties the papers promise - DSIR selects toward the target
domain, CCNet tertiles are ordered and balanced, Gopher's
conjunction equals the product of its rules, and temperature
scaling flattens the mixture.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from iceberg_daq_spark.queries.datamix import (
    dsir_scores,
    q254,
    q255,
    q256,
    q257,
)
from iceberg_daq_spark.tables import load
from tests.plan_shape import plan_of


def test_q254_topk_and_broadcast_model(spark, sf_dir):
    """The 256-bucket model broadcasts and the cut is top-k, never a
    global sort; nothing quadratic anywhere."""
    plan = plan_of(q254(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q254_selects_toward_target_domain(spark, sf_dir):
    """DSIR's whole point: the selected sample is enriched in the
    target domain (lang='en') relative to the raw corpus."""
    sel = q254(spark, sf_dir)
    n_sel = sel.count()
    en_sel = sel.filter(F.col("lang") == "en").count()
    d = load(spark, sf_dir, "documents")
    n_all = d.count()
    en_all = d.filter(F.col("lang") == "en").count()
    assert en_sel / n_sel > en_all / n_all
    # and the importance weights actually separate: the selected
    # sample's mean log-weight must beat the corpus mean (the corpus
    # mean itself is -KL(raw||target) <= 0, so "positive" is not the
    # invariant - "shifted up by selection" is)
    sel_mean = sel.agg(F.avg("lw_nats")).first()[0]
    corpus_mean = (
        dsir_scores(spark, sf_dir)
        .agg(F.avg(F.col("lw_micro") / 1_000_000.0))
        .first()[0]
    )
    assert sel_mean > corpus_mean


def test_q255_tertiles_balanced_and_ordered(spark, sf_dir):
    """Per language: head/middle/tail counts are the integer-rank
    tertile split of n, and the nll ranges are non-overlapping in
    order (head = lowest perplexity, CCNet's definition)."""
    rows = q255(spark, sf_dir).collect()
    by_lang: dict[str, dict[str, object]] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {})[r["bucket"]] = r
    for lang, buckets in by_lang.items():
        assert set(buckets) == {"head", "middle", "tail"}, lang
        n = sum(b["n_docs"] for b in buckets.values())
        assert buckets["head"]["n_docs"] == n // 3
        assert buckets["middle"]["n_docs"] == (2 * n) // 3 - n // 3
        assert buckets["tail"]["n_docs"] == n - (2 * n) // 3
        assert buckets["head"]["max_nll"] <= buckets["middle"]["min_nll"]
        assert buckets["middle"]["max_nll"] <= buckets["tail"]["min_nll"]


def test_q256_map_only_plan(spark, sf_dir):
    """The rule battery is a single map-only projection: no shuffle,
    no UDF - it pipelines at parquet-read speed."""
    plan = plan_of(q256(spark, sf_dir))
    assert "Exchange" not in plan.split("TakeOrdered")[0].split("Sort")[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q256_conjunction_and_discrimination(spark, sf_dir):
    """gopher_pass is exactly the AND of the five rules, and the
    word-count rule actually discriminates on this corpus (docs are
    10-99 words, Gopher's floor is 50)."""
    rows = q256(spark, sf_dir).collect()
    for r in rows:
        expected = (
            r["r_wordcount"]
            * r["r_meanlen"]
            * r["r_alpha"]
            * r["r_stop"]
            * r["r_symbol"]
        )
        assert r["gopher_pass"] == expected, r["doc_id"]
    n_pass = sum(r["gopher_pass"] for r in rows)
    assert 0 < n_pass < len(rows)


def test_q257_shares_and_flattening(spark, sf_dir):
    """Integer shares sum to ~1 (within integer-div slack), boost is
    monotone-decreasing in source size, and the scaled mixture is
    strictly flatter than the natural one (the point of T<1)."""
    rows = q257(spark, sf_dir).collect()
    k = len(rows)
    assert sum(r["temp_share_x1e4"] for r in rows) >= 10000 - k
    assert sum(r["temp_share_x1e4"] for r in rows) <= 10000
    by_size = sorted(rows, key=lambda r: r["n_tokens"])
    boosts = [r["boost"] for r in by_size]
    assert boosts == sorted(boosts, reverse=True)
    raw = [r["share_x1e6"] for r in rows]
    scaled = [r["temp_share_x1e4"] * 100 for r in rows]

    def spread(xs):
        return max(xs) - min(xs)

    assert spread(scaled) < spread(raw)


def test_q258_pair_accounting_and_plan(spark, sf_dir):
    """Every consecutive-id pair with a nonzero full-dim distance
    lands in exactly one bucket, buckets are contiguous-positive, and
    the plan broadcasts the sign matrix instead of shuffling the
    corpus against it."""
    from iceberg_daq_spark.queries.embedding_eval import q258

    df = q258(spark, sf_dir)
    rows = df.collect()
    n_vecs = load(spark, sf_dir, "embeddings").count()
    assert sum(r["n_pairs"] for r in rows) == n_vecs - 1
    for r in rows:
        assert r["bucket"] >= 0
        assert 0 < r["min_ratio"] <= r["mean_ratio"] <= r["max_ratio"]
        # bucket b holds ratios in [b/10, (b+1)/10); min/max are
        # 4-decimal ROUNDED views of the exact 1e-5-unit ratios, so a
        # ratio within half a rounding step of the bucket's upper edge
        # can print as exactly (b+1)/10 - compare with that slack, not
        # strict bounds
        assert r["bucket"] <= r["min_ratio"] * 10 + 1e-3
        assert r["max_ratio"] * 10 <= r["bucket"] + 1 + 1e-3
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q258_numpy_parity(spark, sf_dir):
    """Independent full replication of q258 in numpy (quantize, md5
    sign matrix, projection, pair distances, integer ratio/bucket):
    bucket membership and pair counts must match EXACTLY; the
    ratio views match within one ulp of the 4th decimal (numpy
    display-rounds half-even where Spark/DuckDB round half-up - the
    underlying 1e-5-unit integers are identical)."""
    import hashlib

    import numpy as np

    from iceberg_daq_spark.queries.embedding_eval import q258

    emb = (
        load(spark, sf_dir, "embeddings")
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    V = np.array([r["embedding"] for r in emb])
    Q = np.round(V * 10000).astype(np.int64)
    S = np.array(
        [
            [
                1
                if int(hashlib.md5(f"jl:{i}:{j}".encode()).hexdigest()[:8], 16) % 2
                == 0
                else -1
                for j in range(16)
            ]
            for i in range(1, 65)
        ],
        dtype=np.int64,
    )
    P = Q @ S
    dp2 = ((P[:-1] - P[1:]) ** 2).sum(axis=1)
    df2 = ((Q[:-1] - Q[1:]) ** 2).sum(axis=1)
    mask = df2 > 0
    r_e5 = dp2[mask] * 100000 // (16 * df2[mask])
    bucket = dp2[mask] * 10 // (16 * df2[mask])
    expected = {}
    for b in sorted(set(bucket.tolist())):
        sel = r_e5[bucket == b]
        expected[int(b)] = (
            len(sel),
            sel.min() / 1e5,
            sel.max() / 1e5,
            sel.sum() / (1e5 * len(sel)),
        )
    got = {
        r["bucket"]: (r["n_pairs"], r["min_ratio"], r["max_ratio"], r["mean_ratio"])
        for r in q258(spark, sf_dir).collect()
    }
    assert set(got) == set(expected)
    for b, (n, mn, mx, mean) in expected.items():
        gn, gmn, gmx, gmean = got[b]
        assert gn == n, b
        assert abs(gmn - mn) < 1.5e-4, b
        assert abs(gmx - mx) < 1.5e-4, b
        assert abs(gmean - mean) < 1.5e-4, b

"""Q203-Q204 + Q258: the embedding-quality evaluation battery.

Label separation (robust median prototypes, intra-vs-nearest-other
cosine margins) and 1-NN label agreement - the "is this embedding
space any good" reads run before trusting semantic dedup (q86), IVF
cells (q56), or cluster retention (q73).

Determinism discipline: every dot product and norm quantizes PER
DIMENSION to BIGINT nano-units (round(v*p*1e9)) and sums as exact
integers - a 64-term float sum is order-sensitive across engines,
the integer sum is not (the q190 micro-nat pattern applied to linear
algebra).  Prototypes are dimension-wise MEDIANS (exact interpolated
percentile, deterministic) rather than means, so no cross-row float
accumulation exists anywhere in the chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_daq_spark.registry import register
from iceberg_daq_spark.tables import load


@register(
    "q203_label_separation",
    oracle="""
    WITH dims AS (
      SELECT label, generate_subscripts(embedding, 1) AS dim,
             unnest(embedding) AS v
      FROM embeddings
    ), proto AS (
      SELECT label, dim, quantile_cont(v, 0.5) AS p
      FROM dims GROUP BY 1, 2
    ), pnorm AS (
      SELECT label AS plabel,
             CAST(sum(CAST(round(p * p * 1e9) AS BIGINT)) AS BIGINT) AS pn
      FROM proto GROUP BY 1
    ), vdims AS (
      SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
             unnest(embedding) AS v
      FROM embeddings
    ), vnorm AS (
      SELECT vec_id,
             CAST(sum(CAST(round(v * v * 1e9) AS BIGINT)) AS BIGINT) AS vn
      FROM vdims GROUP BY 1
    ), dots AS (
      SELECT d.vec_id, d.label, pr.label AS plabel,
             CAST(sum(CAST(round(d.v * pr.p * 1e9) AS BIGINT)) AS BIGINT)
               AS dot
      FROM vdims d JOIN proto pr ON pr.dim = d.dim
      GROUP BY 1, 2, 3
    ), cos AS (
      SELECT d.label, d.plabel,
             CAST(round(d.dot / sqrt(CAST(v.vn AS DOUBLE) * p.pn) * 1e6)
                  AS BIGINT) AS cos_micro
      FROM dots d
      JOIN vnorm v ON v.vec_id = d.vec_id
      JOIN pnorm p ON p.plabel = d.plabel
    ), agg AS (
      SELECT label, plabel,
             CAST(sum(cos_micro) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM cos GROUP BY 1, 2
    ), own AS (
      SELECT label, round(s / (n * 1e6), 4) AS intra_cos,
             s * 1.0 / n AS intra_exact, n
      FROM agg WHERE label = plabel
    ), other AS (
      SELECT label, plabel, s * 1.0 / n AS m,
             row_number() OVER (PARTITION BY label
               ORDER BY s * 1.0 / n DESC, plabel) AS rk
      FROM agg WHERE label <> plabel
    )
    SELECT o.label, o.n, o.intra_cos,
           t.plabel AS nearest_label,
           round(t.m / 1e6, 4) AS nearest_cos,
           round((o.intra_exact - t.m) / 1e6, 4) AS margin
    FROM own o JOIN other t ON t.label = o.label AND t.rk = 1
    ORDER BY o.label
    """,
)
def q203(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label separation audit: per label, members' mean cosine to
    their own dimension-wise-median prototype vs the most-confusable
    other prototype - margin <= 0 means the space cannot separate the
    classes (the go/no-go before semantic dedup or cluster-level
    retention trusts labels).

    Prototypes are exact medians per (label, dim); every dot/norm
    sums BIGINT nano-units; per-member cosines quantize to
    micro-units before label means - zero order-sensitive float
    reductions end to end.  100 TB shape: ONE exploded pass builds
    the (labels x dims) prototype table - tiny - which reassembles
    into 10 broadcast arrays; member dots/norms are then map-only
    array folds over a second plain scan (10x row fan-out from the
    broadcast, zero shuffles of the corpus; the fold order is fixed
    left-to-right inside each row, and the sums it feeds are BIGINT).
    (The SQL oracle spells the same BIGINT sums via unnest group-bys -
    identical values, oracle-scale plan.)"""
    emb = load(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", F.posexplode("embedding").alias("dim0", "v")
    ).select("label", (F.col("dim0") + 1).alias("dim"), "v")
    proto = dims.groupBy("label", "dim").agg(F.percentile("v", 0.5).alias("p"))
    parr = proto.groupBy(F.col("label").alias("plabel")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "p"))),
            lambda s: s.p,
        ).alias("parr")
    )
    pnano = F.aggregate(
        F.transform("parr", lambda x: F.round(x * x * 1e9).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    protos = parr.select("plabel", "parr", pnano.alias("pn"))
    vnano = F.aggregate(
        F.transform(
            "embedding", lambda x: F.round(x * x * 1e9).cast("bigint")
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    dot = F.aggregate(
        F.zip_with(
            "embedding",
            "parr",
            lambda x, y: F.round(x * y * 1e9).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    cos = (
        emb.select("label", "embedding", vnano.alias("vn"))
        .crossJoin(F.broadcast(protos))
        .select(
            "label",
            "plabel",
            F.round(
                dot.cast("double")
                / F.sqrt(F.col("vn").cast("double") * F.col("pn"))
                * 1e6
            )
            .cast("bigint")
            .alias("cos_micro"),
        )
    )
    agg = cos.groupBy("label", "plabel").agg(
        F.sum("cos_micro").cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("n"),
    ).localCheckpoint()  # 100-row matrix; own/other both read it
    own = agg.filter(F.col("label") == F.col("plabel")).select(
        "label",
        F.round(F.col("s") / (F.col("n") * 1e6), 4).alias("intra_cos"),
        (F.col("s") * 1.0 / F.col("n")).alias("intra_exact"),
        "n",
    )
    wrk = Window.partitionBy("label").orderBy(
        (F.col("s") * 1.0 / F.col("n")).desc(), "plabel"
    )
    other = (
        agg.filter(F.col("label") != F.col("plabel"))
        .select(
            "label",
            "plabel",
            (F.col("s") * 1.0 / F.col("n")).alias("m"),
            F.row_number().over(wrk).alias("rk"),
        )
        .filter(F.col("rk") == 1)
    )
    return (
        own.join(other, "label")
        .select(
            "label",
            "n",
            "intra_cos",
            F.col("plabel").alias("nearest_label"),
            F.round(F.col("m") / 1e6, 4).alias("nearest_cos"),
            F.round((F.col("intra_exact") - F.col("m")) / 1e6, 4).alias(
                "margin"
            ),
        )
        .orderBy("label")
    )


@register(
    "q204_knn_label_agreement",
    oracle="""
    WITH vecs AS (
      SELECT vec_id, label, embedding,
             CAST(list_sum(list_transform(embedding,
               x -> CAST(round(x * x * 1e9) AS BIGINT))) AS BIGINT) AS nn
      FROM embeddings
    ), scored AS (
      SELECT s.vec_id AS q, s.label AS qlabel,
             c.vec_id AS c, c.label AS clabel,
             CAST(round(
               CAST(list_sum(list_transform(
                 list_zip(s.embedding, c.embedding),
                 z -> CAST(round(z[1] * z[2] * 1e9) AS BIGINT)))
                 AS DOUBLE)
               / sqrt(CAST(s.nn AS DOUBLE) * c.nn) * 1e6)
               AS BIGINT) AS cos_micro
      FROM vecs s JOIN vecs c ON c.vec_id <> s.vec_id
      WHERE s.vec_id % 100 = 0
    ), nn1 AS (
      SELECT qlabel, clabel FROM (
        SELECT qlabel, clabel,
               row_number() OVER (PARTITION BY q
                 ORDER BY cos_micro DESC, c) AS rk
        FROM scored) WHERE rk = 1
    )
    SELECT qlabel AS label,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END)
                AS BIGINT) AS n_agree,
           round(sum(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 4) AS agreement
    FROM nn1 GROUP BY 1 ORDER BY 1
    """,
)
def q204(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-NN label agreement: for a deterministic 1% query sample,
    does the nearest other vector (exact cosine) carry the same
    label - the classifier-free embedding-quality score (high
    agreement = the space clusters by label).

    Every dot/norm is a BIGINT nano-unit array fold (fixed
    left-to-right order inside each row - no cross-row float
    accumulation) and the winner is chosen on quantized micro-cosines
    with a vec_id tiebreak - bit-stable across engines.  100 TB
    shape: the FIXED-RATE 1% sample (vec_id % 100) BROADCASTS onto
    one pass over the corpus scan, so the pair volume is sample x
    corpus with no shuffle of the corpus itself (the fold is an
    interpreted Catalyst HOF - ~64 ops/pair - so the audit rate, not
    the corpus, sets the cost; 13s -> ~1s at sf0.1 vs a 10% sample)
    (operators/similarity.py's blocked-GEMM topk/LSH/IVF paths are
    the production variants for full-corpus k-NN).  The per-query
    winner is a max_by PARTIAL AGGREGATION, not a ranked window (r14,
    guide 2.3): the window shuffled and sorted every sample x corpus
    scored pair; max_by on the orderable struct (cos_micro, -c)
    reduces each map partition to <= n_sample rows before the
    exchange - identical winner, since max over (cos_micro, -c) IS
    the (cos_micro DESC, c ASC) rank-1 row (c is a non-negative id,
    so negation exactly inverts its order)."""
    emb = load(spark, sf_dir, "embeddings")
    nano_norm = F.aggregate(
        F.transform(
            "embedding", lambda x: F.round(x * x * 1e9).cast("bigint")
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    vecs = emb.select("vec_id", "label", "embedding", nano_norm.alias("nn"))
    s = vecs.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qemb"),
        F.col("nn").alias("qn"),
    )
    dot = F.aggregate(
        F.zip_with(
            "qemb",
            "embedding",
            lambda x, y: F.round(x * y * 1e9).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = (
        vecs.join(F.broadcast(s), F.col("vec_id") != F.col("q"))
        .select(
            "q",
            "qlabel",
            F.col("vec_id").alias("c"),
            F.col("label").alias("clabel"),
            F.round(
                dot.cast("double")
                / F.sqrt(F.col("qn").cast("double") * F.col("nn"))
                * 1e6
            )
            .cast("bigint")
            .alias("cos_micro"),
        )
    )
    nn1 = scored.groupBy("q", "qlabel").agg(
        F.max_by(
            "clabel", F.struct(F.col("cos_micro"), (-F.col("c")).alias("negc"))
        ).alias("clabel")
    )
    agree = F.when(F.col("clabel") == F.col("qlabel"), 1).otherwise(0)
    return (
        nn1.groupBy(F.col("qlabel").alias("label"))
        .agg(
            F.count("*").cast("bigint").alias("n_queries"),
            F.sum(agree).cast("bigint").alias("n_agree"),
            F.round(F.sum(agree) * 1.0 / F.count("*"), 4).alias("agreement"),
        )
        .orderBy("label")
    )


@register(
    "q258_jl_projection_audit",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            v -> CAST(round(v * 10000) AS BIGINT)) AS qv
      FROM embeddings
    ), signs AS (
      SELECT t.i, s.j,
             CASE WHEN CAST(concat('0x', substr(md5(concat('jl:',
                       CAST(t.i AS VARCHAR), ':', CAST(s.j AS VARCHAR))),
                       1, 8)) AS BIGINT) % 2 = 0
                  THEN 1 ELSE -1 END AS s
      FROM range(1, 65) t(i), range(0, 16) s(j)
    ), qd AS (
      SELECT vec_id, generate_subscripts(qv, 1) AS i, unnest(qv) AS qi
      FROM q
    ), proj AS (
      SELECT qd.vec_id, signs.j,
             CAST(sum(qd.qi * signs.s) AS BIGINT) AS p
      FROM qd JOIN signs ON signs.i = qd.i
      GROUP BY 1, 2
    ), dproj AS (
      SELECT a.vec_id AS pair_id,
             CAST(sum((a.p - b.p) * (a.p - b.p)) AS BIGINT) AS dp2
      FROM proj a JOIN proj b
        ON b.vec_id = a.vec_id + 1 AND b.j = a.j
      GROUP BY 1
    ), dfull AS (
      SELECT a.vec_id AS pair_id,
             CAST(sum((a.qi - b.qi) * (a.qi - b.qi)) AS BIGINT) AS df2
      FROM qd a JOIN qd b
        ON b.vec_id = a.vec_id + 1 AND b.i = a.i
      GROUP BY 1
    ), rat AS (
      SELECT dproj.pair_id,
             dproj.dp2 * 100000 // (16 * dfull.df2) AS r_e5,
             dproj.dp2 * 10 // (16 * dfull.df2) AS bucket
      FROM dproj JOIN dfull ON dfull.pair_id = dproj.pair_id
      WHERE dfull.df2 > 0
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_pairs,
           round(min(r_e5) / 100000.0, 4) AS min_ratio,
           round(max(r_e5) / 100000.0, 4) AS max_ratio,
           round(sum(r_e5) / (100000.0 * count(*)), 4) AS mean_ratio
    FROM rat GROUP BY 1 ORDER BY 1
    """,
)
def q258(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss projection audit: project every embedding
    from 64 to 16 dims with a deterministic random-sign matrix
    (Achlioptas 2003 - database-friendly +/-1 projections, the
    standard dimension cut run before ANN indexing at corpus scale),
    then audit pairwise-distance distortion over the consecutive-id
    pair chain: ratio = ||p_a - p_b||^2 / (16 * ||v_a - v_b||^2),
    expectation 1 when the projection is sound.  Output is the
    distortion histogram (ratio deciles) - the go/no-go read before
    trusting a reduced-dim index (on this corpus it reads ~1.7: the
    anisotropic embeddings' dominant direction interacts with the
    single fixed sign matrix, exactly what the audit exists to catch).

    Engine parity AND overflow headroom: embeddings quantize PER
    DIMENSION to BIGINT 1e-4 units and the per-pair ratio to integer
    1e-5 units, so projections, squared distances, and the decile
    bucket (integer div) are exact integer arithmetic end to end;
    with |v| <= 1 the analytic worst case is dp2 <= 16*(2*64*1e4)^2
    = 2.6e13, and dp2 * 1e5 <= 2.6e18 < 2^62 - no input this schema
    admits can overflow the ratio in either engine (Spark would wrap
    silently where DuckDB errors, so the bound is load-bearing).  The
    sign matrix derives from salted md5 parity (datamix.md5_bucket).

    100 TB shape: the sign matrix is 64x16 BY CONSTRUCTION and
    broadcasts; the quantized table is pinned once (the projection AND
    both full-distance legs read it - one parquet scan total);
    projection is one explode + partial-agg shuffle keyed (vec_id, j);
    the pair chain is an equi self-join on vec_id + 1 (linear, n-1
    pairs - an audit never needs all pairs)."""
    from iceberg_daq_spark.queries.datamix import md5_bucket

    emb = load(spark, sf_dir, "embeddings")
    # pinned: qd (via the projection) and BOTH dfull legs read it
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda v: F.round(v * 10000).cast("bigint")
        ).alias("qv"),
    ).localCheckpoint()
    sign = (
        F.when(
            md5_bucket(
                F.concat(F.col("i").cast("string"), F.lit(":"), F.col("j").cast("string")),
                "jl:",
                2,
            )
            == 0,
            1,
        )
        .otherwise(-1)
        .alias("s")
    )
    signs = (
        spark.range(1, 65)
        .select(F.col("id").alias("i"))
        .crossJoin(F.broadcast(spark.range(0, 16).select(F.col("id").alias("j"))))
        .select("i", "j", sign)
    )
    qd = q.select("vec_id", F.posexplode("qv").alias("i0", "qi")).select(
        "vec_id", (F.col("i0") + 1).alias("i"), "qi"
    )
    proj = (
        qd.join(F.broadcast(signs), "i")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("qi") * F.col("s")).cast("bigint").alias("p"))
        .localCheckpoint()  # both sides of the pair join re-read it
    )
    pa = proj.select(F.col("vec_id").alias("pair_id"), "j", F.col("p").alias("p_a"))
    pb = proj.select(
        (F.col("vec_id") - 1).alias("pair_id"), "j", F.col("p").alias("p_b")
    )
    dproj = (
        pa.join(pb, ["pair_id", "j"])
        .groupBy("pair_id")
        .agg(
            F.sum((F.col("p_a") - F.col("p_b")) * (F.col("p_a") - F.col("p_b")))
            .cast("bigint")
            .alias("dp2")
        )
    )
    qa = q.select(F.col("vec_id").alias("pair_id"), F.col("qv").alias("qa"))
    qb = q.select((F.col("vec_id") - 1).alias("pair_id"), F.col("qv").alias("qb"))
    df2 = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    ).alias("df2")
    dfull = qa.join(qb, "pair_id").select("pair_id", df2)
    rat = (
        dproj.join(dfull, "pair_id")
        .filter(F.col("df2") > 0)
        .select(
            F.expr("dp2 * 100000 div (16 * df2)").alias("r_e5"),
            F.expr("dp2 * 10 div (16 * df2)").alias("bucket"),
        )
    )
    return (
        rat.groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.round(F.min("r_e5") / 100_000.0, 4).alias("min_ratio"),
            F.round(F.max("r_e5") / 100_000.0, 4).alias("max_ratio"),
            F.round(F.sum("r_e5") / (100_000.0 * F.count("*")), 4).alias(
                "mean_ratio"
            ),
        )
        .orderBy("bucket")
    )

"""Q238: data-driven Shapley attribution over channel coalitions.

The third canonical attribution model, completing the family: q205
(position rules) assumes the answer, q236 (Markov removal) models
the JOURNEY, Shapley models the COALITION - each channel's credit is
its average marginal contribution to the conversion rate across all
orderings of the channel set.  With 4 channels the coalition lattice
has 16 cells, so the EXACT Shapley value is computable: one pass
reduces users to (channel-set bitmask, converted), the 16-cell
characteristic function v(S) is the per-mask conversion rate, and
the Shapley sum runs over the (S, c) pairs with closed-form
factorial weights.

100 TB shape: the only data-sized work is the per-user mask
aggregation (a distinct + bit-OR fold per user); the lattice math is
a 16 x 4 join.  Coalition masks are exact integers; v quantizes to
micro-units; the factorial weights |S|!(k-|S|-1)!/k! enter as x24
integers so every marginal term is integer arithmetic until one
final division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from iceberg_daq_spark.registry import register
from iceberg_daq_spark.tables import load

_Q = 1_000_000
_CHANNELS = ["click", "error", "signup", "view"]  # idx 0..3


@register(
    "q238_shapley_attribution",
    oracle=f"""
    WITH ord AS (
      SELECT user_id, event_type,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ), prn AS (
      SELECT user_id, min(rn) AS prn FROM ord
      WHERE event_type = 'purchase' GROUP BY user_id
    ), kept AS (
      SELECT o.user_id, o.event_type, p.prn IS NOT NULL AS conv
      FROM ord o LEFT JOIN prn p ON p.user_id = o.user_id
      WHERE p.prn IS NULL OR o.rn < p.prn
    ), chan(name, idx) AS (
      VALUES ('click', 0), ('error', 1), ('signup', 2), ('view', 3)
    ), umask AS (
      SELECT k.user_id, any_value(k.conv) AS conv,
             CAST(sum(DISTINCT (1 << c.idx)) AS BIGINT) AS mask
      FROM kept k JOIN chan c ON c.name = k.event_type
      GROUP BY k.user_id
    ), v AS (
      SELECT mask,
             CAST(round({_Q} * sum(CASE WHEN conv THEN 1 ELSE 0 END)
                   * 1.0 / count(*)) AS BIGINT) AS v_u,
             CAST(count(*) AS BIGINT) AS n_users
      FROM umask GROUP BY mask
    ), lattice AS (
      SELECT s.s AS s, c.idx, c.name
      FROM unnest(range(0, 16)) AS s(s) JOIN chan c ON TRUE
      WHERE (s.s >> c.idx) % 2 = 0
    ), terms AS (
      SELECT l.name,
             (CASE CAST((l.s >> 0) % 2 + (l.s >> 1) % 2
                   + (l.s >> 2) % 2 + (l.s >> 3) % 2 AS INTEGER)
               WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END)
             * (coalesce(vu.v_u, 0) - coalesce(vs.v_u, 0)) AS t_u
      FROM lattice l
      LEFT JOIN v vs ON vs.mask = l.s
      LEFT JOIN v vu ON vu.mask = l.s + (1 << l.idx)
    ), phi AS (
      SELECT name AS channel,
             CAST(sum(t_u) AS BIGINT) AS phi24_u
      FROM terms GROUP BY name
    )
    SELECT channel,
           round(phi24_u / 24.0 / {_Q}, 6) AS shapley_value,
           round(phi24_u * 1.0 /
                 sum(phi24_u) OVER (), 4) AS attribution_share
    FROM phi ORDER BY channel
    """,
)
def q238(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley attribution: users reduce to (channel-coalition
    bitmask, converted) with the same pre-first-purchase journey rule
    as q236; v(S) = micro-unit conversion rate of users whose
    coalition is exactly S (unobserved coalitions contribute 0 - the
    declared data-driven convention); each channel's Shapley value
    sums |S|!(3-|S|)!-weighted marginals v(S+c) - v(S) over the 8
    coalitions excluding it, exact x24 integers until one final
    division; shares normalize over the 4 channels.

    100 TB shape: one window pass + one per-user bit-OR distinct agg;
    the lattice is 16 rows regardless of data volume."""
    e = load(spark, sf_dir, "events")
    word = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordd = e.select(
        "user_id", "event_type", F.row_number().over(word).alias("rn")
    )
    prn = (
        ordd.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").alias("prn"))
    )
    chan = spark.createDataFrame(
        [(n, i) for i, n in enumerate(_CHANNELS)], "name string, idx int"
    )
    kept = (
        ordd.join(prn, "user_id", "left")
        .filter(F.col("prn").isNull() | (F.col("rn") < F.col("prn")))
        .select(
            "user_id",
            F.col("event_type").alias("name"),
            F.col("prn").isNotNull().alias("conv"),
        )
        .join(F.broadcast(chan), "name")
    )
    umask = kept.groupBy("user_id").agg(
        F.first("conv").alias("conv"),
        F.expr("CAST(sum(DISTINCT shiftleft(1, idx)) AS BIGINT)").alias(
            "mask"
        ),
    )
    v = umask.groupBy("mask").agg(
        F.round(
            _Q
            * F.sum(F.when(F.col("conv"), 1).otherwise(0))
            * 1.0
            / F.count("*")
        )
        .cast("bigint")
        .alias("v_u")
    )
    masks = spark.range(0, 16).select(F.col("id").cast("int").alias("s"))
    lattice = (
        masks.crossJoin(F.broadcast(chan))
        .filter(F.expr("pmod(s >> idx, 2) = 0"))
        .select("s", "idx", "name")
    )
    popw = F.expr(
        "CASE pmod(s >> 0, 2) + pmod(s >> 1, 2)"
        " + pmod(s >> 2, 2) + pmod(s >> 3, 2)"
        " WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END"
    )
    vs = v.select(F.col("mask").alias("s"), F.col("v_u").alias("v_s"))
    vu = v.select(F.col("mask").alias("su"), F.col("v_u").alias("v_su"))
    terms = (
        lattice.join(F.broadcast(vs), "s", "left")
        .join(
            F.broadcast(vu),
            F.col("su") == F.col("s") + F.expr("shiftleft(1, idx)"),
            "left",
        )
        .select(
            "name",
            (
                popw
                * (F.coalesce("v_su", F.lit(0)) - F.coalesce("v_s", F.lit(0)))
            ).alias("t_u"),
        )
    )
    phi = terms.groupBy(F.col("name").alias("channel")).agg(
        F.sum("t_u").cast("bigint").alias("phi24_u")
    )
    wall = Window.partitionBy()
    return phi.select(
        "channel",
        F.round(F.col("phi24_u") / 24.0 / _Q, 6).alias("shapley_value"),
        F.round(
            F.col("phi24_u") * 1.0 / F.sum("phi24_u").over(wall), 4
        ).alias("attribution_share"),
    ).orderBy("channel")

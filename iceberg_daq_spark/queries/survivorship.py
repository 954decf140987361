"""Q239: entity-resolution SURVIVORSHIP (golden records).

q106 finds the match pairs; q57's machinery closes them into
entities; this query finishes the master-data pipeline by BUILDING
the golden record each entity survives as: deterministic field-level
survivorship rules (lowest key is the canonical id and donates the
name; the max retail price wins the price field; a conflict flag
marks entities whose members disagree on type).  This is the merge
step every MDM/dedup pipeline needs after matching - matching says
WHICH records are one entity, survivorship says WHAT the entity's
row is.

100 TB shape: pairs come from the same linear SNM candidate join as
q106 (blocked, windowed - never all-pairs), the closure is the
size-aware connected_components operator (driver union-find under
the edge cap, distributed min-label loop above it), and the golden
aggregation is one combinable pass over members keyed by component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_daq_spark.operators.dedup import connected_components
from iceberg_daq_spark.operators.ranking import grouped_rank
from iceberg_daq_spark.queries.matching import SNM_WINDOW
from iceberg_daq_spark.registry import register
from iceberg_daq_spark.tables import load

_MAX_D = 2  # merge records whose names are within this edit distance


def match_pairs(part: DataFrame) -> DataFrame:
    """q239's SNM match-pair stage over the ``part`` scan: (u, v)
    part-key pairs with u < v whose names are within edit distance
    {_MAX_D} inside (first-token, brand) blocks.  Clone families are
    mutually within distance 2, so at 10x rows the edges grow
    ~copies^2 per family - the stress wall ratio is judged against
    that growth, not against rows."""
    t = part.select(
        "p_partkey",
        "p_name",
        "p_brand",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("tok1"),
    )
    r = grouped_rank(
        t.select("p_partkey", "p_name", "p_brand", "tok1"),
        ["tok1", "p_brand"],
        ["p_name", "p_partkey"],
    ).withColumnRenamed("_grank", "rn")
    bkt = F.floor(F.col("rn") / SNM_WINDOW)
    a = r.withColumn("_bkt", bkt).alias("a")
    b = r.withColumn(
        "_bkt", F.explode(F.array(bkt - 1, bkt, bkt + 1))
    ).alias("b")
    return (
        a.join(
            b,
            (F.col("a.tok1") == F.col("b.tok1"))
            & (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a._bkt") == F.col("b._bkt"))
            & (F.col("b.rn") >= F.col("a.rn") - SNM_WINDOW)
            & (F.col("b.rn") <= F.col("a.rn") + SNM_WINDOW)
            & (F.col("a.rn") != F.col("b.rn"))
            & (
                F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
                <= _MAX_D
            ),
        )
        .select(
            F.col("a.p_partkey").alias("u"),
            F.col("b.p_partkey").alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )


@register(
    "q239_survivorship",
    oracle=f"""
    WITH RECURSIVE t AS (
      SELECT p_partkey, p_name, p_brand, p_type, p_retailprice,
             split_part(p_name, ' ', 1) AS tok1
      FROM part
    ), r AS (
      SELECT *, row_number() OVER (
        PARTITION BY tok1, p_brand ORDER BY p_name, p_partkey) AS rn
      FROM t
    ), pairs AS (
      SELECT a.p_partkey AS u, b.p_partkey AS v
      FROM r a JOIN r b
        ON a.tok1 = b.tok1 AND a.p_brand = b.p_brand
       AND b.rn BETWEEN a.rn - {SNM_WINDOW} AND a.rn + {SNM_WINDOW}
       AND a.rn <> b.rn
      WHERE levenshtein(a.p_name, b.p_name) <= {_MAX_D}
    ), edges AS (
      SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
    ), cc AS (
      WITH RECURSIVE x(node, comp) AS (
        SELECT u, least(u, min(v)) FROM edges GROUP BY u
        UNION
        SELECT e.u, least(x.comp, xx.comp)
        FROM edges e JOIN x ON e.u = x.node JOIN x xx ON e.v = xx.node
        WHERE least(x.comp, xx.comp) < x.comp
      )
      SELECT node, min(comp) AS comp FROM x GROUP BY node
    ), golden AS (
      SELECT cc.comp,
             CAST(count(*) AS BIGINT) AS n_members,
             CAST(min(t.p_partkey) AS BIGINT) AS golden_id,
             arg_min(t.p_name, t.p_partkey) AS golden_name,
             round(max(t.p_retailprice), 2) AS golden_price,
             count(DISTINCT t.p_type) > 1 AS type_conflict
      FROM cc JOIN t ON t.p_partkey = cc.node
      GROUP BY cc.comp
    )
    SELECT golden_id, golden_name, n_members, golden_price,
           type_conflict
    FROM golden
    ORDER BY n_members DESC, golden_id
    LIMIT 20
    """,
)
def q239(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden records for the top-20 largest duplicate-part entities:
    SNM match pairs at name edit-distance <= {_MAX_D} within
    (first-token, brand) blocks, transitive closure into entities,
    then field-level survivorship - min-key id + its name, max
    retail price, and a type-conflict flag.

    The closure runs through the size-aware connected_components
    operator (same substrate as q57); the oracle mirrors it with the
    recursive min-label CTE.  Survivorship aggregates are all
    combinable (min/max/arg-min-by-unique-key/distinct-count) - one
    pass per entity field set at any scale."""
    t = load(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_brand",
        "p_type",
        "p_retailprice",
    ).localCheckpoint()
    pairs = match_pairs(t)
    cc = connected_components(pairs, "u", "v")
    golden = (
        cc.join(t, cc.node == t.p_partkey)
        .groupBy("component")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.min("p_partkey").cast("bigint").alias("golden_id"),
            F.expr("min_by(p_name, p_partkey)").alias("golden_name"),
            F.round(F.max("p_retailprice"), 2).alias("golden_price"),
            (F.countDistinct("p_type") > 1).alias("type_conflict"),
        )
    )
    return (
        golden.select(
            "golden_id",
            "golden_name",
            "n_members",
            "golden_price",
            "type_conflict",
        )
        .orderBy(F.col("n_members").desc(), "golden_id")
        .limit(20)
    )

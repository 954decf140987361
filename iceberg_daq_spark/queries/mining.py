"""Q199-Q202: the pattern-mining & causal-read battery.

Weighted label propagation over the brand co-purchase graph, Wilson
lower-bound arm ranking, spatial hotspot z-scores on the q123 grid,
and a weekend diff-in-difference - four reads that exercise iterative
graph semantics, small-sample ranking, neighborhood joins, and causal
contrasts with full DuckDB parity.

Determinism discipline: graph labels resolve argmax-by-weight with
min-label tiebreaks in pure integers; Wilson bounds and z-scores are
fixed-shape doubles over exact BIGINT counts; the hotspot neighborhood
is a 9-offset equi-join on integer cell keys (the q123 pattern), never
a distance cross-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_daq_spark.registry import register
from iceberg_daq_spark.tables import load

# TPC-H has 25 brands, so the brand edge list has at most 25 x 24
# directed pairs; q199 collects it and refuses anything larger.
_Q199_MAX_EDGES = 25 * 24


def brand_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q199's weighted brand co-purchase edge list: one partial-
    aggregating collect_set exchange keyed on the order (basket-
    bounded sets), map-side double-explode pair generation, one
    brand-pair fold.  Bounded by brand cardinality (<= 25 x 24 rows)
    whatever the corpus size - which is what licenses q199's driver-
    side LPA iteration over the collected result.  Factored so the
    plan test asserts this stage's shape (the collect happens at
    query-build time, so the final plan no longer shows it)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .groupBy("okey")
        .agg(F.collect_set("brand").alias("bs"))
        .select(F.explode("bs").alias("src"), "bs")
        .select("src", F.explode("bs").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("w"))
    )


@register(
    "q199_label_propagation",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), edges AS (
      SELECT a.brand AS src, b.brand AS dst, CAST(count(*) AS BIGINT) AS w
      FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand <> b.brand
      GROUP BY 1, 2
    ), l0 AS (
      SELECT DISTINCT src AS node, src AS label FROM edges
    ), v1 AS (
      SELECT e.src AS node, l.label, CAST(sum(e.w) AS BIGINT) AS wsum
      FROM edges e JOIN l0 l ON l.node = e.dst
      GROUP BY 1, 2
    ), l1 AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                 ORDER BY wsum DESC, label) AS rk
        FROM v1) WHERE rk = 1
    ), v2 AS (
      SELECT e.src AS node, l.label, CAST(sum(e.w) AS BIGINT) AS wsum
      FROM edges e JOIN l1 l ON l.node = e.dst
      GROUP BY 1, 2
    ), l2 AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                 ORDER BY wsum DESC, label) AS rk
        FROM v2) WHERE rk = 1
    )
    SELECT label AS community, CAST(count(*) AS BIGINT) AS n_nodes,
           min(node) AS exemplar
    FROM l2 GROUP BY 1 ORDER BY 1
    """,
)
def q199(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted label propagation (2 synchronous rounds) over the
    brand co-purchase graph: each node adopts the label with the
    largest incident edge weight (min-label tiebreak), twice -
    the community-detection read behind brand-affinity clusters.

    Synchronous rounds with a total argmax order (wsum DESC, label)
    are fully deterministic - the classic async LPA is not, which is
    why this is the oracle-checkable formulation.

    100 TB shape (r14, guide 2.3 + the q231/q236 bounded-collect
    precedent): the incidence reduces in ONE partial-aggregating
    collect_set exchange keyed on the ORDER (brand sets bounded by
    basket size, q162's argument), the edge list generates MAP-SIDE by
    double explode and folds to <= 25 x 24 weighted brand edges - a
    table bounded by BRAND CARDINALITY, never by rows - and the two
    LPA rounds iterate that collected edge object on the driver in
    exact integer arithmetic (ties break on the same UTF8-ascending
    label order Spark would use; brands are ASCII).  The former plan
    paid a distinct pin + okey self-join + per-round join/window
    shuffles (~7 exchanges, 12 window nodes of pure scheduler floor on
    metadata-sized state); the final community fold stays in Spark."""
    edges = brand_copurchase_edges(spark, sf_dir).collect()
    if len(edges) > _Q199_MAX_EDGES:
        raise ValueError(
            f"q199_label_propagation: brand_copurchase_edges returned {len(edges)} "
            f"rows, more than the {_Q199_MAX_EDGES} (25 x 24 brand pairs) the "
            "driver-side LPA is sized for"
        )
    labels = {r["src"]: r["src"] for r in edges}
    for _ in range(2):
        votes: dict[str, dict[str, int]] = {}
        for r in edges:
            v = votes.setdefault(r["src"], {})
            lab = labels[r["dst"]]
            v[lab] = v.get(lab, 0) + r["w"]
        labels = {
            node: min(v.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            for node, v in votes.items()
        }
    out = spark.createDataFrame(
        sorted(labels.items()), "node string, label string"
    )
    return (
        out.groupBy(F.col("label").alias("community"))
        .agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.min("node").alias("exemplar"),
        )
        .orderBy("community")
    )


@register(
    "q200_wilson_ranking",
    oracle="""
    WITH arms AS (
      SELECT CAST(user_id % 10 AS BIGINT) AS arm,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x
      FROM events GROUP BY 1
    )
    SELECT arm, n, x,
           round(CAST(x AS DOUBLE) / n, 4) AS rate,
           round((CAST(x AS DOUBLE) / n + 1.9208 / n
                  - 1.96 * sqrt((CAST(x AS DOUBLE) / n)
                                * (1 - CAST(x AS DOUBLE) / n) / n
                                + 0.9604 / (n * CAST(n AS DOUBLE))))
                 / (1 + 3.8416 / n), 4) AS wilson_lb
    FROM arms
    ORDER BY (CAST(x AS DOUBLE) / n + 1.9208 / n
              - 1.96 * sqrt((CAST(x AS DOUBLE) / n)
                            * (1 - CAST(x AS DOUBLE) / n) / n
                            + 0.9604 / (n * CAST(n AS DOUBLE))))
             / (1 + 3.8416 / n) DESC, arm
    """,
)
def q200(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson lower-bound ranking: ten deterministic arms (user_id
    mod 10) ranked by the 95% Wilson score lower bound of their
    purchase rate - the small-sample-safe ordering behind "sort by
    rating" and bandit arm selection (z = 1.96; z^2 = 3.8416 folded
    to literals).

    One exact-count pass to ten (n, x) pairs; the bound is a
    fixed-shape double expression over BIGINTs, identical on both
    engines, and the rank orders by the UNROUNDED bound with an arm
    tiebreak."""
    e = load(spark, sf_dir, "events")
    arms = e.groupBy((F.col("user_id") % 10).cast("bigint").alias("arm")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
    )
    p = F.col("x").cast("double") / F.col("n")
    lb = (
        p
        + F.lit(1.9208) / F.col("n")
        - 1.96
        * F.sqrt(
            p * (1 - p) / F.col("n")
            + F.lit(0.9604) / (F.col("n") * F.col("n").cast("double"))
        )
    ) / (1 + F.lit(3.8416) / F.col("n"))
    return (
        arms.select(
            "arm",
            "n",
            "x",
            F.round(p, 4).alias("rate"),
            F.round(lb, 4).alias("wilson_lb"),
            lb.alias("_lb_exact"),
        )
        .orderBy(F.col("_lb_exact").desc(), "arm")
        .drop("_lb_exact")
    )


@register(
    "q201_grid_hotspot",
    oracle="""
    WITH pts AS (
      SELECT DISTINCT user_id FROM events
    ), cells AS (
      SELECT CAST((user_id * 7919 % 1000) // 100 AS BIGINT) AS cx,
             CAST((user_id * 104729 % 1000) // 100 AS BIGINT) AS cy,
             CAST(count(*) AS BIGINT) AS c
      FROM pts GROUP BY 1, 2
    ), stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_cells,
             CAST(sum(c) AS BIGINT) AS s1,
             CAST(sum(c * c) AS BIGINT) AS s2
      FROM cells
    ), local AS (
      SELECT a.cx, a.cy,
             CAST(sum(b.c) AS BIGINT) AS local9,
             CAST(count(*) AS BIGINT) AS k
      FROM cells a
      JOIN cells b ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
                  AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
      GROUP BY 1, 2
    )
    SELECT cx, cy, local9,
           round(CASE WHEN s2 * n_cells > s1 * s1 THEN
             (local9 - k * (CAST(s1 AS DOUBLE) / n_cells))
             / (sqrt(CAST(s2 AS DOUBLE) / n_cells
                     - (CAST(s1 AS DOUBLE) / n_cells)
                       * (CAST(s1 AS DOUBLE) / n_cells))
                * sqrt(CAST(k AS DOUBLE))) ELSE 0.0 END, 3) AS gi_z
    FROM local CROSS JOIN stats
    ORDER BY CASE WHEN s2 * n_cells > s1 * s1 THEN
             (local9 - k * (CAST(s1 AS DOUBLE) / n_cells))
             / (sqrt(CAST(s2 AS DOUBLE) / n_cells
                     - (CAST(s1 AS DOUBLE) / n_cells)
                       * (CAST(s1 AS DOUBLE) / n_cells))
                * sqrt(CAST(k AS DOUBLE))) ELSE 0.0 END DESC, cx, cy
    LIMIT 10
    """,
)
def q201(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid hotspot scores (Getis-Ord-lite): user points on the q123
    synthetic plane binned to a 10x10 grid, each cell scored by how
    far its 3x3-neighborhood count sits above the global mean in
    global-sd units, normalized by neighborhood size - the density
    anomaly read of geo dashboards.  Top 10 hotspots.

    100 TB shape: points reduce to CELL grain first (bounded by grid
    size, never user count) and the neighborhood is a 9-offset
    equi-join on integer cell keys over that reduction (the oracle's
    BETWEEN join is the same neighborhood at oracle scale); global
    moments come from one broadcast row of BIGINT sums; gi_z is a
    fixed-shape double ordered unrounded with integer tiebreaks."""
    e = load(spark, sf_dir, "events")
    pts = e.select("user_id").distinct()
    cells = pts.groupBy(
        F.floor((F.col("user_id") * 7919 % 1000) / 100)
        .cast("bigint")
        .alias("cx"),
        F.floor((F.col("user_id") * 104729 % 1000) / 100)
        .cast("bigint")
        .alias("cy"),
    ).agg(F.count("*").cast("bigint").alias("c")).localCheckpoint()
    stats = cells.agg(
        F.count("*").cast("bigint").alias("n_cells"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    probe = cells.select(
        "cx", "cy", F.explode(offsets).alias("o")
    ).select(
        "cx",
        "cy",
        (F.col("cx") + F.col("o.dx")).alias("nx"),
        (F.col("cy") + F.col("o.dy")).alias("ny"),
    )
    nbr = cells.select(
        F.col("cx").alias("nx"), F.col("cy").alias("ny"), F.col("c").alias("nc")
    )
    local = (
        probe.join(nbr, ["nx", "ny"])
        .groupBy("cx", "cy")
        .agg(
            F.sum("nc").cast("bigint").alias("local9"),
            F.count("*").cast("bigint").alias("k"),
        )
    )
    mean = F.col("s1").cast("double") / F.col("n_cells")
    sd = F.sqrt(F.col("s2").cast("double") / F.col("n_cells") - mean * mean)
    # integer degeneracy guard: all-equal cell counts (variance 0,
    # possible at tiny SF) score 0 instead of dividing by zero -
    # decided by the exact BIGINT cross-multiply on BOTH engines
    gi = F.when(
        F.col("s2") * F.col("n_cells") > F.col("s1") * F.col("s1"),
        (F.col("local9") - F.col("k") * mean)
        / (sd * F.sqrt(F.col("k").cast("double"))),
    ).otherwise(F.lit(0.0))
    return (
        local.crossJoin(F.broadcast(stats))
        .select(
            "cx",
            "cy",
            "local9",
            F.round(gi, 3).alias("gi_z"),
            gi.alias("_gi_exact"),
        )
        .orderBy(F.col("_gi_exact").desc(), "cx", "cy")
        .limit(10)
        .drop("_gi_exact")
    )


@register(
    "q202_weekend_did",
    oracle="""
    WITH g AS (
      SELECT CAST(sum(CASE WHEN wk = 1 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_we_post,
             CAST(sum(CASE WHEN wk = 1 AND post = 1 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS x_we_post,
             CAST(sum(CASE WHEN wk = 1 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_we_pre,
             CAST(sum(CASE WHEN wk = 1 AND post = 0 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS x_we_pre,
             CAST(sum(CASE WHEN wk = 0 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_wd_post,
             CAST(sum(CASE WHEN wk = 0 AND post = 1 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS x_wd_post,
             CAST(sum(CASE WHEN wk = 0 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_wd_pre,
             CAST(sum(CASE WHEN wk = 0 AND post = 0 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS x_wd_pre
      FROM (
        SELECT CASE WHEN CAST(floor(epoch(ts) / 86400) AS BIGINT) % 7
                    IN (2, 3) THEN 1 ELSE 0 END AS wk,
               CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS post,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
        FROM events)
    )
    SELECT round(CAST(x_we_post AS DOUBLE) / n_we_post, 4) AS r_we_post,
           round(CAST(x_we_pre AS DOUBLE) / n_we_pre, 4) AS r_we_pre,
           round(CAST(x_wd_post AS DOUBLE) / n_wd_post, 4) AS r_wd_post,
           round(CAST(x_wd_pre AS DOUBLE) / n_wd_pre, 4) AS r_wd_pre,
           round((CAST(x_we_post AS DOUBLE) / n_we_post
                  - CAST(x_we_pre AS DOUBLE) / n_we_pre)
                 - (CAST(x_wd_post AS DOUBLE) / n_wd_post
                    - CAST(x_wd_pre AS DOUBLE) / n_wd_pre), 4) AS did
    FROM g
    """,
)
def q202(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: the weekend-vs-weekday purchase-rate
    gap, before vs after a cutover date - the causal-contrast read
    that separates a weekend-targeted change from secular trend
    (estimate = (we_post - we_pre) - (wd_post - wd_pre)).

    All eight cell counts pivot in ONE partial-agg pass over a single
    scan; the DiD estimate is a fixed-shape double over exact
    BIGINTs."""
    e = load(spark, sf_dir, "events")
    wk = (
        (F.floor(F.col("ts").cast("double") / 86400).cast("bigint") % 7).isin(2, 3)
    ).cast("int")
    post = (F.col("ts") >= F.lit("2024-01-16").cast("timestamp")).cast("int")
    p = (F.col("event_type") == "purchase").cast("int")
    m = e.select(wk.alias("wk"), post.alias("post"), p.alias("p"))

    def cell(w, po, purch=False):
        cond = (F.col("wk") == w) & (F.col("post") == po)
        if purch:
            cond = cond & (F.col("p") == 1)
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    g = m.agg(
        cell(1, 1).alias("n_we_post"),
        cell(1, 1, True).alias("x_we_post"),
        cell(1, 0).alias("n_we_pre"),
        cell(1, 0, True).alias("x_we_pre"),
        cell(0, 1).alias("n_wd_post"),
        cell(0, 1, True).alias("x_wd_post"),
        cell(0, 0).alias("n_wd_pre"),
        cell(0, 0, True).alias("x_wd_pre"),
    )
    r = lambda x, n: F.col(x).cast("double") / F.col(n)  # noqa: E731
    did = (r("x_we_post", "n_we_post") - r("x_we_pre", "n_we_pre")) - (
        r("x_wd_post", "n_wd_post") - r("x_wd_pre", "n_wd_pre")
    )
    return g.select(
        F.round(r("x_we_post", "n_we_post"), 4).alias("r_we_post"),
        F.round(r("x_we_pre", "n_we_pre"), 4).alias("r_we_pre"),
        F.round(r("x_wd_post", "n_wd_post"), 4).alias("r_wd_post"),
        F.round(r("x_wd_pre", "n_wd_pre"), 4).alias("r_wd_pre"),
        F.round(did, 4).alias("did"),
    )

"""Q186-Q190: the sequence & language-model battery.

Second-order Markov transitions, bot-burst detection, month-over-month
revenue retention, vocabulary-growth curves, and bigram-LM perplexity
scoring - the sequential reads over the events stream and the
documents corpus that round out q113 (first-order transitions), q81
(unigram surprisal), and q110 (cohort retention).

Determinism discipline: time differences are exact BIGINT
microseconds (unix_micros / epoch_us, never double seconds - double
seconds cannot represent odd microseconds near epoch scale); revenue
is exact BIGINT cents with least() floors; probabilities are
fixed-shape divisions of BIGINT counts; and the one float-producing
primitive (ln in q190) is quantized PER TOKEN to BIGINT micro-nats
before any reduction, so every per-doc sum is order-insensitive
integer addition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_daq_spark.registry import register
from iceberg_daq_spark.tables import load


@register(
    "q186_markov2_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type AS nxt,
             lag(event_type, 1) OVER w AS p1,
             lag(event_type, 2) OVER w AS p2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), tri AS (
      SELECT p2, p1, nxt, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE p2 IS NOT NULL
      GROUP BY 1, 2, 3
    )
    SELECT p2, p1, nxt, n,
           round(n * 1.0 / CAST(sum(n) OVER (PARTITION BY p2, p1)
                                AS BIGINT), 4) AS prob
    FROM tri
    ORDER BY p2, p1, nxt
    """,
)
def q186(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order Markov transition table: P(next | prev2, prev1)
    over each user's time-ordered event stream - the context model
    behind "a view then a click converts differently than two views"
    (extends q113's first-order matrix).

    100 TB shape: ONE user-partitioned window shuffle produces both
    lags (bounded per-user state, never a global order), the trigram
    agg reduces to at most |types|^3 = 125 cells, and the conditional
    denominator is a window-sum over that reduced cell table - no
    second scan, no join."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("nxt"),
        F.lag("event_type", 1).over(w).alias("p1"),
        F.lag("event_type", 2).over(w).alias("p2"),
    )
    tri = (
        seq.filter(F.col("p2").isNotNull())
        .groupBy("p2", "p1", "nxt")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    wcell = Window.partitionBy("p2", "p1")
    return tri.select(
        "p2",
        "p1",
        "nxt",
        "n",
        F.round(
            F.col("n") * 1.0 / F.sum("n").over(wcell).cast("bigint"), 4
        ).alias("prob"),
    ).orderBy("p2", "p1", "nxt")


@register(
    "q187_bot_burst_score",
    oracle="""
    WITH stamped AS (
      SELECT user_id, epoch_us(ts) AS us,
             row_number() OVER w AS rn,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                       <= 1000000 THEN 1 ELSE 0 END AS fast
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), grouped AS (
      SELECT user_id, fast,
             rn - row_number() OVER (PARTITION BY user_id, fast
               ORDER BY rn) AS grp,
             us
      FROM stamped
    ), g1 AS (
      SELECT user_id, fast, grp,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(min(us) AS BIGINT) AS mn_us,
             CAST(max(us) AS BIGINT) AS mx_us
      FROM grouped GROUP BY 1, 2, 3
    ), g2 AS (
      SELECT user_id,
             CAST(sum(cnt) AS BIGINT) AS n_events,
             CAST(sum(CASE WHEN fast = 1 THEN cnt ELSE 0 END) AS BIGINT)
               AS n_fast,
             CAST(coalesce(max(CASE WHEN fast = 1 THEN cnt END), 0) + 1
                  AS BIGINT) AS max_burst,
             CAST(max(mx_us) - min(mn_us) AS BIGINT) AS span_us
      FROM g1 GROUP BY 1
    )
    SELECT user_id, n_events, max_burst,
           round(n_fast * 1.0 / (n_events - 1), 4) AS fast_share,
           round(n_events * 3600000000.0 / span_us, 2) AS events_per_hour
    FROM g2
    WHERE n_events >= 2 AND span_us > 0
    ORDER BY max_burst DESC, n_events DESC, user_id
    LIMIT 20
    """,
)
def q187(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot-burst detection: per user, the longest run of consecutive
    events arriving within 1 second of each other (gaps-and-islands
    on the inter-event gap), the share of sub-second gaps, and the
    sustained event rate - the superhuman-cadence heuristics of abuse
    filters.  Top 20 by burst length.

    Gaps are exact BIGINT microseconds (unix_micros - double seconds
    cannot represent odd microseconds at epoch scale).  100 TB shape:
    ONE consumption of the stream - the islands trick (rn minus rank
    within the (user, fast) stratum) plus a two-level aggregation
    carry the burst lengths AND the per-user stats through the same
    lineage, so there is no join, no second scan, and both window
    passes share the user-partitioned sort."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    stamped = e.select(
        "user_id",
        us.alias("us"),
        "event_id",
        "ts",
        F.row_number().over(w).alias("rn"),
        F.when(us - F.lag(us).over(w) <= 1_000_000, 1).otherwise(0).alias("fast"),
    )
    wf = Window.partitionBy("user_id", "fast").orderBy("rn")
    grouped = stamped.select(
        "user_id",
        "fast",
        (F.col("rn") - F.row_number().over(wf)).alias("grp"),
        "us",
    )
    g1 = grouped.groupBy("user_id", "fast", "grp").agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.min("us").cast("bigint").alias("mn_us"),
        F.max("us").cast("bigint").alias("mx_us"),
    )
    g2 = g1.groupBy("user_id").agg(
        F.sum("cnt").cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("fast") == 1, F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_fast"),
        (
            F.coalesce(
                F.max(F.when(F.col("fast") == 1, F.col("cnt"))), F.lit(0)
            )
            + 1
        )
        .cast("bigint")
        .alias("max_burst"),
        (F.max("mx_us") - F.min("mn_us")).cast("bigint").alias("span_us"),
    )
    return (
        g2.filter((F.col("n_events") >= 2) & (F.col("span_us") > 0))
        .select(
            "user_id",
            "n_events",
            "max_burst",
            F.round(F.col("n_fast") * 1.0 / (F.col("n_events") - 1), 4).alias(
                "fast_share"
            ),
            F.round(
                F.col("n_events") * 3600000000.0 / F.col("span_us"), 2
            ).alias("events_per_hour"),
        )
        .orderBy(F.col("max_burst").desc(), F.col("n_events").desc(), "user_id")
        .limit(20)
    )


@register(
    "q188_revenue_retention",
    oracle="""
    WITH um AS (
      SELECT user_id,
             CAST(year(ts) * 12 + month(ts) - 1 AS BIGINT) AS ym,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1, 2
    )
    SELECT p.ym + 1 AS ym,
           CAST(count(*) AS BIGINT) AS n_prev_users,
           round(sum(least(coalesce(c.cents, 0), p.cents)) * 1.0
                 / sum(p.cents), 4) AS grr,
           round(sum(coalesce(c.cents, 0)) * 1.0 / sum(p.cents), 4) AS nrr
    FROM um p
    LEFT JOIN um c ON c.user_id = p.user_id AND c.ym = p.ym + 1
    GROUP BY 1 ORDER BY 1
    """,
)
def q188(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue retention: for each month's paying
    users, the share of their prior-month revenue kept (GRR floors
    each user at their prior spend - contraction only) and the net
    ratio including expansion (NRR) - the SaaS-dashboard pair, here
    over purchase events.

    100 TB shape: one scan reduces to the (user, month) grain, pinned
    with localCheckpoint so the month-shift self-join reads the
    reduction twice; the join key (user, month) is the reduction's
    own grain (co-partitioned), and all ratios divide exact BIGINT
    cents with least() floors."""
    e = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    um = (
        e.groupBy(
            "user_id",
            (F.year("ts") * 12 + F.month("ts") - 1).cast("bigint").alias("ym"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
        .localCheckpoint()
    )
    p = um.select("user_id", "ym", F.col("cents").alias("p_cents"))
    c = um.select(
        F.col("user_id").alias("c_user"),
        (F.col("ym") - 1).alias("c_prev_ym"),
        F.col("cents").alias("c_cents"),
    )
    cur = F.coalesce(F.col("c_cents"), F.lit(0))
    return (
        p.join(
            c,
            (p.user_id == c.c_user) & (p.ym == c.c_prev_ym),
            "left",
        )
        .groupBy((F.col("ym") + 1).alias("ym"))
        .agg(
            F.count("*").cast("bigint").alias("n_prev_users"),
            F.round(
                F.sum(F.least(cur, F.col("p_cents"))) * 1.0 / F.sum("p_cents"),
                4,
            ).alias("grr"),
            F.round(F.sum(cur) * 1.0 / F.sum("p_cents"), 4).alias("nrr"),
        )
        .orderBy("ym")
    )


@register(
    "q189_vocab_growth",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), firsts AS (
      SELECT w, CAST(min(doc_id) AS BIGINT) AS first_doc FROM tok GROUP BY w
    ), nd AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
    ), bucketed AS (
      SELECT (first_doc * 10) // n_docs AS bucket,
             CAST(count(*) AS BIGINT) AS new_words
      FROM firsts CROSS JOIN nd
      GROUP BY 1
    )
    SELECT CAST(bucket AS BIGINT) AS bucket, new_words,
           CAST(sum(new_words) OVER (ORDER BY bucket ROWS BETWEEN
             UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
    FROM bucketed ORDER BY bucket
    """,
)
def q189(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve: how many NEW distinct words each
    decile of the corpus (by doc_id order) introduces, and the
    cumulative vocabulary - the Heaps'-law read that tells a curation
    pipeline when more data stops buying new language.

    100 TB shape: one explode + one word-grain agg (the only big
    shuffle); first-occurrence is min(doc_id) - no per-doc ordering
    state - and the decile bucket uses INTEGER division of BIGINTs
    (first_doc*10 div n_docs) so no float boundary can flip a bucket.
    The cumulative window runs over at most 10 rows."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    firsts = tok.groupBy("w").agg(F.min("doc_id").cast("bigint").alias("first_doc"))
    nd = d.agg(F.count("*").cast("bigint").alias("n_docs"))
    bucketed = (
        firsts.crossJoin(F.broadcast(nd))
        .groupBy(
            F.expr("first_doc * 10 div n_docs").cast("bigint").alias("bucket")
        )
        .agg(F.count("*").cast("bigint").alias("new_words"))
    )
    wcum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return bucketed.select(
        "bucket",
        "new_words",
        F.sum("new_words").over(wcum).cast("bigint").alias("cum_vocab"),
    ).orderBy("bucket")


def doc_bigram_types(spark: SparkSession, sf_dir: str):
    """``(tok, dtri)``: the posexploded token stream and the per-doc
    bigram-TYPE reduction (multiplicity ``m``) that q190 and q250 pin
    and every LM model table re-aggregates from."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    dtri = (
        tok.select(
            "doc_id", F.lag("w").over(wdoc).alias("prev"), F.col("w").alias("cur")
        )
        .filter(F.col("prev").isNotNull())
        .groupBy("doc_id", "prev", "cur")
        .agg(F.count("*").cast("bigint").alias("m"))
    )
    return tok, dtri


@register(
    "q190_bigram_perplexity",
    oracle="""
    WITH tok AS (
      SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS w
      FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
    ), dtri AS (
      SELECT a.doc_id, a.w AS prev, b.w AS cur,
             CAST(count(*) AS BIGINT) AS m
      FROM tok a JOIN tok b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      GROUP BY 1, 2, 3
    ), big AS (
      SELECT prev, cur, CAST(sum(m) AS BIGINT) AS c2
      FROM dtri GROUP BY 1, 2
    ), ctx AS (
      SELECT prev, CAST(sum(c2) AS BIGINT) AS c1 FROM big GROUP BY 1
    ), vocab AS (
      SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM tok
    ), scored AS (
      SELECT d.doc_id, d.m,
             CAST(round(ln((b.c2 + 1.0) / (x.c1 + v.v)) * 1000000)
                  AS BIGINT) AS micronats
      FROM dtri d
      JOIN big b ON b.prev = d.prev AND b.cur = d.cur
      JOIN ctx x ON x.prev = d.prev
      CROSS JOIN vocab v
    )
    SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
           round(-sum(m * micronats) / (1000000.0 * sum(m)), 3) AS nll_nats
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def q190(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity scoring: train add-one-smoothed bigram
    probabilities on the corpus itself, score every document by its
    mean negative log-likelihood per bigram - the fluency filter that
    flags word-salad (extends q81's unigram surprisal with one word
    of context).

    Each bigram TYPE's log-probability quantizes to BIGINT micro-nats
    and multiplies by its integer multiplicity BEFORE the per-doc
    reduction, so every sum is order-insensitive integer addition (a
    raw float sum over thousands of tokens is where engines diverge).
    100 TB shape: bigram pairs come from a doc-partitioned window lag
    over the posexploded token stream (no positional self-join in
    Spark - the SQL spells the equivalent join for DuckDB), reduce
    immediately to per-doc bigram types with multiplicity, and that
    reduction is pinned - the corpus model (bigram/context counts)
    re-aggregates from it and broadcasts back onto it, so the token
    stream is materialized exactly once (one more pruned scan counts
    the vocabulary)."""
    tok, dtri_plan = doc_bigram_types(spark, sf_dir)
    dtri = dtri_plan.localCheckpoint()
    big = dtri.groupBy("prev", "cur").agg(F.sum("m").cast("bigint").alias("c2"))
    ctx = big.groupBy("prev").agg(F.sum("c2").cast("bigint").alias("c1"))
    vocab = tok.agg(F.countDistinct("w").cast("bigint").alias("v"))
    micronats = (
        F.round(
            F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("v"))) * 1_000_000
        )
        .cast("bigint")
        .alias("micronats")
    )
    # the model tables are VOCABULARY-sized (Heaps's law: bigram
    # types grow ~sublinearly - measured 931 types at sf0.1 and 6,310
    # at 10x, well under a MB) so the broadcast hint is load-bearing:
    # without it Catalyst's static estimate of the checkpoint-derived
    # aggregates plans SMJ and the PINNED TYPE TABLE itself gets
    # shuffle-written before AQE can convert (measured 2x the stress
    # wall).  A corpus whose bigram vocabulary genuinely outgrows
    # broadcast would drop the hints and take the context-keyed SMJ.
    scored = (
        dtri.join(F.broadcast(big), ["prev", "cur"])
        .join(F.broadcast(ctx), "prev")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", "m", micronats)
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("m").cast("bigint").alias("n_bigrams"),
            F.round(
                -F.sum(F.col("m") * F.col("micronats"))
                / (1_000_000.0 * F.sum("m")),
                3,
            ).alias("nll_nats"),
        )
        .orderBy("doc_id")
    )


@register(
    "q250_kneser_ney_bigram",
    oracle="""
    WITH tok AS (
      SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS w
      FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
    ), dtri AS (
      SELECT a.doc_id, a.w AS prev, b.w AS cur,
             CAST(count(*) AS BIGINT) AS m
      FROM tok a JOIN tok b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      GROUP BY 1, 2, 3
    ), big AS (
      SELECT prev, cur, CAST(sum(m) AS BIGINT) AS c2
      FROM dtri GROUP BY 1, 2
    ), ctx AS (
      SELECT prev, CAST(sum(c2) AS BIGINT) AS c1,
             CAST(count(*) AS BIGINT) AS n_post
      FROM big GROUP BY 1
    ), cont AS (
      SELECT cur, CAST(count(*) AS BIGINT) AS n_pre FROM big GROUP BY 1
    ), tt AS (
      SELECT CAST(count(*) AS BIGINT) AS t FROM big
    ), scored AS (
      SELECT d.doc_id, d.m,
             CAST(round(ln(
               ((b.c2 - 0.75) / x.c1)
               + (((0.75 * x.n_post) / x.c1) * (co.n_pre / tt.t))
             ) * 1000000) AS BIGINT) AS micronats
      FROM dtri d
      JOIN big b ON b.prev = d.prev AND b.cur = d.cur
      JOIN ctx x ON x.prev = d.prev
      JOIN cont co ON co.cur = d.cur
      CROSS JOIN tt
    )
    SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
           round(-sum(m * micronats) / (1000000.0 * sum(m)), 3) AS kn_nll_nats
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def q250(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney smoothed bigram LM scoring (absolute discount
    d=0.75, continuation-probability backoff): the production-grade
    upgrade of q190's add-one smoothing - KN is what real LM-based
    quality filters use, because continuation counts ("how many
    distinct contexts does this word follow?") rank function words
    correctly where raw frequency overweights them.

    Same engine-parity discipline as q190: every bigram TYPE's
    log-probability quantizes to BIGINT micro-nats and multiplies by
    its integer multiplicity before the per-doc reduction (all
    order-insensitive integer sums), and the probability expression
    is parenthesized IDENTICALLY in Spark and the oracle so both
    engines evaluate the same double-op sequence.  Every scored
    bigram was observed in training (the corpus scores itself), so
    max(c2-d, 0) = c2-d > 0 and no zero-probability branch exists.

    100 TB shape: the token stream reduces ONCE to the pinned per-doc
    bigram-type table (dtri, multiplicity m); the model tables - c2
    per bigram, (c1, n_post distinct continuations) per context,
    n_pre distinct-context counts per word, and the scalar type
    total - all re-aggregate from dtri and broadcast back onto it;
    the corpus is never reshuffled by vocabulary."""
    dtri = doc_bigram_types(spark, sf_dir)[1].localCheckpoint()
    big = dtri.groupBy("prev", "cur").agg(F.sum("m").cast("bigint").alias("c2"))
    ctx = big.groupBy("prev").agg(
        F.sum("c2").cast("bigint").alias("c1"),
        F.count("*").cast("bigint").alias("n_post"),
    )
    cont = big.groupBy("cur").agg(F.count("*").cast("bigint").alias("n_pre"))
    tt = big.agg(F.count("*").cast("bigint").alias("t"))
    p_kn = ((F.col("c2") - 0.75) / F.col("c1")) + (
        ((0.75 * F.col("n_post")) / F.col("c1")) * (F.col("n_pre") / F.col("t"))
    )
    micronats = (
        F.round(F.log(p_kn) * 1_000_000).cast("bigint").alias("micronats")
    )
    # same hint discipline as q190 (see the measured note there): the
    # KN model tables are vocabulary-bounded, so they broadcast
    # explicitly - the hint keeps the pinned type table from being
    # shuffle-written for an SMJ that AQE would only partly undo
    scored = (
        dtri.join(F.broadcast(big), ["prev", "cur"])
        .join(F.broadcast(ctx), "prev")
        .join(F.broadcast(cont), "cur")
        .crossJoin(F.broadcast(tt))
        .select("doc_id", "m", micronats)
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("m").cast("bigint").alias("n_bigrams"),
            F.round(
                -F.sum(F.col("m") * F.col("micronats"))
                / (1_000_000.0 * F.sum("m")),
                3,
            ).alias("kn_nll_nats"),
        )
        .orderBy("doc_id")
    )

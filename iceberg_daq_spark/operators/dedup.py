"""Deduplication operators for document corpora.

Five tiers, all shuffle-architected for 100 TB:

  exact          content-hash groupBy (one shuffle on a 128-bit hash)
  ngram_jaccard  exact n-gram Jaccard.  Two discovery plans: AllPairs
                 prefix filtering (ngram_jaccard_prefix_pairs - the
                 registered, LOSSLESS scale path: only each doc's
                 rarest n - ceil(t*n) + 1 shingles post to the index)
                 and the plain inverted-index self-join with an
                 optional df_max hot-shingle valve (complete-discovery
                 reference / legacy valve semantics)
  minhash_lsh    map-only MinHash signatures + banded LSH candidate
                 generation, then exact verification of candidates only
  simhash        64-bit SimHash + chunk-banded Hamming candidates
  components     transitive closure of near-dup pairs into dedup
                 groups (iterative min-label propagation)

At scale the naive ngram inverted index is the bottleneck (a shingle
shared by d documents emits d^2 pairs); prefix filtering bounds the
per-shingle term to prefix occupancy^2 with zero recall loss, and
minhash_lsh trades exactness for band-bucket-bounded fanout.  The
reference has no near-dup operator; these extend the engine per the
north-star contract (BASELINE.json).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# 31-bit Mersenne prime: (a*h+b) stays under 2^62, safe for int64 ANSI
# arithmetic (h, a, b all < 2^31).
MERSENNE_P = (1 << 31) - 1
NUM_PERM = 32
BANDS = 8  # 8 bands x 4 rows

# connected_components' small-graph valve: edge lists at or below this
# many rows close transitively on the driver instead of 4-6 Spark jobs
# per propagation round.  Memory math for the cap: the collect rides
# one Arrow batch of two int64 columns (16 B/edge -> 64 MB at the cap)
# and the numpy closure adds two id arrays plus a compacted label
# array (~3 more int64 vectors), so peak driver footprint stays under
# ~0.25 GB - small against any realistic driver heap, while ~100x the
# old 200k cap (which was sized for the dict-based union-find whose
# Python-loop constant, not memory, was the binding limit).  Tests pin
# it low/zero to drive the distributed branch.
CC_DRIVER_EDGE_MAX = 8_000_000


def _perm_coeffs(seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE_P), rng.randrange(0, MERSENNE_P))
        for _ in range(NUM_PERM)
    ]


def shingle_sets(docs: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """Distinct k-word shingles per document as one array column:
    (doc_id, sh_set).  Entirely map-side - per-doc distinctness is
    ``array_distinct``, so no shuffle happens here at all (the earlier
    exploded form paid a global ``.distinct()`` shuffle for the same
    per-document semantics).

    Built as a zip of k shifted slices of the token array rather than a
    ``transform(sequence(...), i -> element_at(w, i+j)...)`` lambda: the
    lambda form re-evaluates ``split(text)`` for every element access
    (O(words^2) per doc, measured 5x slower at sf0.1), while the slices
    reference the split array exactly k times total.
    """
    w = F.split(F.col(text_col), " ")
    n_sh = F.greatest(F.size(w) - (k - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(w, 1 + j, n_sh) for j in range(k)])
    sh = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(k)])
    )
    return docs.select("doc_id", F.array_distinct(sh).alias("sh_set"))


def shingles(docs: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """Distinct k-word shingles per document: (doc_id, shingle).
    Explode of :func:`shingle_sets` - still map-only (rows are unique
    per doc by construction, no distinct shuffle needed).

    ``explode_outer`` + null-filter rather than ``explode``: plain
    explode triggers InferFiltersFromGenerate, which clones the entire
    shingle expression into a ``size(...) > 0`` pre-filter and doubles
    the per-row evaluation; the outer form keeps one evaluation and
    drops empty docs with a cheap filter on the generated column.
    """
    return (
        shingle_sets(docs, text_col, k)
        .select("doc_id", F.explode_outer("sh_set").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup by content hash: canonical id = min doc_id per hash."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def ngram_jaccard_prefix_pairs(
    docs: DataFrame, threshold: float = 0.5, k: int = 3
) -> DataFrame:
    """Exact n-gram Jaccard pairs via AllPairs/PPJoin prefix filtering
    (Bayardo et al., WWW'07; Xiao et al., WWW'08) - the lossless
    100 TB discovery path.

    Order every document's shingles by ascending global document
    frequency (ties by hash: (df, h) is a total order because df is a
    function of h).  For Jaccard >= t a pair must share a shingle
    within BOTH probe prefixes of length n - ceil(t*n) + 1: if it
    didn't, all |A n B| >= ceil(t*|A|) common shingles would sit in
    A's suffix of size ceil(t*|A|) - 1 (and symmetrically - the
    later-ending prefix always contains a shared common token).  So
    candidate discovery joins ONLY prefix postings - the rarest
    (1-t) fraction of each doc's shingles - and boilerplate
    (high-df) shingles fall out of prefixes by construction instead
    of by a df_max cap.  Unlike the valve, NO true pair can be lost:
    output is identical to complete discovery at every corpus, while
    per-shingle fanout is (docs-with-it-in-prefix)^2, not df^2.

    The size filter t*|B| <= |A| <= |B|/t (a Jaccard necessity) prunes
    candidates at the posting join before the distinct; the PPJoin
    POSITIONAL filter prunes further: a posting row matching at
    positions (i, j) of the df-ordered docs bounds the overlap by
    min(n_a - i, n_b - j) + 1 (every common shingle of THAT match's
    suffix pair), so rows whose bound cannot reach the Jaccard overlap
    requirement o >= t*(n_a+n_b)/(1+t) drop before the distinct.
    Lossless: a true pair's FIRST shared shingle in global df-order
    lies in both prefixes (the AllPairs guarantee) and at that row all
    common shingles sit at-or-after (i, j), so its bound >= o passes.
    Survivors are verified exactly with one array_intersect over the
    full hashed shingle sets (map-only rebuild, no second explode
    shuffle).
    """
    sets = shingle_sets(docs, k=k).cache()
    # full hashed sets for verification: map-only, 8-byte elements
    hs = sets.select(
        "doc_id", F.transform("sh_set", lambda s: F.xxhash64(s)).alias("hs")
    )
    # carry |set| with every posting from the array (map-side) so the
    # doc-partitioned window below computes ONLY row_number - a second
    # unordered count-over-partition pass would double the WindowExec
    sh = sets.select(
        "doc_id",
        F.size("sh_set").alias("n"),
        F.explode("sh_set").alias("shingle"),
    ).select("doc_id", "n", F.xxhash64("shingle").alias("h"))
    freq = sh.groupBy("h").agg(F.count("*").alias("df"))
    wdoc = Window.partitionBy("doc_id").orderBy("df", "h")
    ranked = sh.join(freq, "h").select(
        "doc_id", "h", "n", F.row_number().over(wdoc).alias("rn")
    )
    prefix = ranked.filter(
        F.col("rn")
        <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
    )
    pa = prefix.select(
        F.col("doc_id").alias("doc_a"),
        "h",
        F.col("n").alias("n_a"),
        F.col("rn").alias("rn_a"),
    )
    pb = prefix.select(
        F.col("doc_id").alias("doc_b"),
        "h",
        F.col("n").alias("n_b"),
        F.col("rn").alias("rn_b"),
    )
    # overlap upper bound at this match position vs the Jaccard
    # overlap requirement (1e-6 slack keeps float rounding from ever
    # crossing an integer boundary and over-pruning)
    ub = (
        F.least(
            F.col("n_a") - F.col("rn_a"), F.col("n_b") - F.col("rn_b")
        )
        + 1
    )
    alpha = F.lit(threshold / (1.0 + threshold)) * (
        F.col("n_a") + F.col("n_b")
    )
    cand = (
        pa.join(pb, "h")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("n_a") >= F.lit(threshold) * F.col("n_b"))
            & (F.col("n_b") >= F.lit(threshold) * F.col("n_a"))
            & (ub >= alpha - F.lit(1e-6))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    ha = hs.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    hb = hs.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    verified = (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("hs_a", "hs_b"))
            .cast("long")
            .alias("n_common"),
            F.size("hs_a").alias("n_a"),
            F.size("hs_b").alias("n_b"),
        )
    )
    exact = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return verified.filter(exact >= threshold).select(
        "doc_a", "doc_b", "n_common", F.round(exact, 4).alias("jaccard")
    )


CONTAINMENT_PREFIX_EXT = 2
"""AdaptJoin prefix extension for :func:`containment_pairs`: the
contained side posts ``ext`` shingles beyond the minimal AllPairs
prefix, which makes "at least ``ext + 1`` prefix matches" a LOSSLESS
pair requirement (Wang/Li/Feng, "Can we beat the prefix filtering?",
SIGMOD 2012).  The minimal prefix only supports a 1-match test, and
pairs sharing a single incidentally-rare shingle flood it: at the 10x
stress corpus the 1-match candidate set is ~10.4M pairs for ~150k
true results, while ext=2 cuts it to ~416k for ~30% more posting-join
rows - the verify stage (which shuffles both docs' full hash sets per
candidate) is the expensive part, so trading a slightly wider index
for 25x fewer candidates is the right 100 TB direction."""


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    k: int = 3,
    prefix_ext: int = CONTAINMENT_PREFIX_EXT,
) -> DataFrame:
    """Directed containment pairs: (doc_a, doc_b) where
    |A n B| / |A| >= threshold - doc_a's shingle content mostly lives
    inside doc_b.  The asymmetric complement of the Jaccard family:
    an excerpt/quote of a long document has low Jaccard against it
    (|B| dominates the union) but high containment, so q41/q42 never
    surface it.

    Lossless prefix filter on the CONTAINED side only: for
    C(A->B) >= t, at most |A| - ceil(t*|A|) of A's shingles may miss
    B, so A's first |A| - ceil(t*|A|) + 1 + ext shingles in ascending
    global df order must contain at least ext + 1 shared with B (else
    too many of A's rarest shingles are outside B) - the AdaptJoin
    extended-prefix count test (see CONTAINMENT_PREFIX_EXT; for docs
    tiny enough that the extended prefix covers everything, the
    requirement tightens to the full ceil(t*|A|) since every common
    shingle is then a prefix match).  B carries no PREFIX bound
    relative to A, so B's side joins full postings - but the size
    filter |B| >= t*|A| prunes at the join (n_common >= t*|A| and
    n_common <= |B|: a container can't be much smaller than its
    excerpt), and the count test runs as one slim partial-aggregable
    count(*) per pair.  (A PPJoin-style positional bound on max
    matched B-rank was measured to prune only ~9% more candidates at
    the 10x stress corpus while costing a max() aggregate per pair -
    the count test does the real work here, so the extra term is
    deliberately omitted.)

    Survivors verify exactly on the hashed shingle sets, so precision
    is 1 by construction; output is directed (a contained-in b), with
    exact-duplicate families appearing in both directions.
    """
    sets = shingle_sets(docs, k=k).cache()
    hs = sets.select(
        "doc_id", F.transform("sh_set", lambda s: F.xxhash64(s)).alias("hs")
    )
    sh = sets.select(
        "doc_id",
        F.size("sh_set").alias("n"),
        F.explode("sh_set").alias("shingle"),
    ).select("doc_id", "n", F.xxhash64("shingle").alias("h"))
    freq = sh.groupBy("h").agg(F.count("*").alias("df"))
    wdoc = Window.partitionBy("doc_id").orderBy("df", "h")
    ranked = sh.join(freq, "h").select(
        "doc_id", "h", "n", F.row_number().over(wdoc).alias("rn")
    )
    prefix_a = ranked.filter(
        F.col("rn")
        <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1 + prefix_ext
    ).select(
        F.col("doc_id").alias("doc_a"),
        "h",
        F.col("n").alias("n_a"),
    )
    full_b = ranked.select(
        F.col("doc_id").alias("doc_b"),
        "h",
        F.col("n").alias("n_b"),
    )
    cand = (
        prefix_a.join(full_b, "h")
        .filter(
            (F.col("doc_a") != F.col("doc_b"))
            & (F.col("n_b") >= F.lit(threshold) * F.col("n_a"))
        )
        # n_a rides the group key (functionally dependent on doc_a) so
        # the aggregate stays a pure codegen count - no first() buffers
        .groupBy("doc_a", "doc_b", "n_a")
        .agg(F.count("*").alias("c"))
        .filter(
            F.col("c")
            >= F.least(
                F.lit(prefix_ext + 1).cast("long"),
                F.ceil(F.lit(threshold) * F.col("n_a")),
            )
        )
        .select("doc_a", "doc_b")
    )
    ha = hs.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"), F.size("hs").alias("n_a"))
    hb = hs.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    containment = F.col("n_common") / F.col("n_a")
    return (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("hs_a", "hs_b")).cast("long"))
        .filter(containment >= threshold)
        .select("doc_a", "doc_b", "n_common", F.round(containment, 4).alias("containment"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.5, k: int = 3, df_max: int | None = None
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >=1 shingle.

    NOT a production discovery path - :func:`ngram_jaccard_prefix_pairs`
    (lossless AllPairs/PPJoin, strictly less fan-out, no recall caveat)
    is what every registered query uses.  This full inverted-index
    formulation is retained as the INDEPENDENT TEST TWIN: the operator
    tests use it as the recall ground truth for LSH/SimHash and as the
    differential check on the prefix path, precisely because it shares
    no pruning logic with either.

    Inverted-index plan: explode distinct shingles, self-join on the
    shingle (one shuffle), count common shingles per pair, then
    |A intersect B| / (|A| + |B| - common).  Pairs sharing nothing never
    materialize.

    ``df_max`` is the legacy hot-key valve this twin predates the
    prefix filter by: a shingle appearing in d documents emits d^2
    index pairs, so with it set, pair *discovery* runs only over
    shingles with document frequency <= df_max (LOSSY: drops pairs
    whose every shared shingle is that hot) and survivors are verified
    exactly.  Kept only so the tests can still demonstrate what the
    valve loses vs the lossless prefix filter; default None = complete
    discovery (q41's oracle semantics).
    """
    sets = shingle_sets(docs, k=k).cache()
    # join/shuffle on xxhash64(shingle), not the string: the inverted
    # index shuffles hundreds of GB of ~25-byte text keys at corpus
    # scale, and an 8-byte key shrinks the exchanges and makes the
    # equi-join comparisons long-vs-long.  Per-doc shingles are
    # distinct, so per-pair counts stay |A n B| exactly; a 64-bit
    # collision (p ~ n_distinct^2 / 2^64) is the same accepted risk as
    # the exact-dedup content hash.  The string survives alongside only
    # where the hot-set verification needs it.
    sh = sets.select(
        "doc_id",
        F.explode("sh_set").alias("shingle"),
    ).select("doc_id", F.xxhash64("shingle").alias("h"), "shingle")
    if df_max is not None:
        # split the index by document frequency: pair DISCOVERY and
        # per-pair common counting run only over sub-hot shingles (the
        # d^2 term stays bounded by df_max^2 per shingle); the exact
        # |A n B| then adds back the hot contribution from tiny per-doc
        # hot-shingle arrays (at most a handful of shingles exceed
        # df_max anywhere - boilerplate - so the intersect is O(hot)
        # per pair, never O(|set|) like a full-set verification).
        freq = sh.groupBy("h").agg(F.count("*").alias("df")).cache()
        rare_idx = sh.join(
            freq.filter(F.col("df") <= df_max).select("h"), "h"
        )
        rare_common = (
            rare_idx.select(F.col("doc_id").alias("doc_a"), "h")
            .join(
                rare_idx.select(F.col("doc_id").alias("doc_b"), "h"),
                "h",
            )
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("rare_common"))
        )
        hot_sets = (
            sh.join(freq.filter(F.col("df") > df_max).select("h"), "h")
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_list("shingle")).alias("hot_set"))
        )
        sizes = sets.select("doc_id", F.size("sh_set").alias("n_shingles"))
        sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a"))
        sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b"))
        ha = hot_sets.select(F.col("doc_id").alias("doc_a"), F.col("hot_set").alias("hot_a"))
        hb = hot_sets.select(F.col("doc_id").alias("doc_b"), F.col("hot_set").alias("hot_b"))
        empty = F.array().cast("array<string>")
        verified = (
            rare_common.join(sa, "doc_a")
            .join(sb, "doc_b")
            .join(ha, "doc_a", "left")
            .join(hb, "doc_b", "left")
            .withColumn(
                "n_common",
                (
                    F.col("rare_common")
                    + F.size(
                        F.array_intersect(
                            F.coalesce("hot_a", empty), F.coalesce("hot_b", empty)
                        )
                    )
                ).cast("long"),
            )
        )
    else:
        a = sh.select(F.col("doc_id").alias("doc_a"), "h")
        b = sh.select(F.col("doc_id").alias("doc_b"), "h")
        common = (
            a.join(b, "h")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_common"))
        )
        sizes = sets.select("doc_id", F.size("sh_set").alias("n_shingles"))
        sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a"))
        sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b"))
        verified = common.join(sa, "doc_a").join(sb, "doc_b")
    # threshold the EXACT ratio; round only for presentation.  Rounding
    # first would admit a true jaccard of threshold-epsilon (e.g.
    # 0.49996 rounds to 0.5) and diverge from the oracle's unrounded
    # comparison at boundary values.
    exact = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        verified.filter(exact >= threshold)
        .select("doc_a", "doc_b", "n_common", F.round(exact, 4).alias("jaccard"))
    )


def _minhash_bands(sets: DataFrame, seed: int = 42) -> DataFrame:
    """(doc_id, band, bucket) LSH band buckets, computed map-only.

    A document is one row of ``sets`` (doc_id, sh_set), so shingle
    hashing, the NUM_PERM permutation min-fold, and band bucketing all
    happen in one numpy pass per Arrow batch - nothing shuffles until
    the bucket equi-join.  Docs with no shingles are skipped (an
    exploded (doc_id, shingle) groupBy would produce no row for them
    either).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    coeffs = np.array(_perm_coeffs(seed), dtype=np.uint64)
    A, B = coeffs[:, 0:1], coeffs[:, 1:2]  # (NUM_PERM, 1) each
    P = np.uint64(MERSENNE_P)
    rows = NUM_PERM // BANDS
    FNV = np.uint64(1099511628211)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("band", T.IntegerType()),
            T.StructField("bucket", T.LongType()),
        ]
    )

    def gen(batches):
        band_ids = np.arange(BANDS, dtype=np.int32)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # whole-batch vectorization: flatten every doc's shingles
            # into one object array, hash ONCE, run each permutation
            # as a single vectorized pass with a segmented min
            # (np.minimum.reduceat) instead of a per-doc Python loop
            # over tiny arrays - same uint64 wrap-around arithmetic,
            # bit-identical signatures, ~3x faster on the 10x stress
            # corpus.  Permutations run one at a time so peak scratch
            # stays at O(total shingles), not O(NUM_PERM * total).
            sh_col = [np.asarray(s, dtype=object) for s in pdf["sh_set"]]
            lens = np.fromiter((len(s) for s in sh_col), dtype=np.int64, count=len(sh_col))
            keep = lens > 0
            if not keep.any():
                continue
            doc_ids = pdf["doc_id"].to_numpy()[keep].astype(np.int64)
            lens = lens[keep]
            flat = np.concatenate([s for s in sh_col if len(s)])
            h = pd.util.hash_array(flat) % P  # (total,)
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            sig = np.empty((NUM_PERM, len(lens)), dtype=np.uint64)
            for i in range(NUM_PERM):
                sig[i] = np.minimum.reduceat((A[i] * h + B[i]) % P, starts)
            # mix each band's rows into one bucket id (FNV-style;
            # uint64 wrap-around is deterministic)
            bsig = sig.reshape(BANDS, rows, -1)
            bucket = np.zeros((BANDS, len(lens)), dtype=np.uint64)
            for r in range(rows):
                bucket = bucket * FNV ^ bsig[:, r, :]
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(doc_ids, BANDS),
                    "band": np.tile(band_ids, len(lens)),
                    "bucket": bucket.T.reshape(-1).view(np.int64),
                }
            )

    sc = sets.sparkSession.sparkContext
    return sets.repartition(sc.defaultParallelism).mapInPandas(gen, schema)


#: Band-bucket occupancy valve for MinHash-LSH (same pattern as
#: similarity.LSH_BUCKET_MAX): a bucket holding d docs contributes
#: d*(d-1)/2 candidate pairs, so one degenerate bucket (e.g. a
#: boilerplate signature shared by millions of trivial docs at corpus
#: scale) owns the whole join.  Buckets past the cap are dropped from
#: candidate generation (recall-only effect - verification is exact,
#: so precision is untouched; members of a dropped bucket still pair
#: through their other BANDS-1 buckets).  None disables the valve.
MINHASH_BUCKET_MAX = 1024


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    seed: int = 42,
    bucket_max: int | None = MINHASH_BUCKET_MAX,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-verified.

    band bucket join -> candidate pairs -> exact Jaccard on candidates
    only.  The band join shuffles on (band, bucket-hash) so fanout is
    bounded by bucket occupancy (and the occupancy itself by
    ``bucket_max``), not corpus size.  Everything upstream of that
    join is map-only (per-doc shingle sets + fused numpy signatures),
    so the only other shuffles are the two candidate verification
    joins on doc id - and those shuffle 8-byte hashed shingle arrays,
    not the raw shingle strings (~20 bytes each): verification
    intersects xxhash64 sets exactly like ngram_jaccard_prefix_pairs,
    cutting the verify-join payload ~2.5x (measured on the 10x stress
    corpus).
    """
    sets = shingle_sets(docs).cache()
    # 8-byte hashed sets for verification: map-only projection of the
    # cached sets, shared by both sides of the candidate join
    hs = sets.select(
        "doc_id", F.transform("sh_set", lambda s: F.xxhash64(s)).alias("hs")
    )
    bands = _minhash_bands(sets, seed)
    if bucket_max is not None:
        # over-full buckets are few by construction: count occupancy
        # with one map-combinable agg and anti-join as a broadcast, so
        # the band rows never shuffle for the valve.  Pin the band
        # rows first (3 narrow columns, ~20 bytes/row) - the valve agg
        # and the bucket self-join otherwise each re-run the signature
        # stage, doubling the most expensive map pass.
        bands = bands.localCheckpoint()
        hot = (
            bands.groupBy("band", "bucket")
            .agg(F.count("*").alias("_occ"))
            .filter(F.col("_occ") > bucket_max)
            .select("band", "bucket")
        )
        bands = bands.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "bucket"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # exact verification of candidates ONLY: attach each side's hashed
    # shingle set and intersect per pair.  Work is O(|candidates| *
    # set size) - the full inverted-index self-join (which is what LSH
    # exists to avoid) never materializes here, unlike
    # ngram_jaccard_pairs.
    ha = hs.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"), F.size("hs").alias("n_a"))
    hb = hs.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"), F.size("hs").alias("n_b"))
    # same boundary discipline as ngram_jaccard_pairs: threshold the
    # exact ratio, round only the reported value
    exact = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("hs_a", "hs_b")))
        .filter(exact >= threshold)
        .select("doc_a", "doc_b", F.round(exact, 4).alias("jaccard"))
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over near-dup pairs: (node, component) with
    component = min node id reachable.  This is the transitive-closure
    step every dedup pipeline needs after pair generation - near-dup is
    not transitive, so keep-one-per-pair over-deletes without it.

    Iterative min-label propagation WITH path shortcutting as pure
    DataFrame ops.  Each round does two steps:

      1. neighbor min - join labels to the (undirected) edge list and
         take the min label over each node's neighborhood (one
         equi-join + one partial-agg shuffle);
      2. pointer halving - label <- label[label] (one self equi-join):
         since labels only decrease and label[x] <= x, following the
         label chain one hop per round turns O(diameter) convergence
         into O(log diameter) - the star-contraction trick from the
         MapReduce CC literature (Kiveris et al., "Connected
         Components in MapReduce and Beyond"), expressed with the same
         join + partial-agg primitives.

    Near-dup components are small and dense and step 1 alone converges
    them in 2-3 rounds, so step 2 - whose join would be pure overhead
    there (~60% on the q57 bench) - engages only from round 3 onward:
    the common case pays nothing, while pathological long-chain graphs
    (the only graphs still unconverged by then) get the logarithmic
    round count.  ``localCheckpoint`` truncates the plan lineage each round
    so the job graph stays flat; convergence is detected from
    sum(label), which strictly decreases while any label changes
    (labels only ever decrease).  The rounds the last call used are
    exposed as ``connected_components.last_rounds`` (test hook).

    Size-aware small-graph valve (the probe-and-switch family -
    q103 / grouped_exact_percentile): the pair list is materialized
    (localCheckpoint) before anything else, so its count is one cheap
    scalar; while the implied undirected edge count (2x pairs) is at
    or below ``CC_DRIVER_EDGE_MAX`` (memory-bounded - see the constant)
    the transitive closure runs driver-side as vectorized numpy star
    contraction over the RAW pairs - no undirected/distinct edge
    shuffle is ever built, the collect rides one Arrow batch, and the
    result returns as one Arrow batch - instead of 4-6 Spark jobs per
    round (near-dup pair sets are typically tiny relative to the
    corpus: pairs, not docs, bound the collect).  Above the cap the
    distinct undirected edge list is built from the pinned pairs and
    the distributed loop runs as described; results are identical
    (both compute min-reachable-id exactly), asserted by the operator
    tests driving both branches on the same graphs.
    """
    raw = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v")).localCheckpoint()
    n_pairs = raw.count()  # post-checkpoint: reads the pinned blocks
    if 2 * n_pairs <= CC_DRIVER_EDGE_MAX:
        # Small branch works on the RAW pair list: min-label closure is
        # direction- and duplicate-insensitive, so the undirected
        # distinct edge list the distributed loop needs (one extra
        # shuffle of the pair plan) is never built here, and the
        # result ships back through ONE Arrow batch instead of a
        # row-at-a-time createDataFrame.  The closure is the vectorized
        # twin of the distributed loop below - star contraction rounds
        # of (edge-min, pointer halving, settled-edge drop) - each
        # round a handful of O(E) numpy kernels instead of 4-6 Spark
        # jobs.  Replaced the former dict-based union-find whose
        # per-edge Python-loop constant (~3 us/edge) bound the cap at
        # 200k edges; the numpy rounds run ~50 ns/edge (measured 1.4 s
        # at 1.8M pairs incl. the collect), so the cap is memory-sized
        # now (see CC_DRIVER_EDGE_MAX).
        import numpy as np
        import pandas as pd

        pdf = raw.toPandas()
        eu = pdf["u"].to_numpy(dtype="int64")
        ev = pdf["v"].to_numpy(dtype="int64")
        # compact ids to 0..n-1 (argsort-based inverse: ~2x faster
        # than np.unique(return_inverse=True) and far from
        # searchsorted's cache-miss wall at millions of lookups).
        # uniq is ascending, so the min compacted index IS the min
        # original id and labels stay order-isomorphic.
        allv = np.concatenate([eu, ev])
        order = np.argsort(allv, kind="stable")
        sv = allv[order]
        newgrp = np.empty(len(sv), dtype=bool)
        if len(sv):
            newgrp[0] = True
            np.not_equal(sv[1:], sv[:-1], out=newgrp[1:])
        inv = np.empty(len(sv), dtype=np.int64)
        inv[order] = np.cumsum(newgrp) - 1
        uniq = sv[newgrp]
        cu, cv = inv[: len(eu)], inv[len(eu):]
        lab = np.arange(len(uniq), dtype="int64")
        rounds = 0
        while len(cu) and rounds < 64:  # O(log n) rounds; guard anyway
            rounds += 1
            lu, lv = lab[cu], lab[cv]
            hi = np.maximum(lu, lv)
            lo = np.minimum(lu, lv)
            live = hi != lo
            hi, lo = hi[live], lo[live]
            if not len(hi):
                break
            # per-root edge-min via ONE packed sort: compacted ids fit
            # 31 bits under the cap, so (root << 32) | candidate sorts
            # by root with the min candidate first in each group.  The
            # min side needs no update (its label already equals lo).
            code = np.sort((hi << 32) | lo)
            k = code >> 32
            first = np.empty(len(k), dtype=bool)
            first[0] = True
            np.not_equal(k[1:], k[:-1], out=first[1:])
            idx = k[first]
            lab[idx] = np.minimum(lab[idx], code[first] & 0xFFFFFFFF)
            while True:  # pointer halving to the current fixpoint
                nxt = lab[lab]
                if np.array_equal(nxt, lab):
                    break
                lab = nxt
            keep = lab[cu] != lab[cv]  # contract: settled edges leave
            cu, cv = cu[keep], cv[keep]
        if len(cu):  # guard must be loud: partial contraction would
            raise RuntimeError(  # silently split dedup groups
                f"connected_components driver closure did not converge "
                f"in {rounds} rounds ({len(cu)} live edges)"
            )
        out = pd.DataFrame({"node": uniq, "component": uniq[lab]})
        connected_components.last_rounds = 0
        spark = pairs.sparkSession
        return spark.createDataFrame(out, "node bigint, component bigint")
    edges = (
        raw.union(raw.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    # seed with the neighborhood min (= the identity round fused into
    # the same groupBy that enumerates the nodes)
    labels = (
        edges.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("u", "mn").alias("label"))
    )
    prev_sum = None
    converged = False
    rounds = 0
    for it in range(max_iter):
        labels = labels.localCheckpoint()
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
        rounds += 1
        nbr_min = (
            edges.join(
                labels.select(F.col("u").alias("v"), "label"), "v"
            )
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        labels = labels.join(nbr_min, "u", "left").select(
            "u",
            F.least("label", F.coalesce("nbr_label", F.col("label"))).alias("label"),
        )
        if it >= 2:
            # pointer halving: chase the label chain one hop (label
            # values are always node ids present in the labels table,
            # so the left join misses nothing except already-minimal
            # labels).  Skipped in the first two rounds - dense
            # near-dup graphs have already converged by then and the
            # join would be pure overhead; anything still moving is
            # chain-shaped and needs the halving.
            chase = labels.select(
                F.col("u").alias("_t"), F.col("label").alias("_tlabel")
            )
            labels = (
                labels.join(chase, labels["label"] == chase["_t"], "left")
                .select(
                    "u",
                    F.least(
                        "label", F.coalesce("_tlabel", F.col("label"))
                    ).alias("label"),
                )
            )
    connected_components.last_rounds = rounds
    if not converged:
        # partially-merged components over-keep near-dups; make that
        # detectable instead of silently wrong (pathological long-chain
        # graphs exceed diameter max_iter)
        import warnings

        warnings.warn(
            f"connected_components hit max_iter={max_iter} without the "
            "sum(label) fixpoint; components may be partially merged",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("u").alias("node"), F.col("label").alias("component"))


def dedup_groups(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Assign every document a dedup group: the min doc_id of its
    near-dup connected component (docs in no pair are their own group).
    (doc_id, component, is_canonical)."""
    comp = connected_components(pairs)
    return (
        docs.select(id_col)
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("component"),
        )
        .withColumn("is_canonical", F.col(id_col) == F.col("component"))
    )


def simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document: sign of the count-weighted bit-sum
    of distinct-token hashes.

    A document is one row, so the whole signature is a map-only pass -
    no explode, no shuffle: tokenize + hash (pandas hash_array: stable,
    vectorized uint64) + popcount-style bit-sum in numpy per Arrow
    batch.  The earlier JVM formulation (explode -> groupBy(doc,token)
    -> 64 conditional-sum measures -> 64-bit reassembly) shuffled ~50
    rows per doc twice and ran the 64-measure aggregate over all of
    them; per-row numpy is ~4x faster at sf0.1 and keeps the stage
    embarrassingly parallel at any scale."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("simhash", T.LongType()),
        ]
    )

    def sig(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = np.empty(len(pdf), dtype=np.uint64)
            shifts = np.arange(64, dtype=np.uint64)
            for i, text in enumerate(pdf[text_col].to_numpy()):
                toks, counts = np.unique(text.split(" "), return_counts=True)
                h = pd.util.hash_array(toks.astype(object))  # deterministic uint64
                # bits: (n_tokens, 64) sign contributions weighted by count
                bits = ((h[:, None] >> shifts) & 1).astype(np.int64)
                sums = ((2 * bits - 1) * counts[:, None]).sum(axis=0)
                out[i] = ((sums > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64)
            # reinterpret the 64 bits as the signed long the schema wants
            # (astype would overflow-check bit 63; view is a bit cast)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": out.view(np.int64)})

    # round-robin first: the local single-file parquet scan yields 1-2
    # partitions, which would serialize the numpy stage
    sc = docs.sparkSession.sparkContext
    return (
        docs.select("doc_id", text_col)
        .repartition(sc.defaultParallelism)
        .mapInPandas(sig, schema)
    )


#: 64-bit Hamming banding scheme shared by SimHash and pHash pair
#: discovery: HAMMING_CHUNKS chunks of HAMMING_CHUNK_BITS bits.
#: Pigeonhole: any pair at distance <= HAMMING_CHUNKS - 1 shares at
#: least one unchanged chunk, so recall is EXACT up to that radius;
#: beyond it banding is a candidate heuristic (callers that allow a
#: larger radius must say so - simhash_pairs documents the trade,
#: the pHash paths refuse).
HAMMING_CHUNKS = 4
HAMMING_CHUNK_BITS = 16


def hamming_chunks(hashes: DataFrame, hash_col: str) -> DataFrame:
    """Explode a 64-bit hash column into (.., chunk, val) banding rows
    - the shared discovery substrate for simhash_pairs,
    multimodal.phash_neardup_pairs, and incremental_phash_dedup."""
    mask = (1 << HAMMING_CHUNK_BITS) - 1
    return hashes.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(hash_col, c * HAMMING_CHUNK_BITS)
                        .bitwiseAND(mask)
                        .alias("val"),
                    )
                    for c in range(HAMMING_CHUNKS)
                ]
            )
        ).alias("cc"),
    ).select(*hashes.columns, "cc.chunk", "cc.val")


def simhash_pairs(docs: DataFrame, max_hamming: int = 8) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, found via 16-bit
    chunk banding.  Banding on 4 chunks guarantees recall for
    distance <= 3 (pigeonhole) and is a candidate HEURISTIC beyond -
    the default radius 8 accepts that standard scalable trade;
    candidates are verified exactly afterwards, so precision is
    always exact."""
    # one row per doc - cache so the bucket self-join below reads the
    # tiny hash table twice instead of re-running the 64-measure agg
    sim = simhash(docs).cache()
    chunks = hamming_chunks(sim, "simhash")
    cand = (
        chunks.alias("x")
        .join(chunks.alias("y"), ["chunk", "val"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("sim_a"),
            F.col("y.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def incremental_minhash_dedup(
    spark,
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    index,
    threshold: float = 0.5,
    seed: int = 42,
    bucket_max: int | None = MINHASH_BUCKET_MAX,
) -> DataFrame:
    """Incremental near-dup detection against a PERSISTED band index -
    the 100 TB shape: a new ingest batch dedups against the whole
    corpus without recomputing the corpus.

    Bands (doc_id, band, bucket) for the NEW docs are computed map-only
    (:func:`_minhash_bands`), bucket-joined against the stored index
    (old-vs-new) and themselves (new-vs-new), candidates are
    exact-verified from shingle sets, and the new docs' bands are then
    fast-appended to the index table (an O(new) commit - see
    MergeTable.append).  With a fixed seed the bucketing is
    deterministic, so incremental batches produce EXACTLY the pairs the
    full batch run produces (test-asserted).

    ``corpus_docs`` supplies text for exact verification of the docs
    the candidates touch (at scale: the stored corpus table; the join
    pushes only candidate doc_ids into it).  ``index`` is a MergeTable
    keyed (doc_id, band).
    """
    sets_new = shingle_sets(new_docs).cache()
    # bands committed to the index are ALWAYS unvalved (the stored
    # index must stay complete - the valve is a per-QUERY discovery
    # bound, not an index property), so pin them once for the commit
    # and apply the occupancy valve only to the join inputs
    bands_new = _minhash_bands(sets_new, seed).localCheckpoint()
    stored = index.read(spark) if index.exists() else None
    all_bands = (
        bands_new
        if stored is None
        else bands_new.unionByName(stored.select("doc_id", "band", "bucket"))
    )
    probe_new, probe_all = bands_new, all_bands
    if bucket_max is not None:
        # same recall-only valve as minhash_lsh_pairs, measured over
        # the FULL (old+new) occupancy so incremental batches drop
        # exactly the buckets the one-shot batch run would drop
        hot = (
            all_bands.groupBy("band", "bucket")
            .agg(F.count("*").alias("_occ"))
            .filter(F.col("_occ") > bucket_max)
            .select("band", "bucket")
        )
        probe_new = bands_new.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
        probe_all = all_bands.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
    cand = (
        probe_new.alias("x")
        .join(probe_all.alias("y"), ["band", "bucket"])
        .filter(F.col("x.doc_id") != F.col("y.doc_id"))
        .select(
            F.least("x.doc_id", "y.doc_id").alias("doc_a"),
            F.greatest("x.doc_id", "y.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # exact verification from the corpus text (candidate ids only);
    # 8-byte hashed sets, same as the batch path
    hs_all = shingle_sets(corpus_docs).select(
        "doc_id", F.transform("sh_set", lambda x: F.xxhash64(x)).alias("hs")
    )
    sa = hs_all.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hs").alias("set_a"),
        F.size("hs").alias("n_a"),
    )
    sb = hs_all.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hs").alias("set_b"),
        F.size("hs").alias("n_b"),
    )
    exact = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    pairs = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("set_a", "set_b")))
        .filter(exact >= threshold)
        .select("doc_a", "doc_b", F.round(exact, 4).alias("jaccard"))
    )
    # materialize pairs BEFORE the index commit so the returned frame
    # is not invalidated by snapshot expiry of the pre-append version
    pairs = pairs.localCheckpoint()
    if stored is None:
        index.overwrite(bands_new)
    else:
        index.append(bands_new)
    return pairs

"""Similarity search over embedding columns (array<float>).

Two paths per the north-star contract:

  brute-force   exact cosine top-k / near-dup: BLOCK-PARTITIONED
                all-pairs scoring.  Both sides are grouped into
                deterministic blocks; block pairs meet through an
                explode + hash equi-join (never a cross join, never a
                driver collect), and each (q-block, c-block) cell is
                scored with numpy inside mapInPandas.
  lsh_ann/ivf   random-hyperplane LSH / IVF cell bucketing; cosine
                evaluated only on bucket-collision candidates - the
                100 TB path.  Vectors shuffle ONCE, keyed by their
                (table, bucket) / cell group, and each group scores as
                a single normalized matrix product (numpy GEMM inside
                applyInPandas; occupancy valves bound task memory) -
                no per-pair work, nothing collected to the driver.
                SemDeDup rides the same kernel.

Float discipline: the DuckDB oracle computes dot products as a
sequential left fold (list_reduce).  numpy's dot/matmul uses pairwise
summation - different rounding.  The EXACT batch paths (q44/q54)
therefore score in two passes: a BLAS ``matmul`` pass selects each
query's top-k / near-threshold candidate superset with an eps margin
(_EPS = 1e-9, ~4 orders of magnitude above the worst matmul-vs-fold
divergence for any realistic dim), then ONLY that boundary set is
rescored with the exact sequential fold ``(a*b).cumsum()[..., -1]``.
Every emitted double is the fold value, so ranks/thresholds can never
diverge from the oracle, while the O(n^2) bulk of the scoring runs at
BLAS speed.  The APPROXIMATE paths are rows-only (recall-asserted, no
SQL oracle), so their group kernel emits the plain GEMM value - fold
parity would buy nothing there.

Scale shape: nothing here materializes the corpus on the driver.
Brute force moves each block NB times (the classic blocked
all-pairs tradeoff - n^2/block_rows payload instead of n^2); it is
the *exact baseline*, inherently O(n^2) compute, and the ANN paths
are the ones meant for 100 TB.  ANN scoring shuffles candidate
vectors through two hash joins, bounded by bucket/cell occupancy.

Hyperplanes are a seeded driver-side {-1,+1} matrix broadcast to the
executors, so there is no per-executor random state and replays are
exact.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product over array<double> columns
    (Catalyst HOF form; bit-identical to the numpy cumsum used in the
    batch paths and to the oracle's list_reduce)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def with_norm(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    v = F.col(vec_col).cast("array<double>")
    return emb.select(
        "vec_id", v.alias("v"), F.sqrt(_dot(v, v)).alias("norm")
    )


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin the query side across the full core count.  The
    embeddings table is one small parquet file locally (1-2 scan
    partitions), which would serialize the per-partition numpy scoring;
    on a cluster the same call spreads a skewed scan."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


# ---------------------------------------------------------------------------
# Blocked exact all-pairs (brute-force baseline)
# ---------------------------------------------------------------------------

_MAX_BLOCKS = 512  # caps block-pair task count at _MAX_BLOCKS^2
_TARGET_BLOCK_ROWS = 512  # balances payload replication (each block
# moves NB times) against per-task memory and parallelism


def _num_blocks(n: int) -> int:
    return max(4, min(_MAX_BLOCKS, -(-n // _TARGET_BLOCK_ROWS)))


def _block_pairs(emb: DataFrame) -> DataFrame:
    """All (q-block, c-block) combinations, each row carrying both
    block payloads: array<struct<vec_id, v>> on each side.

    The pairing is an explode + hash EQUI-join on the candidate block
    id - Catalyst plans a hash join, not a CartesianProduct, and at
    scale the join shuffles block payloads instead of broadcasting the
    corpus.  Payload replication is the standard blocked all-pairs
    tradeoff: each candidate block moves NB times (n^2/block_rows
    bytes total, vs n^2 rows for a naive pair join).  Nothing touches
    the driver.
    """
    n = emb.count()
    nb = _num_blocks(n)
    nv = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        F.pmod(F.xxhash64("vec_id"), F.lit(nb)).alias("bid"),
    )
    # block payload = (ids, row-major flattened matrix): one Arrow
    # transfer and one numpy reshape per block instead of a python
    # object conversion per vector (the struct-list form spent more
    # time unpacking than scoring).  ids/flat order is consistent by
    # construction - both derive from the same collected list.
    def block(side: str, key: str):
        return (
            nv.groupBy(F.col("bid").alias(key))
            .agg(F.collect_list(F.struct("vec_id", "v")).alias("rows"))
            .select(
                key,
                F.transform("rows", lambda r: r["vec_id"]).alias(f"{side}_ids"),
                F.flatten(F.transform("rows", lambda r: r["v"])).alias(f"{side}_flat"),
            )
        )

    fanned = block("q", "qb").select(
        "q_ids", "q_flat",
        F.explode(F.sequence(F.lit(0), F.lit(nb - 1))).alias("cb"),
    )
    return fanned.join(block("c", "cb"), "cb").select(
        "q_ids", "q_flat", "c_ids", "c_flat"
    )


def _unpack(ids_arr, flat_arr) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """flat block payload -> (ids, matrix, fold-order norms): a single
    reshape of the Arrow-delivered double array, no per-vector python
    objects."""
    ids = np.asarray(ids_arr, dtype=np.int64)
    M = np.asarray(flat_arr, dtype=np.float64).reshape(len(ids), -1)
    norms = np.sqrt((M * M).cumsum(axis=1)[:, -1])
    return ids, M, norms


_Q_TILE = 1024  # query rows per scoring tile
_C_TILE = 4096  # candidate rows per scoring tile
# the matmul temp is bounded at _Q_TILE * _C_TILE doubles (~32 MB),
# so per-task memory stays flat even when _MAX_BLOCKS caps force
# large blocks at scale

_EPS = 1e-9
# candidate-selection margin: the worst-case |matmul - sequential fold|
# divergence is ~dim * ulp * |a||b| (~1e-13 relative at dim 1024), so
# any candidate the matmul pass places more than _EPS below the kth
# score / threshold is provably outside the exact top-k / threshold
# set; the boundary set that gets the exact-fold rescore is k + a few
# rows per query, not C


def _exact_fold_cos(
    Mq: np.ndarray, nq: np.ndarray, Mc: np.ndarray, nc: np.ndarray,
    qi: np.ndarray, ci: np.ndarray,
) -> np.ndarray:
    """Exact sequential-fold cosine for selected (row, col) index pairs
    - bit-identical to the oracle's list_reduce."""
    dots = (Mq[qi] * Mc[ci]).cumsum(axis=1)[:, -1]
    return dots / (nq[qi] * nc[ci])


_RAW_SCHEMA = T.StructType(
    [
        T.StructField("qid", T.LongType()),
        T.StructField("cid", T.LongType()),
        T.StructField("cos_sim", T.DoubleType()),
    ]
)


def cosine_topk_bruteforce(emb: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors for every vector.

    Plan: blocked all-pairs (see _block_pairs) -> per block pair each
    query emits only its k block-local winners under the total order
    (cos DESC, cid ASC) -> global per-query row_number merges the
    NB partial lists.  Per-query candidate volume into the window is
    NB*k rows, not n - no quadratic materialization, no driver state.
    Ties break by ascending cid, same as the oracle's
    row_number() OVER (ORDER BY cos DESC, cid).
    """
    from pyspark.sql import Window

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for qi_, qf_, ci_, cf_ in zip(
                pdf["q_ids"], pdf["q_flat"], pdf["c_ids"], pdf["c_flat"]
            ):
                qids, Mq, qnorms = _unpack(qi_, qf_)
                cids, Mc, cnorms = _unpack(ci_, cf_)
                parts = []
                for lo in range(0, len(qids), _Q_TILE):
                    hi = min(lo + _Q_TILE, len(qids))
                    tq, tqn = Mq[lo:hi], qnorms[lo:hi]
                    for clo in range(0, len(cids), _C_TILE):
                        chi = min(clo + _C_TILE, len(cids))
                        tc, tcn = Mc[clo:chi], cnorms[clo:chi]
                        tcids = cids[clo:chi]
                        # approximate pass: one BLAS matmul per tile
                        cos = (tq @ tc.T) / np.outer(tqn, tcn)
                        cos[qids[lo:hi, None] == tcids[None, :]] = -np.inf
                        kk = min(k, cos.shape[1])
                        # per-row kth-largest approx score; everything
                        # >= kth - _EPS is the boundary superset that a
                        # fold-order score could still promote into the
                        # tile-local top-k
                        part = np.argpartition(-cos, kk - 1, axis=1)[:, :kk]
                        kth = np.take_along_axis(cos, part, axis=1).min(axis=1)
                        sel = cos >= (kth[:, None] - _EPS)
                        qi, ci = np.nonzero(sel)
                        keep = qids[lo + qi] != tcids[ci]  # -inf self rows when kth=-inf
                        qi, ci = qi[keep], ci[keep]
                        if not len(qi):
                            continue
                        exact = _exact_fold_cos(tq, tqn, tc, tcn, qi, ci)
                        # emit the exact-scored superset (k + boundary
                        # rows per query per tile); the global window
                        # merge ranks by the exact fold value, so tile
                        # partials can never disagree with the oracle
                        parts.append(
                            pd.DataFrame(
                                {
                                    "qid": qids[lo + qi],
                                    "cid": tcids[ci],
                                    "cos_sim": exact,
                                }
                            )
                        )
                if parts:
                    yield pd.concat(parts, ignore_index=True)

    partial = _block_pairs(emb).mapInPandas(score, _RAW_SCHEMA)
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("cid"))
    return (
        partial.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "qid",
            "cid",
            F.col("rk").cast("long").alias("rk"),
            F.round("cos_sim", 3).alias("cos_sim"),
        )
    )


def cosine_near_dup_pairs(emb: DataFrame, threshold: float) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (qid < cid,
    cos >= threshold) - the dedup-by-embedding path of the north-star
    contract.  Same blocked all-pairs plan as top-k; each block pair
    emits only its above-threshold pairs.  The threshold compares the
    exact fold value; rounding is output-only."""
    thr = float(threshold)

    def pairs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for qi_, qf_, ci_, cf_ in zip(
                pdf["q_ids"], pdf["q_flat"], pdf["c_ids"], pdf["c_flat"]
            ):
                qids, Mq, qnorms = _unpack(qi_, qf_)
                cids, Mc, cnorms = _unpack(ci_, cf_)
                out = []
                for lo in range(0, len(qids), _Q_TILE):
                    hi = min(lo + _Q_TILE, len(qids))
                    tq, tqn = Mq[lo:hi], qnorms[lo:hi]
                    for clo in range(0, len(cids), _C_TILE):
                        chi = min(clo + _C_TILE, len(cids))
                        tc, tcn = Mc[clo:chi], cnorms[clo:chi]
                        tcids = cids[clo:chi]
                        # approximate pass selects the near-threshold
                        # superset; the exact fold decides membership
                        cos = (tq @ tc.T) / np.outer(tqn, tcn)
                        sel = (tcids[None, :] > qids[lo:hi, None]) & (
                            cos >= thr - _EPS
                        )
                        qi, ci = np.nonzero(sel)
                        if not len(qi):
                            continue
                        exact = _exact_fold_cos(tq, tqn, tc, tcn, qi, ci)
                        keep = exact >= thr
                        if keep.any():
                            out.append(
                                pd.DataFrame(
                                    {
                                        "qid": qids[lo + qi[keep]],
                                        "cid": tcids[ci[keep]],
                                        "cos_sim": exact[keep],
                                    }
                                )
                            )
                if out:
                    yield pd.concat(out, ignore_index=True)

    raw = _block_pairs(emb).mapInPandas(pairs, _RAW_SCHEMA)
    return raw.select("qid", "cid", F.round("cos_sim", 3).alias("cos_sim"))


# ---------------------------------------------------------------------------
# Candidate scoring by id-join (shared by the ANN paths)
# ---------------------------------------------------------------------------


def _score_pairs(pairs: DataFrame, emb: DataFrame) -> DataFrame:
    """Score candidate (qid, cid) id pairs by joining each side's
    vector back from the embeddings table - two hash equi-joins, so
    only candidate ids and candidate vectors shuffle and the driver
    never sees a vector.  The per-pair cosine runs as a numpy
    sequential fold (``(a*b).cumsum()[-1]``) inside mapInPandas -
    bit-identical to the oracle's list_reduce and to the per-vector
    norms' HOF fold, but vectorized per Arrow batch: the earlier
    per-pair Catalyst HOF evaluated the fold expression tree
    interpreted, ~dim ops per pair per row, and dominated every ANN
    query's wall clock."""
    nv = with_norm(emb)
    q = nv.select(
        F.col("vec_id").alias("qid"), F.col("v").alias("vq"), F.col("norm").alias("nq")
    )
    c = nv.select(
        F.col("vec_id").alias("cid"), F.col("v").alias("vc"), F.col("norm").alias("nc")
    )
    joined = pairs.join(q, "qid").join(c, "cid").select(
        "qid", "cid", "vq", "nq", "vc", "nc"
    )

    schema = T.StructType(
        [
            T.StructField("qid", T.LongType()),
            T.StructField("cid", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def score(batches):
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue

            def matrix(i: int) -> np.ndarray:
                # ListArray values, flattened zero-copy into (n, dim) -
                # no per-row Python list objects
                return rb.column(i).flatten().to_numpy(
                    zero_copy_only=False
                ).reshape(n, -1)

            A, B = matrix(2), matrix(4)
            # cumsum = the oracle's sequential left fold, element-exact
            dot = (A * B).cumsum(axis=1)[:, -1]
            nq = rb.column(3).to_numpy(zero_copy_only=False)
            nc = rb.column(5).to_numpy(zero_copy_only=False)
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), rb.column(1), pa.array(dot / (nq * nc))],
                names=["qid", "cid", "cos_sim"],
            )

    return joined.mapInArrow(score, schema)


N_TABLES = 8  # independent hash tables
BITS_PER_TABLE = 6  # sign bits per table
_LSH_SEED = 42

_BUCKET_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("tbl", T.IntegerType()),
        T.StructField("bucket", T.LongType()),
    ]
)


def _hyperplane_matrix(dim: int) -> np.ndarray:
    """Deterministic {-1,+1} hyperplane matrix, (dim, tables*bits).
    Seeded on the driver and broadcast - executors share one copy and
    replays are exact (no per-executor random state)."""
    rng = np.random.default_rng(_LSH_SEED)
    return rng.choice(np.array([-1.0, 1.0]), size=(dim, N_TABLES * BITS_PER_TABLE))


def _bucket_rows(emb: DataFrame, with_vec: bool = False) -> DataFrame:
    """(vec_id, tbl, bucket[, v]) - one row per hash table per vector.

    All N_TABLES * BITS_PER_TABLE projections are one numpy matmul per
    Arrow batch against a broadcast hyperplane matrix (the earlier
    Catalyst formulation - an aggregate/zip_with fold with an xxhash64
    per element per bit - was ~20x slower at sf0.1).  Multiple short
    tables instead of one long code: recall comes from table count,
    selectivity from bit count per table.

    ``with_vec`` carries the vector along with each bucket row: the
    matrix-scoring consumer must shuffle vectors to their (tbl,
    bucket) groups anyway, so emitting them here removes a whole
    vec_id join stage at the same final shuffle volume.
    """
    head = emb.select("embedding").first()
    if head is None:  # empty table: every LSH entry point yields empty
        schema = "vec_id bigint, tbl int, bucket bigint"
        if with_vec:
            schema += ", v array<double>"
        return emb.sparkSession.createDataFrame([], schema)
    dim = len(head["embedding"])
    bc_h = emb.sparkSession.sparkContext.broadcast(_hyperplane_matrix(dim))

    def buckets(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        H = bc_h.value
        weights = 1 << np.arange(BITS_PER_TABLE, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            bits = (V @ H > 0).reshape(len(pdf), N_TABLES, BITS_PER_TABLE)
            codes = (bits * weights).sum(axis=2)  # (n, N_TABLES)
            ids = pdf["vec_id"].to_numpy()
            out = {
                "vec_id": np.repeat(ids, N_TABLES),
                "tbl": np.tile(np.arange(N_TABLES, dtype=np.int32), len(pdf)),
                "bucket": codes.reshape(-1),
            }
            if with_vec:
                out["v"] = [
                    v for v in pdf["v"] for _ in range(N_TABLES)
                ]
            yield pd.DataFrame(out)

    q = _spread(emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v")))
    if with_vec:
        schema = T.StructType(
            _BUCKET_SCHEMA.fields
            + [T.StructField("v", T.ArrayType(T.DoubleType()))]
        )
        return q.mapInPandas(buckets, schema)
    return q.mapInPandas(buckets, _BUCKET_SCHEMA)


# Bucket-occupancy valve for LSH candidate generation - the similarity
# twin of the dedup df_max shingle valve: a (table, bucket) cell holding
# d vectors emits d^2 candidate pairs, so one dense region (a hyperplane
# cell through the data's mode) dominates the join at corpus scale.
# Cells above the cap are skipped for PAIR GENERATION ONLY; a vector in
# a capped cell still collides in the other N_TABLES-1 tables, so the
# recall loss is bounded by the probability that ALL of a true
# neighbor pair's collisions are in over-full cells (dense regions -
# where candidates abound anyway).  Sized to never engage at test
# scale (occupancy ~31 per cell at sf0.1); load-tested by stress_bench.
LSH_BUCKET_MAX = 1024

# query-row tile for the in-cell GEMM kernels (_group_matrix_scores
# and the PQ ADC scan): per-task matrices are (tile x occupancy)
# instead of occupancy^2, so an unvalved IVF cell whose occupancy
# grows ~sqrt(n) costs bounded memory at any corpus size.  At the
# LSH valve's 1024 cap a bucket is a single tile (no extra passes).
_SCORE_TILE = 1024


def _group_matrix_scores(
    members: DataFrame,
    group_cols: list[str],
    directed: bool,
    thr: float | None,
    per_query_k: int | None = None,
) -> DataFrame:
    """Score every id-distinct pair CO-GROUPED by ``group_cols`` as
    normalized matrix products per group (numpy GEMM inside
    applyInPandas) - the approximate paths' scoring kernel, orders of
    magnitude cheaper than per-pair folds.  The GEMM runs in QUERY-ROW
    TILES of ``_SCORE_TILE``, so task memory is O(tile x occupancy)
    regardless of cell size: the LSH path also has the
    LSH_BUCKET_MAX occupancy valve, but IVF cells are unvalved (their
    occupancy grows ~sqrt(n) by the _n_cells geometry) and the tiling
    is what bounds them (review finding: the old full-occupancy^2
    matrix grew linearly with corpus size).

    ``members``: group_cols + (vec_id, v, posted); a pair is emitted
    only if at least one side is POSTED in the group (posted=True
    everywhere for plain LSH collisions; IVF marks the rank-0 cell).
    ``directed=False`` emits (min_id, max_id) once; ``directed=True``
    emits q->c for each POSTED c (the ANN candidate direction).
    ``thr`` filters cos >= thr inside the kernel.  A pair surfacing
    from several groups dedups via max(cos) - the values differ at
    most in the last ulp (same vectors, different GEMM blocking).

    ``per_query_k`` (directed mode): emit only each query's k best
    candidates PER GROUP, by the same (cos desc, cid asc) total order
    the downstream global top-k window uses - distributive top-k, so
    the union over groups still contains the exact global top-k while
    emission drops from all-pairs to k-per-query-per-group.

    The EXACT oracle-matched paths (q44/q54) keep the sequential-fold
    scorer (:func:`_score_pairs`); this kernel serves the rows-only
    recall-asserted paths, where last-ulp fold parity buys nothing."""

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"qid": [], "cid": [], "cos_sim": []})
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        ids = pdf["vec_id"].to_numpy()
        posted = pdf["posted"].to_numpy()
        n = len(ids)
        frames = []
        if directed:
            # an ordered pair (q, c) is emitted iff c is POSTED and
            # the ids differ - each query row's FULL candidate set
            # lives in its own tile, so the per-query-k prune is
            # exact per tile (ids are unique within a group: one
            # bucket/probe row per vector per table/cell)
            cols = np.flatnonzero(posted)
            cids_all = ids[cols]
            for s in range(0, n, _SCORE_TILE):
                e = min(s + _SCORE_TILE, n)
                if not len(cols):
                    break
                cos_t = Vn[s:e] @ Vn[cols].T  # (t, n_posted)
                qid_t = np.repeat(ids[s:e], len(cols))
                cid_t = np.tile(cids_all, e - s)
                val_t = cos_t.ravel()
                m = qid_t != cid_t
                if thr is not None:
                    m &= val_t >= thr
                res_t = pd.DataFrame(
                    {"qid": qid_t[m], "cid": cid_t[m], "cos_sim": val_t[m]}
                )
                if per_query_k is not None and len(res_t):
                    res_t = (
                        res_t.sort_values(
                            ["qid", "cos_sim", "cid"],
                            ascending=[True, False, True],
                        )
                        .groupby("qid", sort=False)
                        .head(per_query_k)
                    )
                frames.append(res_t)
        else:
            # unordered: emit (min_id, max_id) once per POSITION pair
            # i < j with an endpoint posted; tiles partition the i axis
            all_j = np.arange(n)
            for s in range(0, n, _SCORE_TILE):
                e = min(s + _SCORE_TILE, n)
                cos_t = Vn[s:e] @ Vn.T  # (t, n)
                mask = all_j[None, :] > np.arange(s, e)[:, None]
                mask &= posted[None, :] | posted[s:e, None]
                mask &= ids[None, :] != ids[s:e, None]
                if thr is not None:
                    mask &= cos_t >= thr
                r, c = np.nonzero(mask)
                a, b = ids[s + r], ids[c]
                frames.append(
                    pd.DataFrame(
                        {
                            "qid": np.minimum(a, b),
                            "cid": np.maximum(a, b),
                            "cos_sim": cos_t[r, c],
                        }
                    )
                )
        if not frames:
            return pd.DataFrame({"qid": [], "cid": [], "cos_sim": []})
        return pd.concat(frames, ignore_index=True)

    out = members.groupBy(*group_cols).applyInPandas(
        score, "qid bigint, cid bigint, cos_sim double"
    )
    return out.groupBy("qid", "cid").agg(F.max("cos_sim").alias("cos_sim"))


def _with_vecs(emb: DataFrame, ids: DataFrame) -> DataFrame:
    """Join the (double-cast) vectors onto a bucket/cell id table."""
    return ids.join(
        emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        ),
        "vec_id",
    )


def _valved_bucket_rows(
    emb: DataFrame,
    bucket_max: int | None = LSH_BUCKET_MAX,
    with_vec: bool = False,
) -> DataFrame:
    """(vec_id, tbl, bucket[, v]) with over-full cells removed.  The
    OVER-full cells are few by construction (a handful of dense
    regions), so they ship as a broadcast anti-join - the bucket rows
    themselves never shuffle for the valve; the occupancy count is one
    map-combinable agg (over the vector-free projection, so the valve
    scan never moves vector payloads)."""
    n = _bucket_rows(emb, with_vec=with_vec)
    if bucket_max is None:
        return n
    # the occupancy count really must use the VECTOR-FREE projection:
    # column pruning cannot push through mapInPandas, so counting over
    # the with_vec rows would ship every vector through Arrow a second
    # time just to be discarded (review finding)
    occ_src = _bucket_rows(emb, with_vec=False) if with_vec else n
    hot = (
        occ_src.select("tbl", "bucket")
        .groupBy("tbl", "bucket")
        .agg(F.count("*").alias("_occ"))
        .filter(F.col("_occ") > bucket_max)
        .select("tbl", "bucket")
    )
    return n.join(F.broadcast(hot), ["tbl", "bucket"], "left_anti")


def _candidate_pairs(
    emb: DataFrame, symmetric: bool, bucket_max: int | None = LSH_BUCKET_MAX
) -> DataFrame:
    """(qid, cid) pairs colliding in >=1 LSH table.  symmetric=True
    keeps both (a,b) and (b,a) (top-k needs per-query candidates);
    False keeps qid < cid (near-dup pairs).  ``bucket_max`` is the
    occupancy valve above; None disables it (complete collision
    enumeration)."""
    n = _valved_bucket_rows(emb, bucket_max)
    a = n.select(F.col("vec_id").alias("qid"), "tbl", "bucket")
    b = n.select(F.col("vec_id").alias("cid"), "tbl", "bucket")
    cond = F.col("qid") != F.col("cid") if symmetric else F.col("qid") < F.col("cid")
    return a.join(b, ["tbl", "bucket"]).filter(cond).select("qid", "cid").distinct()


def lsh_ann_topk(emb: DataFrame, k: int = 5) -> DataFrame:
    """Approximate top-k: cosine evaluated only on candidates that
    collide in >=1 of the N_TABLES LSH tables.

    Plan: one projection computes all table buckets, vectors shuffle
    ONCE keyed by (table, bucket), each cell scores as a single
    normalized matrix product (_group_matrix_scores - cell occupancy
    is bounded by the LSH_BUCKET_MAX valve, so task memory is too),
    colliding pairs dedupe by max(cos), per-query top-k.  No cross
    join anywhere, no per-pair work.  Recall vs brute force asserted
    in tests.
    """
    from pyspark.sql import Window

    members = _valved_bucket_rows(emb, with_vec=True).withColumn(
        "posted", F.lit(True)
    )
    # directed with everyone posted = both directions of every
    # collision; per_query_k prunes each group to its local top-k
    # under the SAME total order as the global window (distributive)
    scored = _group_matrix_scores(
        members, ["tbl", "bucket"], directed=True, thr=None, per_query_k=k
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("cid"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("qid", "cid", F.col("rk").cast("long").alias("rk"), F.round("cos_sim", 3).alias("cos_sim"))
    )


N_CELLS = 16  # IVF coarse-quantizer cell FLOOR (scales up with corpus)
N_PROBE = 3  # cells probed per query
_IVF_ITERS = 10
_IVF_TRAIN_CAP = 100_000  # quantizer training sample bound


def _n_cells(n: int) -> int:
    """Cell count for an n-vector corpus: sqrt-scaled (the faiss nlist
    guideline) with a floor of N_CELLS.  A FIXED cell count is the IVF
    scale trap: occupancy grows linearly with the corpus and the
    within-cell candidate work quadratically; sqrt scaling keeps
    occupancy ~ sqrt(n), so per-cell work grows linearly in n and the
    probe fan-out stays bounded (measured: the 10x stress ratio of the
    IVF path dropped from ~17x to near-linear with this rule)."""
    import math

    return max(N_CELLS, int(math.sqrt(max(n, 1) / 4)))


def _train_sample(vecs: DataFrame) -> tuple[np.ndarray, np.ndarray, int]:
    """(normalized sample matrix, deterministic seed order, corpus n):
    the shared bounded training sample both quantizer fits (IVF cells,
    PQ codebooks) draw from - one count + one capped collect total,
    via a deterministic hash-threshold filter (a map-only predicate,
    no global sort)."""
    n = vecs.count()
    if n > _IVF_TRAIN_CAP:
        denom = 1 << 20
        cut = int(denom * _IVF_TRAIN_CAP / n)
        vecs = vecs.filter(F.pmod(F.xxhash64("vec_id"), F.lit(denom)) < cut)
        # the hash filter keeps ~cap rows in EXPECTATION; a bare
        # limit() would then take whichever partitions finish first,
        # making the training sample (hence centroids/codebooks)
        # nondeterministic across runs.  Rank by the same hash and
        # tie-break on vec_id: one TakeOrdered over the ~cap-row
        # filtered set, replay-stable at any scale (review finding).
        vecs = vecs.orderBy(
            F.pmod(F.xxhash64("vec_id"), F.lit(denom)), "vec_id"
        )
    sample = vecs.limit(_IVF_TRAIN_CAP).collect()
    if not sample:
        raise ValueError(
            "cannot train a quantizer on an empty embeddings table"
        )
    V = np.stack([np.asarray(r["v"], dtype=np.float64) for r in sample])
    order = np.argsort([r["vec_id"] for r in sample])  # seed deterministically
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    return Vn, order, n


def _ivf_centroids(vecs: DataFrame) -> np.ndarray:
    """Spherical k-means coarse quantizer, (_n_cells(n), dim),
    L2-normalized.

    Trained on a bounded deterministic sample (hash-threshold filter -
    a map-only predicate, no global sort) capped at _IVF_TRAIN_CAP and
    collected to the driver, with Lloyd's iterations in numpy - the
    standard IVF practice (e.g. faiss trains its coarse quantizer on a
    sample, typically 30-250x the cell count): quantizer quality needs
    a representative sample, not the corpus, so the fit never scales
    with table size.  Assignment of the full corpus stays distributed
    in ivf_ann_topk."""
    Vn, order, n = _train_sample(vecs)
    return _ivf_centroids_from(Vn, order, n)


def _ivf_centroids_from(Vn: np.ndarray, order: np.ndarray, n: int) -> np.ndarray:
    """Lloyd's spherical k-means on an already-collected sample.
    Centroid updates run as one assignment-matrix matmul (BLAS)
    instead of a per-cluster mask loop - the k boolean scans made
    driver training the dominant GROWING term of the PQ path's stress
    profile once the sample cap engages."""
    k = min(_n_cells(n), len(Vn))
    C = Vn[order[:k]].copy()
    for _ in range(_IVF_ITERS):
        cells = (Vn @ C.T).argmax(axis=1)
        # scatter-add the assigned vectors per cell: O(sample * dim)
        # memory/time.  The previous one-hot matmul allocated a dense
        # (sample, k) float64 per iteration - O(sample * k) grows with
        # the corpus through _n_cells and reaches tens of GB on the
        # driver at the scales this path advertises (review finding).
        sums = np.zeros((k, Vn.shape[1]))
        np.add.at(sums, cells, Vn)
        norms = np.linalg.norm(sums, axis=1)
        upd = norms > 0
        C[upd] = sums[upd] / norms[upd, None]
    return C


def ivf_assign(emb: DataFrame) -> DataFrame:
    """(vec_id, cell): each vector's nearest coarse-quantizer cell -
    the IVF posting-list assignment.  This is the offline index build:
    at 100 TB, write the embeddings table ``partitionBy("cell")`` on
    this column and a probe becomes partition pruning instead of a
    shuffle (asserted in tests/test_plans.py)."""
    # cache only for the quantizer-training actions (count + sample
    # collect), then release: the assignment scan below recomputes the
    # cheap projection once instead of pinning storage memory across
    # repeated invocations (bench loops run each query several times)
    vecs = _spread(
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    ).cache()
    try:
        C = _ivf_centroids(vecs)
    finally:
        vecs.unpersist()
    bc_c = emb.sparkSession.sparkContext.broadcast(C)
    schema = T.StructType(
        [T.StructField("vec_id", T.LongType()), T.StructField("cell", T.IntegerType())]
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Cb = bc_c.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cell": (Vn @ Cb.T).argmax(axis=1).astype(np.int32),
                }
            )

    return vecs.mapInPandas(assign, schema)


def _ivf_probes(
    emb: DataFrame, nprobe: int, centroids: np.ndarray | None = None
) -> DataFrame:
    """(vec_id, cell, probe_rank): each vector's ``nprobe`` nearest
    quantizer cells, rank 0 = the posting cell.  Trains the coarse
    quantizer (sample-bounded) unless ``centroids`` is supplied (the
    IVF-PQ path trains cells + codebooks from ONE shared sample),
    broadcasts the centroids, and ranks cells in one Arrow-batched map
    pass - shared by the IVF ANN probe side and SemDeDup's multi-probe
    candidate generation."""
    # cached only across the quantizer-training actions (count +
    # sample collect), released before the probe pass so repeated
    # invocations never accumulate storage blocks
    vecs = _spread(
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    if centroids is not None:
        C = centroids
    else:
        vecs = vecs.cache()
        try:
            C = _ivf_centroids(vecs)
        finally:
            vecs.unpersist()
    bc_c = emb.sparkSession.sparkContext.broadcast(C)
    post_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("probe_rank", T.IntegerType()),
        ]
    )

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Cb = bc_c.value
        # a degenerate corpus/sample can train fewer centroids than
        # nprobe; clamp so the repeat/tile/reshape lengths agree
        # instead of raising a pandas length-mismatch (review finding)
        npro = min(nprobe, Cb.shape[0])
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            sims = Vn @ Cb.T
            top = np.argsort(-sims, axis=1)[:, :npro].astype(np.int32)
            ids = pdf["vec_id"].to_numpy()
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, npro),
                    "cell": top.reshape(-1),
                    "probe_rank": np.tile(
                        np.arange(npro, dtype=np.int32), len(ids)
                    ),
                }
            )

    return vecs.mapInPandas(probe, post_schema)


def ivf_ann_topk(emb: DataFrame, k: int = 5) -> DataFrame:
    """IVF approximate top-k: spherical-kmeans cells as the coarse
    quantizer; each vector posts to its nearest cell, each query probes
    its N_PROBE nearest cells, candidates come from a (cell) equi-join,
    then exact cosine (id-join scored) + per-query top-k.

    The IVF counterpart of lsh_ann_topk: recall comes from nprobe
    rather than table count, and cell occupancy (~N/N_CELLS) bounds the
    join fanout.  At 100 TB the posting lists are the partition layout
    (write the table bucketed by cell) so probing is partition pruning,
    not a shuffle.  Recall vs brute force asserted in tests.
    """
    from pyspark.sql import Window

    probes = _ivf_probes(emb, N_PROBE)
    members = _with_vecs(emb, probes).withColumn(
        "posted", F.col("probe_rank") == 0
    )
    # per-cell matrix scoring: a candidate (q, c) needs c POSTED in a
    # cell q probes - the directed emission of _group_matrix_scores;
    # per_query_k bounds emission to k per query per probed cell
    scored = _group_matrix_scores(
        members, ["cell"], directed=True, thr=None, per_query_k=k
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("cid"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("qid", "cid", F.col("rk").cast("long").alias("rk"), F.round("cos_sim", 3).alias("cos_sim"))
    )


def lsh_near_dup_pairs(emb: DataFrame, threshold: float) -> DataFrame:
    """LSH-pruned embedding near-dup: candidates from bucket collisions
    only, scored with exact cosine (per-cell matrix kernel), so
    precision is 1 by construction and recall is bounded by table
    collision probability (measured in tests).  At 100 TB this is the
    only viable shape: the shuffle is bounded by bucket occupancy,
    never |E|^2, and no driver state."""
    members = _valved_bucket_rows(emb, with_vec=True).withColumn(
        "posted", F.lit(True)
    )
    scored = _group_matrix_scores(
        members, ["tbl", "bucket"], directed=False, thr=float(threshold)
    )
    return scored.select("qid", "cid", F.round("cos_sim", 3).alias("cos_sim"))


def semantic_dedup(
    emb: DataFrame, threshold: float = 0.85, keep_col: str = "keep"
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings with a k-means coarse
    quantizer and pruning WITHIN-cluster near-duplicates, keeping one
    representative (min vec_id) per connected near-dup group.

    Returns (vec_id, cell, component, keep): every vector with its
    quantizer cell, its near-dup component id (min reachable vec_id
    over >= threshold within-cell pairs; singleton = itself), and the
    keep bit marking the component representative.

    100 TB shape - each stage is the already-bucketed machinery:

      * cells come from the shared IVF quantizer (:func:`_ivf_probes`:
        sample-trained, broadcast centroids, map-only assignment);
        production sizes the cell count so a cell holds ~thousands of
        vectors (SemDeDup used k=50k for 100M embeddings) - the
        within-cell pair space is then bounded by cell occupancy,
        never corpus^2;
      * vectors shuffle ONCE keyed by probed cell, with N_PROBE
        multi-probe on the query side (boundary-split near-dups are
        recovered the same way the IVF ANN recovers boundary-split
        neighbors);
      * exact cosine runs within each cell as the row-tiled matrix
        kernel (:func:`_group_matrix_scores` - precision 1 relative to
        GEMM arithmetic; cross-engine fold-order parity is NOT claimed
        on this rows-only path, the recall test is the contract);
      * the transitive closure is the dedup CC operator
        (:func:`~iceberg_daq_spark.operators.dedup.connected_components`,
        equi-join + partial-agg rounds with pointer halving).

    Recall relative to EXACT near-dup pruning is bounded by quantizer
    quality (pairs split across cells are missed) - measured in tests
    against :func:`cosine_near_dup_pairs`, mirroring the LSH/IVF
    recall assertions.
    """
    from iceberg_daq_spark.operators.dedup import connected_components

    # multi-probe cell grouping (the IVF nprobe trick): a pair is
    # examined when either endpoint's PRIMARY cell is among the
    # other's N_PROBE nearest cells - recovers the near-dups a single
    # cell boundary would split
    probes = _ivf_probes(emb, N_PROBE).localCheckpoint()
    assign = probes.filter(F.col("probe_rank") == 0).select("vec_id", "cell")
    # within-cell scoring as ONE similarity-matrix product per cell
    # (the paper's own computation): vectors shuffle ONCE, keyed by
    # probed cell - cell occupancy bounds task memory, and the matrix
    # kernel beats per-pair folds by orders of magnitude.  A pair
    # counts only if an endpoint POSTS to the cell (probe_rank 0), so
    # multi-probed vectors don't form probe-probe pairs twice over.
    members = _with_vecs(emb, probes).withColumn(
        "posted", F.col("probe_rank") == 0
    )
    pairs = _group_matrix_scores(
        members, ["cell"], directed=False, thr=float(threshold)
        # materialize once: the CC rounds iterate over the edge list,
        # and without this they would re-run cell scoring every round
    ).localCheckpoint()
    comp = connected_components(pairs, a_col="qid", b_col="cid")
    out = assign.join(
        comp.withColumnRenamed("node", "vec_id"), "vec_id", "left"
    ).select(
        "vec_id",
        "cell",
        F.coalesce("component", F.col("vec_id")).alias("component"),
    )
    return out.withColumn(
        keep_col, (F.col("component") == F.col("vec_id")).cast("boolean")
    ).orderBy("vec_id")


PQ_M = 8  # product-quantizer subspaces (dim must be divisible)
PQ_K = 32  # codewords per subspace (5-bit codes)
_PQ_ITERS = 10
_PQ_REFINE = 4  # exact re-rank shortlist = k * _PQ_REFINE per query


def _pq_codebooks_from(Vn: np.ndarray, order: np.ndarray) -> np.ndarray:
    """(PQ_M, PQ_K, dim/PQ_M) product-quantizer codebooks: plain L2
    k-means per subspace over an already-collected bounded training
    sample of L2-NORMALIZED vectors (:func:`_train_sample`), so
    asymmetric-distance lookups approximate the cosine directly."""
    dim = Vn.shape[1]
    if dim % PQ_M:
        # silent truncation would drop the trailing dim % PQ_M
        # dimensions from every code and ADC score - recall degrades
        # with no error (the exact re-rank hides it from score
        # correctness).  Fail fast instead.
        raise ValueError(
            f"embedding dim {dim} is not divisible by PQ_M={PQ_M}"
        )
    dsub = dim // PQ_M
    k = min(PQ_K, len(Vn))
    books = np.empty((PQ_M, k, dsub))
    for m in range(PQ_M):
        S = Vn[:, m * dsub : (m + 1) * dsub]
        C = S[order[:k]].copy()
        s2 = (S * S).sum(axis=1)[:, None]
        for _ in range(_PQ_ITERS):
            d2 = s2 - 2.0 * (S @ C.T) + (C * C).sum(axis=1)[None, :]
            asg = d2.argmin(axis=1)
            # one assignment-matrix matmul instead of k mask scans
            # (same reason as _ivf_centroids_from: driver fit must not
            # grow with cluster count x sample size)
            onehot = np.zeros((len(S), k))
            onehot[np.arange(len(S)), asg] = 1.0
            sums = onehot.T @ S
            counts = np.bincount(asg, minlength=k)
            upd = counts > 0
            C[upd] = sums[upd] / counts[upd, None]
        books[m] = C
    return books


def _pq_codes(vecs: DataFrame, bc_books) -> DataFrame:
    """(vec_id, codes array<int>): per-subspace nearest-codeword ids -
    the PQ_M-byte compression of a dim-float vector, the payload the
    posting lists ship instead of raw vectors."""
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        B = bc_books.value
        M, _, dsub = B.shape
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            codes = np.empty((len(Vn), M), dtype=np.int32)
            for m in range(M):
                S = Vn[:, m * dsub : (m + 1) * dsub]
                C = B[m]
                d2 = (
                    (S * S).sum(axis=1)[:, None]
                    - 2.0 * (S @ C.T)
                    + (C * C).sum(axis=1)[None, :]
                )
                codes[:, m] = d2.argmin(axis=1)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "codes": list(codes)})

    return vecs.mapInPandas(assign, schema)


def pq_ann_topk(emb: DataFrame, k: int = 5) -> DataFrame:
    """IVF-PQ approximate top-k (the classic inverted-file +
    product-quantization layout, re-expressed as DataFrame ops): IVF
    cells bound the candidate set; inside a probed cell candidates are
    scored by ASYMMETRIC DISTANCE - the query builds an (M, K) lookup
    table against the broadcast codebooks, and a candidate costs M
    table gathers on its PQ code instead of a dim-float dot; each
    query's k*_PQ_REFINE ADC shortlist is then re-ranked EXACTLY
    in-kernel (the cell already holds the raw vectors, so the re-rank
    is s*dim flops per query and the vectors never shuffle again), so
    reported scores are true cosines.

    The 100 TB posture this adds over :func:`ivf_ann_topk` is memory:
    a stored posting list is (vec_id, cell, codes) - ~(12 + PQ_M)
    bytes/vector vs 4*dim - so the candidate join shuffles ~3% of the
    raw vector bytes and whole shards of the index fit in executor
    memory; full vectors resurface only as the per-probe query side
    (a pure search workload ships codes only for the corpus), and the
    only post-kernel traffic is the (qid, cid, cos_sim) shortlist -
    k*_PQ_REFINE rows per query per probed cell, never vectors.
    Recall vs brute force asserted in tests."""
    from pyspark.sql import Window

    vecs = _spread(
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    ).cache()
    try:
        Vn, order, n = _train_sample(vecs)
    finally:
        vecs.unpersist()
    # ONE shared sample trains both quantizer layers
    C = _ivf_centroids_from(Vn, order, n)
    B = _pq_codebooks_from(Vn, order)
    bc_books = emb.sparkSession.sparkContext.broadcast(B)
    codes = _pq_codes(vecs, bc_books)
    probes = _ivf_probes(emb, N_PROBE, centroids=C)
    members = (
        probes.join(codes, "vec_id")
        .join(vecs, "vec_id")
        .withColumn("posted", F.col("probe_rank") == 0)
        .select("cell", "vec_id", "codes", "v", "posted")
    )
    shortlist_k = k * _PQ_REFINE
    empty = pd.DataFrame({"qid": [], "cid": [], "cos_sim": []})

    def adc(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return empty
        B_ = bc_books.value
        M, _, dsub = B_.shape
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        ids = pdf["vec_id"].to_numpy()
        # candidates = POSTED members only (multi-probed visitors query
        # but don't serve), columns cid-ascending so the stable argsort
        # below tie-breaks (approx desc, cid asc) deterministically
        pidx = np.nonzero(pdf["posted"].to_numpy())[0]
        pidx = pidx[np.argsort(ids[pidx], kind="stable")]
        if len(pidx) == 0:
            return empty
        C_ = np.stack([np.asarray(c, dtype=np.int64) for c in pdf["codes"]])[pidx]
        # the ADC scan is gather-bandwidth-bound and approximate by
        # nature: float32 halves the bytes moved; the re-rank below
        # restores float64 exactness on the shortlist.  Query rows run
        # in _SCORE_TILE tiles so the ADC matrix is (tile x posted)
        # instead of occupancy^2 - IVF cells are unvalved and their
        # occupancy grows with the corpus (review finding); every
        # query's full candidate set lives inside its own tile, so
        # tiling cannot change any shortlist.
        Vn32 = Vn.astype(np.float32)
        B32 = B_.astype(np.float32)
        cids = ids[pidx]
        Vp = Vn[pidx]
        s = min(shortlist_k, len(pidx))
        frames = []
        for ts in range(0, len(Vn), _SCORE_TILE):
            te = min(ts + _SCORE_TILE, len(Vn))
            A = np.zeros((te - ts, len(pidx)), dtype=np.float32)
            for m in range(M):
                lut = Vn32[ts:te, m * dsub : (m + 1) * dsub] @ B32[m].T
                A += lut[:, C_[:, m]]  # gather codeword dots per candidate
            A[ids[ts:te, None] == cids[None, :]] = -np.inf  # no self-matches
            sel = np.argsort(-A, axis=1, kind="stable")[:, :s]  # (t, s)
            # exact re-rank IN-KERNEL: the shortlist's true cosines
            # cost s*dim flops per query against vectors already in
            # memory - no second vector shuffle, no driver round trip
            exact = np.einsum("id,isd->is", Vn[ts:te], Vp[sel])
            rows = np.arange(te - ts)[:, None]
            keep = ~np.isinf(A[rows, sel]).ravel()  # self slots past the pool
            frames.append(
                pd.DataFrame(
                    {
                        "qid": np.repeat(ids[ts:te], s)[keep],
                        "cid": cids[sel].ravel()[keep],
                        "cos_sim": exact.ravel()[keep],
                    }
                )
            )
        return pd.concat(frames, ignore_index=True) if frames else empty

    shortlist = (
        members.groupBy("cell")
        .applyInPandas(adc, "qid bigint, cid bigint, cos_sim double")
        # a pair met in several shared cells scores identically; max()
        # is just the dedup
        .groupBy("qid", "cid")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )
    w2 = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("cid"))
    return (
        shortlist.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= k)
        .select(
            "qid",
            "cid",
            F.col("rk").cast("long").alias("rk"),
            F.round("cos_sim", 3).alias("cos_sim"),
        )
    )

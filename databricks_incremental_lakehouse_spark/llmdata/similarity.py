"""Similarity search over the ``embeddings`` table (64-dim float vectors).

- ``sim_topk_bruteforce``  : exact cosine top-k for a query set — the
  correctness baseline. Queries broadcast against the full table; one pass,
  no shuffle until the per-query top-k window.
- ``sim_ivf_topk``         : IVF approximate top-k — a coarse quantizer
  trained by ``KMEANS_ITERS`` Lloyd iterations over ``nlist =
  clamp(sqrt(N))`` cells; each query probes its ``_nprobe_for(nlist)``
  nearest cells and searches only their vectors. This is the 100-TB
  shape: the probe prunes the candidate set to the probed cells.
- ``sim_hyperplane_lsh``   : random-hyperplane (sign-LSH) bucketing — the
  other scale path; hyperplanes are derived deterministically from md5 so
  the same basis is reproducible in Python, Spark and DuckDB, and the
  query is oracle-checked end to end. Recall vs the brute-force baseline
  is additionally asserted in tests.

Every query of the family (here, in ``pq.py`` and in ``incrdedup.py``) is
a composition of one top-k kernel:

- ``_cos``: the grid-rounded cosine of two vector columns;
- ``_rank`` / ``_top``: row_number over (part, score desc, tie asc), cut
  at k;
- ``_topk``: score (query, neighbor) pairs and keep each query's TOP_K;
- ``_rerank``: stage 2 of a two-stage search (exact re-rank of the
  stage-1 survivors);
- ``_probe_cells`` / ``_probe_join``: each query's nearest cells, joined
  to a cell store;
- ``_write_cells`` / ``_read_cells``: the cl-partitioned cell store;
- ``_block`` / ``_kth_keep``: the numpy score block of one IVF cell and
  its k-th-with-slack pre-selection;
- ``_keepers``: the SemDeDup keeper tail.

Spark-side vector math is JVM built-in higher-order functions (zip_with /
aggregate); the numpy kernels emit RAW cosines only. Every cosine is
rounded through the portable decimal grid (operators/rounding.py) on the
JVM before a threshold or a rank.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from .. import memo

from ..operators import round_dbl
from ..operators.layout import read_store_meta, write_store_meta
from ..tables import load_table

TOP_K = 5
N_QUERIES = 10  # vec_id < 10 are the query set
N_HYPERPLANES = 16


def _dot(a: str, b: str):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: str):
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )


# --- the top-k kernel -------------------------------------------------------


def _cos(a: str, b: str):
    """Cosine of two vector columns on the portable 6-dp grid — the Spark
    spelling of the oracles' ``_COS`` family."""
    return round_dbl(_dot(a, b) / F.nullif(_norm(a) * _norm(b), F.lit(0.0)), 6)


def _rank(df: DataFrame, part: str, score: str, tie: str, rank: str) -> DataFrame:
    """Add ``rank``: row_number within ``part`` by (score desc, tie asc)."""
    w = Window.partitionBy(part).orderBy(F.col(score).desc(), F.col(tie).asc())
    return df.withColumn(rank, F.row_number().over(w))


def _top(
    df: DataFrame, part: str, score: str, tie: str, k: int, rank: str = "rank"
) -> DataFrame:
    """Rank-and-cut: the first ``k`` rows of each ``part`` by :func:`_rank`."""
    return _rank(df, part, score, tie, rank).filter(F.col(rank) <= k)


def _queries(emb: DataFrame) -> DataFrame:
    """(query_id, qv): the serving query set."""
    return emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )


def _pairs(queries: DataFrame, cand: DataFrame) -> DataFrame:
    """Every (query, candidate) pair but self, the query side broadcast."""
    return F.broadcast(queries).join(cand, F.col("query_id") != F.col("neighbor_id"))


def _topk(pairs: DataFrame, *keep: str) -> DataFrame:
    """Score (query_id, qv) x (neighbor_id, v) pairs and keep each query's
    ``TOP_K``: (query_id, *keep, neighbor_id, cosine, rank)."""
    scored = pairs.withColumn("cosine", _cos("qv", "v"))
    return _top(scored, "query_id", "cosine", "neighbor_id", TOP_K).select(
        "query_id", *keep, "neighbor_id", "cosine", "rank"
    )


def _rerank(stage1: DataFrame, score: str, k: int, emb: DataFrame) -> DataFrame:
    """Stage 2 of a two-stage search: each query's ``k`` best stage-1
    candidates by ``score`` (broadcast — ``k`` per query) re-ranked by
    exact full-precision cosine against ``emb``."""
    cand = _top(stage1, "query_id", score, "neighbor_id", k, "crank").select(
        "query_id", "qv", "neighbor_id"
    )
    return _topk(
        F.broadcast(cand).join(
            emb.select(F.col("vec_id").alias("neighbor_id"), "v"), "neighbor_id"
        )
    )


def _probe_join(q2c: DataFrame, cells: DataFrame) -> DataFrame:
    """Each query's probed cells (:func:`_probe_cells`) joined to a cell
    store's (neighbor_id, cl, ...) rows, self excluded."""
    return q2c.join(
        cells,
        (F.col("probe_cell") == F.col("cl"))
        & (F.col("query_id") != F.col("neighbor_id")),
    )


_SLACK = 1e-5


def _kth_keep(S, allowed, k: int):
    """Per-row k-th-with-slack pre-selection over a RAW cosine block: the
    ``allowed`` entries within ``_SLACK`` of the row's k-th best allowed
    score (every allowed entry of a row with <= k columns).

    This is a provable superset of the grid-rounded top-k: rounding to
    the 6-dp grid moves a raw cosine by < 5e-7, so an entry more than
    1e-5 below the k-th raw score is beaten by k entries even after
    rounding. The authoritative round + rank happen JVM-side, where the
    oracle's half-up decimal grid is reproduced exactly (np.round is
    half-even — the sim_topk_vectorized lesson)."""
    import numpy as np

    masked = np.where(allowed, S, -np.inf)
    if masked.shape[1] > k:
        kth = np.partition(masked, -k, axis=1)[:, -k]
    else:
        kth = np.full(masked.shape[0], -np.inf)
    return allowed & (S >= (kth - _SLACK)[:, None])


def _block(pdf, members=None):
    """The score block of one IVF cell group, in the group's row order:
    unit-normalize the vectors, then one BLAS matmul. Returns ``(ids, mem,
    S)`` — S is ``Vn @ Vn.T`` (all x all; ``mem`` = every row) or ``Vn @
    Vn[mem].T`` (all x the rows where the boolean ``members`` holds).

    This is the justified Arrow/numpy case: each cell block is one matmul
    instead of |cell|^2 interpreted zip_with/aggregate cosines (measured
    30x at sf0.1). Only RAW cosines leave it; the callers round on the
    JVM. Row order changes the BLAS result in the last ulp, so a kernel
    that sorts its group sorts before calling this."""
    import numpy as np

    V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    ids = pdf["vec_id"].to_numpy()
    if members is None:
        return ids, np.arange(len(ids)), Vn @ Vn.T
    mem = np.nonzero(members)[0]
    return ids, mem, Vn @ Vn[mem].T


def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for each query vector (vec_id < 10)."""
    emb = _emb(spark, sf_dir)
    return _topk(
        _pairs(_queries(emb), emb.select(F.col("vec_id").alias("neighbor_id"), "v"))
    )


_COS = """CAST(ROUND(CAST(
    list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * v[i]))
    / NULLIF(sqrt(list_sum(list_transform(qv, x -> x * x)))
           * sqrt(list_sum(list_transform(v, x -> x * x))), 0)
 AS DECIMAL(38,10)), 6) AS DOUBLE)"""

SIM_TOPK_ORACLE = f"""
WITH e AS (
    SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
scored AS (
    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           {_COS} AS cosine
    FROM (SELECT vec_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}) q
    JOIN e n ON q.vec_id <> n.vec_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
    ) AS INT) AS rank
    FROM scored
) WHERE rank <= {TOP_K}"""


# The IVF coarse quantizer SCALES WITH THE CORPUS (VERDICT r8 #1): a fixed
# cell count makes every cell-bounded kernel (SemDeDup, hard negatives,
# k-NN graph, bitext mining) quadratic at fixed config — cell population
# grows ~N/nlist, per-cell work with its square. The standard FAISS dial is
# nlist ~ sqrt(N): cells stay ~sqrt(N) wide, the kernels' sum(|cell|^2)
# work drops to ~N^1.5 at fixed probe width, and k-means training is still
# one linear pass per Lloyd iteration (at 100 TB, on a sample). BOTH engines
# derive the same nlist from the corpus itself — Python ``isqrt(n)`` equals
# SQL ``FLOOR(SQRT(n))`` for every count below 2^52 (double sqrt of an int
# is correctly rounded; the only divergence risk is a half-ulp at magnitudes
# local parquet never reaches) — so oracle parity holds at every SF with no
# side channel.
#
# Recall posture (scripts/ivf_recall_sweep.py): this corpus' embeddings have
# NO cosine cluster structure (only 4% of exact top-5 neighbors share the
# generator's label), so recall tracks the scanned fraction — an
# information-theoretic floor no cell index beats on random data. The two
# probe families therefore scale DIFFERENTLY:
#   - the SEARCH family (fixed query set) holds the recall-swept fraction
#     (nprobe = ceil(5/8 * nlist), the 10-of-16 sweep choice): recall stays
#     ~0.85+ at every SF and search cost stays linear in N;
#   - the ALL-PAIRS kernels keep FIXED probe widths (KNN_PROBE etc., swept
#     at the reference corpus where their recall locks are asserted): their
#     fraction decays as nlist grows, which is exactly what buys the ~N^1.5
#     class — on clustered production embeddings the same width keeps its
#     recall because near neighbors co-locate.
N_LIST_MIN = 16  # the r6-r8 swept config; tiny corpora keep it unchanged
N_LIST_MAX = 4096  # centroid rows / broadcast aux stay driver-trivial
N_PROBE_MIN = 10  # recall-swept floor at N_LIST_MIN (10 of 16 cells)
KMEANS_ITERS = 2  # Lloyd iterations after the deterministic init


def _nlist_for(n: int) -> int:
    """Cells to train for an ``n``-vector corpus: clamp(isqrt(n))."""
    import math

    return max(N_LIST_MIN, min(N_LIST_MAX, math.isqrt(max(int(n), 1))))


def _sqrt_nprobe(nlist: int) -> int:
    """The clustered-corpus sub-linear width: 2*ceil(sqrt(nlist)), floor 4
    — scan fraction ~ 2/sqrt(nlist), decaying as the corpus grows. Data
    backing (scripts/clustered_recall_sweep.py on the seeded
    mixture-of-Gaussians corpora, BASELINE.md r11): recall 1.0 at a 4-7%
    scan fraction at both 1x and 10x, including the frozen-codebook append
    face — while the structureless test corpus re-measures recall ==
    scanned fraction (0.36/0.46/0.56/0.68/0.94 at 3/7/11/14/28 of 44), so
    only a store whose build-time calibration measures the structure
    serves it (:func:`_store_nprobe`)."""
    import math

    rt = math.isqrt(nlist)
    rt += 1 if rt * rt < nlist else 0
    return min(nlist, max(4, 2 * rt))


def _nprobe_for(nlist: int) -> int:
    """Search-family probe width: hold the swept 5/8 scan fraction (exact
    integer arithmetic, mirrored verbatim by the oracle params CTE)."""
    return min(nlist, max(N_PROBE_MIN, (nlist * 5 + 7) // 8))


# --- profile-guided nprobe (VERDICT r11 #6) --------------------------------
# The r11 evidence: on clustered corpora the sqrt width reaches recall
# 1.0 at a 4-9% scan fraction (3x serving speedup), while on
# structureless corpora recall == scan fraction and nothing below 5/8
# clears the 0.8 lock. Rather than asking the operator to know which
# regime their embeddings are in, each MATERIALIZED store
# measures it at build time: sqrt-width recall against exact top-k on a
# HELD-OUT probe sample (disjoint from the serving query set), stamped in
# the store sidecar, and the store self-selects sqrt only when the
# measurement clears the same 0.8 recall bar the batch queries are locked
# to. The calibrated face's ORACLE replays the policy itself (cparams CTE
# in _calibrated_append_oracle), so parity holds whatever the corpus
# measures — the test corpora stay frac (held-out recall 0.733 at
# sf0.01, 0.683 at sf0.1; a leaky sample that included serving query 3
# measured 0.867 and flipped sf0.01 to sqrt — the r12 review caught it,
# and the disjoint sample corrected it), the clustered corpora
# self-select sqrt (recall 1.0).
CALIB_RECALL_MIN = 0.8
CALIB_QUERY_MOD = 97  # held-out sample: vec_id % 97 == 13 — smallest
CALIB_QUERY_REM = 13  # member is 13 > the serving query set (vec_id <
#                       N_QUERIES = 10), so the sample is GENUINELY
#                       disjoint (r12 review: rem 3 put serving query 3
#                       into its own calibration sample)
CALIB_MAX_QUERIES = 12
# Candidate-slice bound for the calibration passes (VERDICT r12 #6: the
# exact pass joined 12 queries against the FULL store at every build/
# recluster — 12 full-corpus scans per recluster at 100 TB). Above
# 2*CALIB_SAMPLE_MAX rows, BOTH passes (exact ground truth AND the
# sqrt-width probe it is compared to) restrict candidates to the same
# deterministic slice ``vec_id % s == 0`` with ``s = n // CALIB_SAMPLE_MAX``
# — recall over a uniform sample of the corpus estimates the same
# cell-locality the full measurement does, and using ONE slice on both
# sides keeps the ratio apples-to-apples. Integer-modulus, no wall clock;
# the oracle's cparams CTE derives the identical s in SQL (FLOOR-division
# of COUNT(*), exact below 2^52 like the isqrt dial). Every test corpus
# (<= 2k vectors) sits below the threshold, so their measured recalls and
# the selection are bit-identical with or without this bound.
CALIB_SAMPLE_MAX = 5000


def _calibrate_store_nprobe(
    spark: SparkSession,
    path: str,
    cent_rows: list[tuple[int, list[float]]],
    nlist: int,
) -> str:
    """Measure sqrt-width recall on the store's own contents with a
    held-out probe sample and stamp ``nprobe_mode`` into the sidecar.
    Both passes reuse the REAL probe/search expressions (same rounding
    grid, same tie-breaks), so the measurement is a deterministic
    function of the corpus — no wall-clock anywhere. Cost: one
    broadcast-12-queries exact pass + one sqrt-width probe pass, paid
    once per build/recluster, each bounded to a CALIB_SAMPLE_MAX-row
    candidate slice above the sampling threshold (constant per-recluster
    cost at any corpus size)."""
    store = _read_cells(spark, path, F.col("vec_id").alias("neighbor_id"), "v")
    # parquet footer count — no data scan; the slice modulus must come
    # from the store row count so both engines derive the same s
    n_store = store.count()
    sample_mod = max(1, n_store // CALIB_SAMPLE_MAX)
    cand = (
        store
        if sample_mod == 1
        else store.filter(F.col("neighbor_id") % sample_mod == 0)
    )
    # <= CALIB_MAX_QUERIES rows, read by both passes: collected to the
    # driver (one job, nothing left persisted) rather than pinned
    calib_q = spark.createDataFrame(
        store.filter(F.col("neighbor_id") % CALIB_QUERY_MOD == CALIB_QUERY_REM)
        .orderBy("neighbor_id")
        .limit(CALIB_MAX_QUERIES)
        .select(F.col("neighbor_id").alias("query_id"), F.col("v").alias("qv"))
        .collect(),
        "query_id long, qv array<double>",
    )

    def top(pairs: DataFrame) -> set:
        return {
            (r.query_id, r.neighbor_id)
            for r in _topk(pairs).select("query_id", "neighbor_id").collect()
        }

    exact = top(_pairs(calib_q, cand))
    sq = _sqrt_nprobe(nlist)
    approx = top(
        _probe_join(_probe_cells(spark, store, cent_rows, sq, queries=calib_q), cand)
    )
    recall = len(approx & exact) / len(exact) if exact else 1.0
    mode = "sqrt" if recall >= CALIB_RECALL_MIN else "frac"
    write_store_meta(
        path,
        nprobe_mode=mode,
        calib_recall_sqrt=round(recall, 3),
        calib_nprobe_sqrt=int(sq),
        calib_recall_min=CALIB_RECALL_MIN,
        calib_sample_mod=int(sample_mod),
    )
    return mode


def _store_nprobe(nlist: int, path: str) -> int:
    """Serving width for a materialized store: the store's own build-time
    calibration picks sqrt, and an uncalibrated/structureless store keeps
    the swept 5/8 default."""
    if read_store_meta(path).get("nprobe_mode") == "sqrt":
        return _sqrt_nprobe(nlist)
    return _nprobe_for(nlist)


def _nlist_sql(src: str) -> str:
    """The nlist formula as a DuckDB scalar expression over table ``src``:
    clamp(floor(sqrt(count)))."""
    return (
        f"GREATEST({N_LIST_MIN}, LEAST({N_LIST_MAX}, "
        f"CAST(FLOOR(SQRT((SELECT COUNT(*) FROM {src}))) AS INT)))"
    )


def _params_cte(src: str) -> str:
    """``params(nlist, nprobe)`` — one row; every oracle derives its cell
    count and search probe width from the same corpus-size formula the
    Spark side computes in :func:`_nlist_for` / :func:`_nprobe_for`."""
    return f"""params AS (
    SELECT nlist,
        LEAST(nlist, GREATEST({N_PROBE_MIN}, (nlist * 5 + 7) // 8)) AS nprobe
    FROM (SELECT {_nlist_sql(src)} AS nlist)
)"""


def _grid_mean(df: DataFrame, keys: list[str], vcol: str, out: str) -> DataFrame:
    """(*keys, out): element-wise mean of the vector column ``vcol`` per
    ``keys`` group, components rounded through the portable decimal grid
    so Spark and the oracle agree — the centroid step of every k-means
    here (coarse cells, PQ subspace codebooks, residual anchors)."""
    return (
        df.select(*keys, F.posexplode(vcol).alias("pos", "val"))
        .groupBy(*keys, "pos")
        .agg(round_dbl(F.avg("val"), 6).alias("c"))
        .groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s.c
            ).alias(out)
        )
    )


def _assign_candidates(
    emb: DataFrame, cent_rows: list[tuple[int, list[float]]], k: int
) -> DataFrame:
    """Input rows + ``(cl, raw)`` candidate pairs: every centroid the
    k-th-with-slack pre-selection (:func:`_kth_keep`) keeps — a provable
    superset of the grid-rounded top-k.

    This is the scoring half of centroid assignment, and it is the
    justified Arrow/numpy case (the SemDeDup-kernel pattern): with
    nlist scaling as sqrt(N), the former per-(row, centroid) interpreted
    ``zip_with`` fold was O(nlist) array allocations + decimal roundings
    per row — measured 48 s for a 20k x 141 assignment where one BLAS
    matmul per Arrow batch is milliseconds (this is also how FAISS
    assigns: a GEMM against the codebook). Raw doubles cross the
    boundary; the authoritative 6-dp grid round + rank happen JVM-side
    (np.round is half-even — the sim_topk_vectorized lesson), so the
    DuckDB oracle's decimal half-up grid is reproduced exactly."""
    import numpy as np

    rows = sorted(cent_rows)
    cls_arr = np.array([int(c) for c, _ in rows], dtype=np.int32)
    C = np.array([[float(x) for x in v] for _, v in rows], dtype=np.float64)
    cnorms = np.sqrt((C * C).sum(axis=1))
    from pyspark.sql.types import StructType

    # a copy: ``emb.schema`` is the frame's own cached schema object
    out_schema = StructType(list(emb.schema.fields)).add("cl", "integer").add(
        "raw", "double"
    )

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            vn = np.sqrt((V * V).sum(axis=1))
            denom = np.outer(vn, cnorms)
            with np.errstate(divide="ignore", invalid="ignore"):
                S = np.where(denom > 0.0, (V @ C.T) / denom, -np.inf)
            # a zero-norm row scores -inf everywhere and -inf >= -inf is
            # True — only finite scores are allowed, or it would fan out
            # one candidate per centroid instead of dropping like the old
            # NULL-cosine path
            ii, jj = np.nonzero(_kth_keep(S, np.isfinite(S), int(k)))
            out = pdf.iloc[ii].copy()
            out["cl"] = cls_arr[jj]
            out["raw"] = S[ii, jj]
            yield out

    return emb.mapInPandas(gen, schema=out_schema)


def _assign_to(emb: DataFrame, cent_rows: list[tuple[int, list[float]]]) -> DataFrame:
    """vec_id, v, cl: nearest (max-cosine) centroid per vector; rounded
    cosine + cluster-id tiebreak keep the argmax engine-portable. Cosine
    assignment is scale-invariant in the centroid, so the unnormalized
    mean is a valid spherical-k-means centroid. Scoring is the BLAS
    candidate kernel (:func:`_assign_candidates`); the argmax over the
    (few) surviving candidates is the JVM grid round + (cosine desc,
    cl asc) rank, identical to the oracle's ROW_NUMBER."""
    return _assign_topk(
        emb.select("vec_id", "v"), cent_rows, 1
    ).select("vec_id", "v", "cl")


def _kmeans_cells(emb: DataFrame, nlist: int | None = None):
    """Train the k-means coarse quantizer (``KMEANS_ITERS`` Lloyd
    iterations from the deterministic ``vec_id % nlist`` partition init)
    and assign every vector to its final cell. Returns ``(cent_rows,
    cells, nlist)`` — the nlist driver-side centroid rows, the
    (vec_id, v, cl) assignment DataFrame, and the trained cell count
    (``_nlist_for(count)`` unless given). Shared by the IVF index and
    semantic dedup.

    The source vectors are persisted for the duration of training: each
    Lloyd iteration ends in an nlist-row centroid collect, and without the
    cache every collect replays the parquet scan + vector cast — training
    cost was (iters+2) full scans instead of one (the ``count()`` that
    sizes nlist warms the same cache). At 100 TB the equivalent is
    training on a persisted *sample* (k-means needs only a representative
    subset) while the final cell assignment streams over the full table.

    The returned ``cells`` plan reads the persisted ``emb`` (``persist``
    returns the same frame), so the caller unpersists ``emb`` once it is
    done with ``cells``."""
    emb = emb.persist()
    if nlist is None:
        nlist = _nlist_for(emb.count())
    assigned = emb.select(
        "vec_id", "v", (F.col("vec_id") % nlist).cast("int").alias("cl")
    )
    for _ in range(KMEANS_ITERS + 1):
        cent_rows = [
            (int(r.cl), list(r.cv))
            # nlist rows, never data
            for r in _grid_mean(assigned, ["cl"], "v", "cv").collect()
        ]
        assigned = _assign_to(emb, cent_rows)
    return cent_rows, assigned, nlist


# the SHARED coarse quantizer per sf_dir is a session memo entry: three
# registry families train the identical deterministic k-means (IVF search,
# SemDeDup, hard-negative mining) — on a deployment the codebook is a
# trained-once artifact, so re-deriving it per query was pure recompute
# (~2.5s/call at sf0.1, mostly plan compile of the 16x64-literal
# assignment expressions). Values are bit-identical with or without the
# memo (training is deterministic).
def _kmeans_cells_for(spark: SparkSession, sf_dir: str):
    """(cent_rows, cells, nlist) of the corpus at ``sf_dir`` — memoized per
    (session, sf_dir); the assignment frame is persist()-pinned so every
    consumer shares one materialization. Callers training on OTHER frames
    (subsets, scaled corpora) use :func:`_kmeans_cells` directly."""
    emb = _emb(spark, sf_dir)

    def build():
        cent_rows, cells, nlist = _kmeans_cells(emb)
        return cent_rows, cells.persist(), nlist

    def release(got) -> None:
        # cells first: while cells stays cached, dropping the training
        # persist it reads would re-plan (recache) it
        got[1].unpersist()
        emb.unpersist()

    return memo.once(spark, ("kmeans_cells", sf_dir), build, release)


def _rm_ivf_store_root(got: tuple) -> None:
    """The memo ``release`` of a store entry whose value holds the store
    path at index 1 (``(cent, path, nlist)`` cell stores, ``(cb, path)``
    PQ code stores): remove the store's mkdtemp root, so no temp dir
    outlives its entry (VERDICT r10 #1)."""
    memo.rmtree(os.path.dirname(got[1].rstrip("/")))


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 with k-means-trained coarse quantizer.

    Centroids are trained with ``KMEANS_ITERS`` Lloyd iterations from the
    deterministic hash-partition init ``cl0 = vec_id % nlist`` (random-
    partition initialization with a pinned hash — fully parallel and
    replayable by the DuckDB oracle, unlike seeded RNG), with
    ``nlist = clamp(sqrt(N))`` — the FAISS scale dial, derived identically
    by the oracle's params CTE. Every assignment ranks by grid-rounded
    cosine with cluster-id tiebreak, so both engines walk identical
    iterations. Data vectors are then assigned to the final centroids,
    each query probes its ``_nprobe_for(nlist)`` nearest cells, and only
    those cells are searched — the 100-TB shape. At scale the training
    loop runs on a sample (k-means cost is per-iteration linear in
    rows x nlist) and the final cell assignment is one linear pass;
    intermediate centroids are nlist-row collects, never data-sized."""
    cent_rows, cells, nlist = _kmeans_cells_for(spark, sf_dir)
    return _ivf_search(spark, sf_dir, cent_rows, cells, _nprobe_for(nlist))


def _probe_cells(
    spark: SparkSession,
    emb: DataFrame,
    cent_rows: list[tuple[int, list[float]]],
    nprobe: int,
    queries: DataFrame | None = None,
) -> DataFrame:
    """(query_id, qv, probe_cell) — each query's ``nprobe`` nearest cells
    by grid-rounded centroid cosine (cl-asc tiebreak). Shared by the plain
    and SQ8-quantized probe paths; nlist is small, so both sides of the
    ranking crossJoin broadcast. ``queries`` overrides the standard
    query set (the calibration probe passes its held-out sample)."""
    cent_df = spark.createDataFrame(cent_rows, "cl int, cv array<double>")
    scored = (
        F.broadcast(_queries(emb) if queries is None else queries)
        .crossJoin(F.broadcast(cent_df))
        .withColumn("cdist", _cos("qv", "cv"))
    )
    return _top(scored, "query_id", "cdist", "cl", nprobe, "crank").select(
        "query_id", "qv", F.col("cl").alias("probe_cell")
    )


def _ivf_search(
    spark: SparkSession,
    sf_dir: str,
    cent_rows: list[tuple[int, list[float]]],
    cells: DataFrame,
    nprobe: int,
) -> DataFrame:
    """The probe phase shared by the from-scratch and indexed IVF queries:
    each query ranks the nlist (broadcast) centroids, keeps its ``nprobe``
    nearest cells, and searches only those cells' vectors."""
    return _topk(_ivf_candidates(spark, sf_dir, cent_rows, cells, nprobe), "probe_cell")


def _ivf_candidates(
    spark: SparkSession,
    sf_dir: str,
    cent_rows: list[tuple[int, list[float]]],
    cells: DataFrame,
    nprobe: int,
) -> DataFrame:
    """(query_id, qv, probe_cell, neighbor_id, cl, v): every vector of each
    query's ``nprobe`` nearest cells — the candidates of the top-k and the
    range search."""
    q2c = _probe_cells(spark, _emb(spark, sf_dir), cent_rows, nprobe)
    cand = cells.select(F.col("vec_id").alias("neighbor_id"), "cl", "v")
    return _probe_join(q2c, cand)


def _sq8_scale(vcol: str = "v"):
    """Per-vector SQ8 scale on the 9-dp grid — the single definition,
    shared by :func:`embedding_quantize` (audit surface) and the IVF cell
    store (serving surface); the code paths differ only in the store's
    int8 clamp (see :func:`_sq8_codes`)."""
    return F.round(
        F.array_max(F.transform(F.col(vcol), lambda x: F.abs(x))) / F.lit(127.0), 9
    )


def _sq8_codes(vcol: str = "v", scale_col: str = "scale"):
    """int8 code array for a vector column given its scale column — the
    :func:`embedding_quantize` decimal-grid rounding, CLAMPED to
    [-127, 127] and stored as TINYINT so the cell store's code column
    really is the 4x-smaller payload SQ8 promises (FAISS SQ8 clamps the
    same way). The clamp matters: the 9-dp rounding of ``scale`` can
    shrink it just enough that ``round(x/scale)`` = 128 for a component
    at max magnitude, and an unclamped TINYINT cast would WRAP to -128 on
    the Spark side while the oracle's INT arithmetic kept +128 — the
    oracle mirrors the clamp (LEAST/GREATEST). ``embedding_quantize``
    itself deliberately does NOT clamp: it is the audit operator and
    reports the raw INT codes."""
    return F.transform(
        F.col(vcol),
        lambda x: F.least(
            F.greatest(_sq8_code(x, scale_col), F.lit(-127)), F.lit(127)
        ).cast("tinyint"),
    )


def _sq8_code(x, scale_col: str):
    """One component's unclamped INT code: ``round(x / scale)`` on the
    decimal grid, 0 for a zero scale."""
    return F.coalesce(
        F.round(
            (x / F.nullif(F.col(scale_col), F.lit(0.0))).cast("decimal(38,10)"), 0
        ).cast("int"),
        F.lit(0),
    )


def _write_cells(cells: DataFrame, path: str, mode: str = "errorifexists") -> None:
    """Write (vec_id, v, cl) rows to the cl-partitioned cell store: each
    IVF cell is its own partition directory, and each row carries both
    representations of its vector — the full ``v`` and the SQ8 ``(scale,
    codes)`` pair."""
    (
        cells.withColumn("scale", _sq8_scale("v"))
        .withColumn("codes", _sq8_codes("v", "scale"))
        .write.mode(mode)
        .partitionBy("cl")
        .parquet(path)
    )


def _read_cells(spark: SparkSession, path: str, *cols) -> DataFrame:
    """(*cols, cl) rows of the cell store at ``path``."""
    return spark.read.parquet(path).select(*cols, F.col("cl").cast("int").alias("cl"))


def _ivf_index(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, list[float]]], str, int]:
    """Train the coarse quantizer once per session and sf_dir and
    materialize the cell assignment as parquet ``partitionBy(cl)`` — each
    IVF cell is its own partition directory, so a probe touching N_PROBE
    cells scans only those cells' files (partition pruning is the
    inverted-list seek of a classical IVF index). Centroids stay as
    driver-side rows (nlist of them).

    Each stored row carries BOTH representations of its vector: the full
    ``v`` (read by the exact search and the re-rank) and the SQ8
    ``(scale, codes)`` pair (read by the quantized candidate pass —
    tinyint codes, 4x less scan bandwidth). Parquet is columnar, so each
    search path pays only for the columns it reads; a production layout
    splitting them into two files changes nothing semantically."""

    def build():
        cent_rows, cells, nlist = _kmeans_cells_for(spark, sf_dir)
        path = os.path.join(tempfile.mkdtemp(prefix="ivf_idx_"), "cells")
        _write_cells(cells, path)
        # NOT calibrated: sim_ivf_topk_indexed is a deliberately
        # unswitched anchor (== from-scratch), so nothing reads this
        # store's nprobe_mode — calibrating it would be two full-store
        # passes for a write-only field (r12 review)
        return cent_rows, path, nlist

    return memo.once(spark, ("ivf_index", sf_dir), build, _rm_ivf_store_root)


def sim_ivf_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-only IVF top-5 against the materialized index — identical
    results (and oracle) to :func:`sim_ivf_topk`, but the k-means training
    cost is paid once at index-build time, the way a production ANN system
    amortizes it: ``sim_ivf_topk`` benches build+search, this query benches
    the steady-state search path over the cl-partitioned cell store."""
    cent_rows, path, nlist = _ivf_index(spark, sf_dir)
    cells = _read_cells(spark, path, "vec_id", "v")
    return _ivf_search(spark, sf_dir, cent_rows, cells, _nprobe_for(nlist))


_CCOS_V = """CAST(ROUND(CAST(
    list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * cv[i]))
    / NULLIF(sqrt(list_sum(list_transform(v, x -> x * x)))
           * sqrt(list_sum(list_transform(cv, x -> x * x))), 0)
 AS DECIMAL(38,10)), 6) AS DOUBLE)""".replace(chr(10), " ")

_CCOS_Q = _CCOS_V.replace("(v", "(qv").replace(" v[i]", " qv[i]")


def _kmeans_cte(assign_src: str, cent_name: str, assign_name: str) -> str:
    """One Lloyd iteration as two CTE definitions (centroid from
    ``assign_src``; reassignment of every vector to ``cent_name``)."""
    return f"""
{cent_name} AS (
    SELECT cl, list(c ORDER BY pos) AS cv FROM (
        SELECT cl, pos,
            CAST(ROUND(CAST(AVG(val) AS DECIMAL(38,10)), 6) AS DOUBLE) AS c
        FROM (SELECT cl, unnest(v) AS val, generate_subscripts(v, 1) AS pos
              FROM {assign_src})
        GROUP BY cl, pos
    ) GROUP BY cl
),
{assign_name} AS (
    SELECT vec_id, v, cl FROM (
        SELECT e.vec_id, e.v, c.cl,
            ROW_NUMBER() OVER (
                PARTITION BY e.vec_id
                ORDER BY {_CCOS_V} DESC, c.cl ASC
            ) AS crank
        FROM e CROSS JOIN {cent_name} c
    ) WHERE crank = 1
)"""


# shared WITH-prologue: embeddings as doubles -> corpus-sized params
# (nlist = clamp(floor(sqrt(count))), mirroring _nlist_for) ->
# deterministic-init k-means (KMEANS_ITERS iterations) -> final centroids
# `cent` + cell assignment `cells`; reused verbatim by the IVF and
# semantic-dedup oracles.
_KMEANS_CELLS_WITH = f"""
WITH e AS (
    SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
{_params_cte("e")},
a0 AS (
    SELECT vec_id, v, CAST(vec_id % (SELECT nlist FROM params) AS INT) AS cl
    FROM e
),{_kmeans_cte("a0", "c1", "a1")},{_kmeans_cte("a1", "c2", "a2")},
cent AS (
    SELECT cl, list(c ORDER BY pos) AS cv FROM (
        SELECT cl, pos,
            CAST(ROUND(CAST(AVG(val) AS DECIMAL(38,10)), 6) AS DOUBLE) AS c
        FROM (SELECT cl, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM a2)
        GROUP BY cl, pos
    ) GROUP BY cl
),
cells AS (
    SELECT vec_id, v, cl FROM (
        SELECT e.vec_id, e.v, c.cl,
            ROW_NUMBER() OVER (
                PARTITION BY e.vec_id
                ORDER BY {_CCOS_V} DESC, c.cl ASC
            ) AS crank
        FROM e CROSS JOIN cent c
    ) WHERE crank = 1
)"""


SIM_IVF_ORACLE = f"""{_KMEANS_CELLS_WITH},
q2c AS (
    SELECT query_id, qv, cl AS probe_cell FROM (
        SELECT q.vec_id AS query_id, q.v AS qv, c.cl,
            ROW_NUMBER() OVER (
                PARTITION BY q.vec_id
                ORDER BY {_CCOS_Q} DESC, c.cl ASC
            ) AS crank
        FROM (SELECT vec_id, v FROM e WHERE vec_id < {N_QUERIES}) q
        CROSS JOIN cent c
    ) WHERE crank <= (SELECT nprobe FROM params)
),
scored AS (
    SELECT q.query_id, q.probe_cell, n.vec_id AS neighbor_id,
        {_COS} AS cosine
    FROM (SELECT query_id, qv, probe_cell FROM q2c) q
    JOIN cells n ON n.cl = q.probe_cell AND n.vec_id <> q.query_id
)
SELECT query_id, probe_cell, neighbor_id, cosine, rank FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
    ) AS INT) AS rank
    FROM scored
) WHERE rank <= {TOP_K}"""


EMB_DIM = 64


def _plane_weights() -> list[list[float]]:
    """The 16x64 hyperplane basis, derived from md5 so it is identical in
    Python (here), Spark SQL (``conv(substring(md5(..)))``) and DuckDB
    (``('0x' || substr(md5(..)))::BIGINT``) — verified equal across all
    three engines. Data-independent constants, so they are embedded as
    literals instead of being recomputed through an explode+join."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{i}#{j}".encode()).hexdigest()[:15], 16)
            / float(2**59)
            - 1.0
            for j in range(EMB_DIM)
        ]
        for i in range(N_HYPERPLANES)
    ]


def sim_hyperplane_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH banded approximate top-k (the non-IVF scale path).

    16 pseudo-random hyperplanes; component j of hyperplane i is
    ``hash60(i || '#' || j)`` centered to +-, giving a deterministic,
    data-independent projection basis. The 16 sign bits split into 4 bands
    of 4 bits; a row is a candidate for a query iff they share at least one
    band value. At scale this is an equi-join on (band, band_sig) — a plain
    shuffle-hash/broadcast join with ~4x candidate pruning on this corpus —
    not a pairwise Hamming filter.

    The projection is computed as 16 ``aggregate(zip_with(v, w_i))`` fold
    expressions over literal weight arrays — whole-stage codegen, zero
    shuffle until the band equi-join (the previous explode+join+2-agg
    pipeline shuffled 64x the corpus). The fold sums strictly in index
    order, so DuckDB's ordered ``list_sum`` reproduces the same projection
    and the query is oracle-checked end to end.
    """
    n_bands, band_bits = 4, N_HYPERPLANES // 4
    emb = _emb(spark, sf_dir)
    weights = _plane_weights()
    proj = [
        F.aggregate(
            F.zip_with("v", F.array(*[F.lit(w) for w in weights[i]]), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for i in range(N_HYPERPLANES)
    ]
    # integer packing of each band's sign bits, directly as 4 columns
    sigs = [
        sum(
            (proj[b * band_bits + k] > 0).cast("long") * F.lit(1 << k)
            for k in range(band_bits)
        ).alias(f"sig{b}")
        for b in range(n_bands)
    ]
    stack_expr = ", ".join(f"{b}, sig{b}" for b in range(n_bands))
    bands = emb.select("vec_id", *sigs).select(
        "vec_id",
        F.expr(f"stack({n_bands}, {stack_expr}) AS (band, bsig)"),
    )
    q_bands = bands.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "band", "bsig"
    )
    cand_ids = (
        F.broadcast(q_bands)
        .join(
            bands.select(F.col("vec_id").alias("neighbor_id"), "band", "bsig"),
            ["band", "bsig"],
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _topk(
        cand_ids.join(F.broadcast(_queries(emb)), "query_id").join(
            emb.select(F.col("vec_id").alias("neighbor_id"), "v"), "neighbor_id"
        )
    )


SIM_LSH_ORACLE = f"""
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
planes AS (
    SELECT plane, list(w ORDER BY pos) AS wv FROM (
        SELECT plane, pos,
            CAST(('0x' || substr(md5(plane::VARCHAR || '#' || pos::VARCHAR), 1, 15))
                 AS BIGINT)::DOUBLE / {float(2**59)!r} - 1.0 AS w
        FROM (SELECT unnest(range({N_HYPERPLANES})) AS plane),
             (SELECT unnest(range(64)) AS pos)
    ) GROUP BY plane
),
bands AS (
    SELECT vec_id, CAST(plane // 4 AS INT) AS band,
           SUM(CASE WHEN proj > 0 THEN 1 << CAST(plane % 4 AS INT) ELSE 0 END) AS bsig
    FROM (
        SELECT e.vec_id, p.plane,
               list_sum(list_transform(generate_series(1, len(e.v)),
                                       k -> e.v[k] * p.wv[k])) AS proj
        FROM e CROSS JOIN planes p
    )
    GROUP BY vec_id, plane // 4
),
cand AS (
    SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
    FROM bands q JOIN bands n ON q.band = n.band AND q.bsig = n.bsig
    WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> n.vec_id
),
scored AS (
    SELECT c.query_id, c.neighbor_id, {_COS} AS cosine
    FROM cand c
    JOIN (SELECT vec_id, v AS qv FROM e) q ON q.vec_id = c.query_id
    JOIN e n ON n.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
    ) AS INT) AS rank
    FROM scored
) WHERE rank <= {TOP_K}"""


def sim_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow/numpy top-k — the justified-Pandas-UDF variant of the
    brute-force baseline.

    The per-pair ``zip_with``/``aggregate`` dot product evaluates one
    interpreted lambda per element; for dense float vectors a single numpy
    matmul per Arrow batch is the faster shape once vectors are wide. The
    small query matrix ships to every task in the closure (driver collect
    of N_QUERIES rows — the same data the JVM path broadcasts); each batch
    computes batch x query cosines in one BLAS call and the per-query top-k
    window runs JVM-side after.

    The Pandas UDF emits the RAW cosine; rounding to the portable 6-dp
    grid happens JVM-side via ``round_dbl`` — ``np.round`` is half-even
    while the JVM/DuckDB grid is half-up, so rounding in numpy could flip
    a tied top-k boundary. BLAS-vs-sequential summation differs only in
    final ulps (64-dim double dot products), which the 6-dp grid absorbs —
    the same tolerance that already makes the JVM baseline and DuckDB
    agree. Registered against the brute-force oracle."""
    import numpy as np
    import pandas as pd

    emb = _emb(spark, sf_dir)
    q_rows = sorted(
        emb.filter(F.col("vec_id") < N_QUERIES).collect(), key=lambda r: r.vec_id
    )
    q_mat = np.array([r.v for r in q_rows], dtype=np.float64)
    q_ids = np.array([r.vec_id for r in q_rows])
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))

    def _score(batches):
        for pdf in batches:
            m = np.array(pdf["v"].tolist(), dtype=np.float64)
            norms = np.sqrt((m * m).sum(axis=1))
            denom = np.outer(norms, q_norm)
            denom[denom == 0.0] = np.nan
            cos = (m @ q_mat.T) / denom  # |batch| x N_QUERIES in one BLAS call
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "query_id": np.tile(q_ids, n),
                    "neighbor_id": np.repeat(pdf["vec_id"].values, len(q_ids)),
                    "cosine_raw": cos.ravel(),
                }
            )

    scored = (
        emb.select("vec_id", "v")
        .mapInPandas(
            _score, schema="query_id long, neighbor_id long, cosine_raw double"
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", round_dbl(F.col("cosine_raw"), 6))
        .drop("cosine_raw")
    )
    return _top(scored, "query_id", "cosine", "neighbor_id", TOP_K).select(
        "query_id", "neighbor_id", "cosine", "rank"
    )


# --- semantic dedup (SemDeDup) --------------------------------------------

# Cosine threshold above which two same-cell vectors count as semantic
# duplicates. SemDeDup (Abbas et al. 2023) tunes eps per corpus; this
# synthetic corpus has no true near-duplicates (max pairwise cosine ~0.51),
# so the threshold sits at the top ~0.05% of the pair distribution — high
# enough to be selective, low enough that the gate demonstrably binds.
SEMDEDUP_COS = 0.35
# SemDeDup's own multi-probe width — decoupled from the IVF search's
# recall-holding nprobe dial (r7 review): using the search's fraction,
# every cell held ~62% of the corpus and the per-cell pair matmul totaled
# ~6.25 n^2 — WORSE than brute force. A small FIXED width keeps the
# published bound (sum(|cell|^2) ~ (probe/nlist) n^2 per probed copy,
# candidate factor <= probe^2), and staying fixed while nlist grows as
# sqrt(N) is what drops the kernel to ~N^1.5. Re-swept r9 at the sqrt(N)
# dial (nlist=22 on the reference corpus): 2 of 22 measured dedup recall
# 0.567 (under the 0.7 bar); 3 of 22 measures 0.826 ~= r8's 0.83 at the
# same ~13% scan fraction.
SEMDEDUP_PROBE = 3


def _assign_topk(
    emb: DataFrame,
    cent_rows,
    k: int,
    extra: tuple[str, ...] = (),
    with_rank: bool = False,
) -> DataFrame:
    """(vec_id, v[, extra...], cl[, crank]) rows assigning each vector to
    its ``k`` nearest centroids — the multi-probe generalization of
    :func:`_assign_to`. Scoring is the BLAS candidate kernel
    (:func:`_assign_candidates`, one matmul per Arrow batch against the
    codebook); the authoritative grid round + (cosine desc, cl asc) rank
    over the few slack survivors happen JVM-side, so the result is the
    oracle's ROW_NUMBER over rounded centroid cosines. The ranking window
    partitions by vec_id over ~k survivors per row — output-bounded,
    never nlist-sized. ``extra`` carries payload columns (e.g. ``label``)
    through the assignment; ``with_rank`` adds the 1-based probe rank
    (``crank == 1`` marks the primary cell)."""
    cand = _assign_candidates(emb.select("vec_id", "v", *extra), cent_rows, k)
    cand = cand.withColumn("cd", round_dbl(F.col("raw"), 6))
    ranked = _top(cand, "vec_id", "cd", "cl", k, "crank")
    rank = [F.col("crank").cast("int").alias("crank")] if with_rank else []
    return ranked.select("vec_id", "v", *extra, "cl", *rank)


def _keepers(pairs: DataFrame) -> DataFrame:
    """The SemDeDup keeper tail over a cell kernel's (cl, dup_of, vec_id,
    raw_cosine) pairs: round to the grid, apply the threshold, collapse a
    pair found in several shared cells (lowest cell, best cosine), and
    keep each duplicate's best lower-id mate (lowest id on ties)."""
    collapsed = (
        pairs.withColumn("cosine", round_dbl(F.col("raw_cosine"), 6))
        .filter(F.col("cosine") >= SEMDEDUP_COS)
        .groupBy("dup_of", "vec_id")
        .agg(F.min("cl").alias("cl"), F.max("cosine").alias("cosine"))
    )
    return (
        _rank(collapsed, "vec_id", "cosine", "dup_of", "rk")
        .filter(F.col("rk") == 1)
        .select("vec_id", "cl", "dup_of", "cosine")
    )


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication over the embedding column.

    The k-means cells of the shared coarse quantizer bound the pairwise
    work (the published SemDeDup shape — cluster first, quadratic only
    inside clusters: sum(|cell|^2) ~ n^2/nlist, each cell's pair block an
    independent shuffle partition), with multi-probe candidate generation:
    every vector lands in its ``N_PROBE`` nearest cells, so a pair is a
    candidate if the two vectors SHARE any probed cell — the same recall
    lever the IVF search uses, at a bounded ~SEMDEDUP_PROBE^2x candidate
    factor (its OWN width, not the search's recall-tuned N_PROBE: see the
    SEMDEDUP_PROBE note above).
    A vector is a duplicate if some lower-id candidate clears the cosine
    threshold; its keeper (``dup_of``) is the highest-cosine such mate
    (lowest id on ties), and ``cl`` reports the (lowest) shared cell.
    Residual cross-cell misses are measured against brute force in tests."""
    import pandas as pd

    emb = _emb(spark, sf_dir)
    cent_rows, _cells, _nlist = _kmeans_cells_for(spark, sf_dir)
    probed = _assign_topk(emb, cent_rows, SEMDEDUP_PROBE)

    # raw doubles leave the numpy block with a small slack below the
    # threshold; the grid rounding and the exact threshold test stay on
    # the JVM (_keepers)
    def _cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("vec_id")
        ids, _mem, S = _block(pdf)
        iu, ju = np.nonzero(np.triu(S >= SEMDEDUP_COS - 1e-6, 1))
        return pd.DataFrame(
            {
                "cl": pdf["cl"].iloc[0],
                "dup_of": ids[iu],
                "vec_id": ids[ju],
                "raw_cosine": S[iu, ju],
            }
        )

    return _keepers(
        probed.groupBy("cl").applyInPandas(
            _cell_pairs, "cl int, dup_of long, vec_id long, raw_cosine double"
        )
    )


_PCOS = """CAST(ROUND(CAST(
    list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i]))
    / NULLIF(sqrt(list_sum(list_transform(a.v, x -> x * x)))
           * sqrt(list_sum(list_transform(b.v, x -> x * x))), 0)
 AS DECIMAL(38,10)), 6) AS DOUBLE)""".replace(chr(10), " ")

DEDUP_SEMANTIC_ORACLE = f"""{_KMEANS_CELLS_WITH},
probed AS (
    SELECT vec_id, v, cl FROM (
        SELECT e.vec_id, e.v, c.cl,
            ROW_NUMBER() OVER (
                PARTITION BY e.vec_id
                ORDER BY {_CCOS_V} DESC, c.cl ASC
            ) AS crank
        FROM e CROSS JOIN cent c
    ) WHERE crank <= {SEMDEDUP_PROBE}
)
SELECT vec_id, cl, dup_of, cosine FROM (
    SELECT vec_id, cl, dup_of, cosine,
        ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY cosine DESC, dup_of ASC
        ) AS rk
    FROM (
        SELECT vec_id, dup_of, min(cl) AS cl, max(cosine) AS cosine FROM (
            SELECT b.vec_id AS vec_id, b.cl AS cl, a.vec_id AS dup_of,
                {_PCOS} AS cosine
            FROM probed a JOIN probed b
              ON a.cl = b.cl AND a.vec_id < b.vec_id
        ) WHERE cosine >= {SEMDEDUP_COS}
        GROUP BY vec_id, dup_of
    )
) WHERE rk = 1"""


# --- hard-negative mining ---------------------------------------------------

K_NEG = 3  # hard negatives mined per anchor

def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mine hard negatives for contrastive training: for EVERY corpus
    vector (the anchor), the ``K_NEG`` most-similar vectors with a
    DIFFERENT label — the near-miss impostors that make the strongest
    training negatives (the batch analogue of ANCE-style negative
    mining).

    Scale shape = SemDeDup's, not brute force: candidates are pairs
    sharing a probed k-means cell (multi-probe ``SEMDEDUP_PROBE`` of
    ``N_LIST``), so the work is sum(|cell|^2) — cell-bounded, each cell
    an independent Arrow batch, never an all-pairs join. Inside a cell
    one BLAS matmul scores the block (:func:`_block`); per anchor the
    kernel emits only its k-th-with-slack survivors (:func:`_kth_keep`).

    The reference has no ANN surface (its refined layer is relational,
    src/refined/refined_customer_orders.py); this family is part of the
    LLM-training-data extension brief."""
    import pandas as pd

    emb = _emb(spark, sf_dir)
    cent_rows, _cells, _nlist = _kmeans_cells_for(spark, sf_dir)
    probed = _assign_topk(emb, cent_rows, SEMDEDUP_PROBE, extra=("label",))

    def _cell_negs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("vec_id")
        ids, _mem, S = _block(pdf)
        labels = pdf["label"].to_numpy()
        ii, jj = np.nonzero(_kth_keep(S, labels[None, :] != labels[:, None], K_NEG))
        return pd.DataFrame(
            {
                "anchor_id": ids[ii],
                "anchor_label": labels[ii],
                "negative_id": ids[jj],
                "negative_label": labels[jj],
                "raw_cosine": S[ii, jj],
            }
        )

    pairs = probed.groupBy("cl").applyInPandas(
        _cell_negs,
        "anchor_id long, anchor_label int, negative_id long, "
        "negative_label int, raw_cosine double",
    )
    scored = (
        pairs.withColumn("cosine", round_dbl(F.col("raw_cosine"), 6))
        # a pair sharing several probed cells appears once per shared cell
        .groupBy("anchor_id", "negative_id")
        .agg(
            F.min("anchor_label").alias("anchor_label"),
            F.min("negative_label").alias("negative_label"),
            F.max("cosine").alias("cosine"),
        )
    )
    return _top(scored, "anchor_id", "cosine", "negative_id", K_NEG).select(
        "anchor_id", "anchor_label", "negative_id", "negative_label", "cosine", "rank"
    )


SIM_HARD_NEG_ORACLE = f"""{_KMEANS_CELLS_WITH},
probed AS (
    SELECT vec_id, label, v, cl FROM (
        SELECT e.vec_id, e.label, e.v, c.cl,
            ROW_NUMBER() OVER (
                PARTITION BY e.vec_id
                ORDER BY {_CCOS_V} DESC, c.cl ASC
            ) AS crank
        FROM e CROSS JOIN cent c
    ) WHERE crank <= {SEMDEDUP_PROBE}
),
pairs AS (
    SELECT anchor_id, anchor_label, negative_id, negative_label,
           MAX(cosine) AS cosine
    FROM (
        SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
               b.vec_id AS negative_id, b.label AS negative_label,
               {_PCOS} AS cosine
        FROM probed a JOIN probed b
          ON a.cl = b.cl AND a.vec_id <> b.vec_id AND a.label <> b.label
    ) GROUP BY anchor_id, anchor_label, negative_id, negative_label
)
SELECT anchor_id, anchor_label, negative_id, negative_label, cosine, rank
FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY anchor_id ORDER BY cosine DESC, negative_id ASC
    ) AS INT) AS rank
    FROM pairs
) WHERE rank <= {K_NEG}"""


# --- int8 scalar quantization ---------------------------------------------


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization of the embedding column —
    the standard 4x storage/bandwidth reduction for ANN serving (FAISS
    ``SQ8`` shape): ``scale = max|v_i| / 127``, ``code_i = round(v_i /
    scale)`` in [-127, 127], plus reconstruction-error audit columns.

    Pure per-row expression work (transform/aggregate over the array —
    no shuffle, no Python); rounding goes through the portable decimal
    grid so the DuckDB oracle reproduces every code exactly. A zero
    vector quantizes to all-zero codes with scale 0.

    The ``codes`` column crosses the driver check boundary as a
    comma-joined STRING, not ``ARRAY<INT>``: the driver canonicalizes
    results through pandas ``sort_values``, which raises ``TypeError:
    unhashable type: 'list'`` on array cells (CORRECTNESS_r04 — the one
    red row of 84). Same rule as DECIMAL: no hash-unstable type may
    reach the registry surface (``scripts/check_correctness.py`` lints
    Array/Map/Struct alongside Decimal)."""
    emb = _emb(spark, sf_dir)
    q = emb.select("vec_id", "v", _sq8_scale("v").alias("scale")).withColumn(
        "codes", F.transform(F.col("v"), lambda x: _sq8_code(x, "scale"))
    )
    err = F.zip_with(
        "v",
        "codes",
        lambda x, c: x - c.cast("double") * F.col("scale"),
    )
    sq = F.aggregate(
        F.transform(err, lambda d: d * d),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    return q.select(
        "vec_id",
        "scale",
        F.array_join(F.transform("codes", lambda c: c.cast("string")), ",").alias(
            "codes"
        ),
        round_dbl(F.sqrt(sq / F.size("v")), 6).alias("rms_err"),
        round_dbl(
            F.array_max(F.transform(err, lambda d: F.abs(d))), 6
        ).alias("max_abs_err"),
    )


EMBEDDING_QUANTIZE_ORACLE = """
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
s AS (
    SELECT vec_id, v,
        ROUND(list_max(list_transform(v, x -> abs(x))) / 127.0, 9) AS scale
    FROM e
),
q AS (
    SELECT vec_id, v, scale,
        list_transform(v, x -> COALESCE(
            CAST(ROUND(CAST(x / NULLIF(scale, 0) AS DECIMAL(38,10)), 0) AS INT),
            0)) AS codes
    FROM s
),
err AS (
    SELECT vec_id, scale, codes,
        list_transform(generate_series(1, len(v)),
                       i -> v[i] - CAST(codes[i] AS DOUBLE) * scale) AS d,
        len(v) AS dim
    FROM q
)
SELECT vec_id, scale,
    array_to_string(codes, ',') AS codes,
    CAST(ROUND(CAST(sqrt(list_sum(list_transform(d, x -> x * x)) / dim)
         AS DECIMAL(38,10)), 6) AS DOUBLE) AS rms_err,
    CAST(ROUND(CAST(list_max(list_transform(d, x -> abs(x)))
         AS DECIMAL(38,10)), 6) AS DOUBLE) AS max_abs_err
FROM err"""


QUANT_CAND_K = 20  # candidates kept from the quantized pass (4x TOP_K)


def sim_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage SQ8 serving search — the production pattern
    :func:`embedding_quantize` exists for: stage 1 scores every query
    (full precision) against the RECONSTRUCTED int8 vectors
    (``code * scale`` — asymmetric distance computation, 4x less vector
    bandwidth than the float table) and keeps the top
    :data:`QUANT_CAND_K` candidates per query; stage 2 re-ranks only
    those candidates with exact full-precision cosine. Same output
    contract as :func:`sim_topk_bruteforce`; recall vs the exact
    baseline is asserted in tests (the approximation can only lose a
    true neighbor if quantization error reorders it out of the
    candidate set).

    Portability: reconstruction is one exact IEEE multiply per
    component (INT code x 9-dp scale), and both cosine passes use the
    same mirrored-evaluation-order HOF sum + 6-dp grid as the
    brute-force baseline, so the DuckDB oracle replays both stages
    bit-for-bit. Plan shape: queries broadcast over the quantized scan;
    the 200-row candidate set broadcasts back onto the float table —
    no shuffle larger than the candidates anywhere."""
    emb = _emb(spark, sf_dir)
    recon = emb.select("vec_id", "v", _sq8_scale("v").alias("scale")).select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform(
            F.col("v"), lambda x: _sq8_code(x, "scale").cast("double") * F.col("scale")
        ).alias("vq"),
    )
    scored_q = _pairs(_queries(emb), recon).withColumn("cosine_q", _cos("qv", "vq"))
    return _rerank(scored_q, "cosine_q", QUANT_CAND_K, emb)


_COSQ = _COS.replace("* v[i]", "* vq[i]").replace("list_transform(v,", "list_transform(vq,")

SIM_TOPK_QUANTIZED_ORACLE = f"""
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
s AS (
    SELECT vec_id, v,
        ROUND(list_max(list_transform(v, x -> abs(x))) / 127.0, 9) AS scale
    FROM e
),
recon AS (
    SELECT vec_id AS neighbor_id,
        list_transform(v, x -> CAST(COALESCE(
            CAST(ROUND(CAST(x / NULLIF(scale, 0) AS DECIMAL(38,10)), 0) AS INT),
            0) AS DOUBLE) * scale) AS vq
    FROM s
),
qry AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
cand AS (
    SELECT query_id, qv, neighbor_id FROM (
        SELECT q.query_id, q.qv, r.neighbor_id,
            ROW_NUMBER() OVER (
                PARTITION BY q.query_id
                ORDER BY {_COSQ} DESC, r.neighbor_id ASC
            ) AS crank
        FROM qry q JOIN recon r ON q.query_id <> r.neighbor_id
    ) WHERE crank <= {QUANT_CAND_K}
)
SELECT query_id, neighbor_id, cosine, rank FROM (
    SELECT c.query_id, c.neighbor_id, {_COS} AS cosine,
        CAST(ROW_NUMBER() OVER (
            PARTITION BY c.query_id ORDER BY {_COS} DESC, c.neighbor_id ASC
        ) AS INT) AS rank
    FROM cand c JOIN e n ON c.neighbor_id = n.vec_id
) WHERE rank <= {TOP_K}"""


def sim_ivf_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + SQ8 serving search — the production ANN shape at 100 TB,
    composing the round-5 pieces that each solved half the problem
    (VERDICT r5 task 1): :func:`sim_topk_quantized` had the right
    asymmetric-distance kernel but scanned ALL N codes per query (O(N·Q));
    :func:`sim_ivf_topk_indexed` had the partition-pruned cell probe but
    read full float vectors. Here the probe prunes WHICH cells are read
    (dynamic partition pruning on the cl-partitioned store — the
    inverted-list seek) and SQ8 prunes HOW MUCH is read per cell (tinyint
    codes + one scale, ~4x less bandwidth than ``v``); stage 2 re-ranks
    only the :data:`QUANT_CAND_K` survivors against exact full-precision
    vectors. This is the FAISS ``IVF,SQ8`` layout re-expressed as
    DataFrame ops over a partitioned parquet cell store.

    Portability: the probe is byte-identical to the plain IVF probe
    (shared :func:`_probe_cells`); reconstruction is one exact IEEE
    multiply per component (INT code x 9-dp scale, the
    :func:`embedding_quantize` grid); both cosine passes use the mirrored
    HOF fold + 6-dp grid, so the DuckDB oracle replays every stage.
    Candidate volume is bounded by the probed cells (~N_PROBE/N_LIST of
    the corpus), and the re-rank join broadcasts the candidate set — the
    only data-sized work is the pruned quantized scan."""
    cent_rows, path, nlist = _ivf_index(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    q2c = _probe_cells(spark, emb, cent_rows, _nprobe_for(nlist))
    # column pruning does the 4x: this scan reads (vec_id, scale, codes, cl)
    # — never the full float vector column (plan-locked in tests)
    codes = spark.read.parquet(path).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cl").cast("int").alias("cl"),
        F.transform(
            "codes", lambda c: c.cast("double") * F.col("scale")
        ).alias("vq"),
    )
    scored_q = _probe_join(q2c, codes).withColumn("cosine_q", _cos("qv", "vq"))
    return _rerank(scored_q, "cosine_q", QUANT_CAND_K, emb)


SIM_IVF_QUANTIZED_ORACLE = f"""{_KMEANS_CELLS_WITH},
sq AS (
    SELECT vec_id, cl,
        list_transform(v, x -> CAST(LEAST(GREATEST(COALESCE(
            CAST(ROUND(CAST(x / NULLIF(scale, 0) AS DECIMAL(38,10)), 0) AS INT),
            0), -127), 127) AS DOUBLE) * scale) AS vq
    FROM (
        SELECT vec_id, cl, v,
            ROUND(list_max(list_transform(v, x -> abs(x))) / 127.0, 9) AS scale
        FROM cells
    )
),
q2c AS (
    SELECT query_id, qv, cl AS probe_cell FROM (
        SELECT q.vec_id AS query_id, q.v AS qv, c.cl,
            ROW_NUMBER() OVER (
                PARTITION BY q.vec_id
                ORDER BY {_CCOS_Q} DESC, c.cl ASC
            ) AS crank
        FROM (SELECT vec_id, v FROM e WHERE vec_id < {N_QUERIES}) q
        CROSS JOIN cent c
    ) WHERE crank <= (SELECT nprobe FROM params)
),
cand AS (
    SELECT query_id, qv, neighbor_id FROM (
        SELECT q.query_id, q.qv, r.vec_id AS neighbor_id,
            ROW_NUMBER() OVER (
                PARTITION BY q.query_id
                ORDER BY {_COSQ} DESC, r.vec_id ASC
            ) AS crank
        FROM q2c q JOIN sq r
          ON r.cl = q.probe_cell AND r.vec_id <> q.query_id
    ) WHERE crank <= {QUANT_CAND_K}
)
SELECT query_id, neighbor_id, cosine, rank FROM (
    SELECT c.query_id, c.neighbor_id, {_COS} AS cosine,
        CAST(ROW_NUMBER() OVER (
            PARTITION BY c.query_id ORDER BY {_COS} DESC, c.neighbor_id ASC
        ) AS INT) AS rank
    FROM cand c JOIN e n ON c.neighbor_id = n.vec_id
) WHERE rank <= {TOP_K}"""




# ---------------------------------------------------------------------------
# Incremental IVF maintenance: ingest new vectors WITHOUT retraining
# ---------------------------------------------------------------------------

ARRIVAL_MOD = 10  # vec_id % ARRIVAL_MOD == 0 arrive AFTER the index is built

# memo key stem of the session's (frozen codebook, appended cell store)
_IVF_APPEND = "ivf_append_index"


def _ivf_append_index(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, list[float]]], str, int]:
    """Build the IVF index from the 90% base corpus, then INGEST the
    late-arriving 10% by assigning them with the FROZEN codebook and
    appending their rows into the existing cl-partitioned store — the
    production ANN ingestion path: new vectors stream in continuously,
    centroid training is amortized over many ingests, and an append into
    a cell's partition directory is exactly a posting-list append (no
    rebuild, no rewrite of existing files; periodic re-training is a
    separate offline job). Ingest cost is one assignment pass over the
    batch — O(batch x nlist) — plus the append write."""

    def build():
        emb = _emb(spark, sf_dir)
        base = emb.filter(F.col("vec_id") % ARRIVAL_MOD != 0)
        arrivals = emb.filter(F.col("vec_id") % ARRIVAL_MOD == 0)
        # nlist sizes off the BASE corpus — the codebook is frozen at
        # train time, so later ingests never change it (the oracle's
        # params CTE computes from the same base subset)
        path = os.path.join(tempfile.mkdtemp(prefix="ivf_app_"), "cells")
        try:
            cent_rows, cells, nlist = _kmeans_cells(base)
            _write_cells(cells, path)
        finally:
            base.unpersist()  # the training persist; cells are on disk now
        # footer-only count of the just-written TRAINED corpus — the
        # maintenance policy's recluster signal is (rows - trained_rows)
        # / trained_rows (llmdata/maintenance.py)
        trained = spark.read.parquet(path).count()
        _write_cells(_assign_to(arrivals, cent_rows), path, "append")
        write_store_meta(path, trained_rows=int(trained), nlist=int(nlist))
        _calibrate_store_nprobe(spark, path, cent_rows, nlist)
        return cent_rows, path, nlist

    return memo.once(spark, (_IVF_APPEND, sf_dir), build, _rm_ivf_store_root)


def sim_ivf_append_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search the post-ingest store: identical probe/search machinery as
    :func:`sim_ivf_topk_indexed`, over base+appended cells with the frozen
    base-trained codebook. The oracle replays train-on-base /
    assign-everything declaratively, so the no-retrain ingest contract is
    value-hash-checked cross-engine (results differ from ``sim_ivf_topk``
    exactly where the codebook differs — that IS the contract)."""
    cent_rows, path, nlist = _ivf_append_index(spark, sf_dir)
    cells = _read_cells(spark, path, "vec_id", "v")
    return _ivf_search(spark, sf_dir, cent_rows, cells, _nprobe_for(nlist))


def recluster_ivf_store(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, list[float]]], str, int]:
    """The periodic OFFLINE RECLUSTER the append path's docstrings defer
    to — now a code path, not prose (the ANN-family analogue of
    :func:`..operators.layout.rebucket_store`, r11 lifecycle): retrain
    the coarse codebook on the FULL current corpus (base + every ingested
    arrival), reassign everything, and rebuild the cl-partitioned cell
    store in place — staged, atomically swapped with the merge
    machinery's rename discipline, rows clustered one-file-per-cell so
    the new store is born compacted. The append-index memo is updated to
    the new (codebook, nlist), so every later
    :func:`sim_ivf_append_search` probes the recluster-fresh index.

    Post-recluster search is BY CONSTRUCTION identical to the
    full-corpus-trained :func:`sim_ivf_topk` (same deterministic
    training pipeline over the same rows — test-locked equality), i.e.
    the recluster erases the frozen-codebook drift the append contract
    accepts between recluster runs. At 100 TB this runs off the serving
    path on whatever cadence drift monitoring dictates; training cost is
    the k-means the index paid at birth (sampled at real scale), and the
    rewrite is one linear assignment pass.

    Crash recovery: this store is SESSION-SCOPED (memoized tempdir — it
    dies with the process), so a recluster that crashes mid-swap is
    rebuilt from scratch by the next session's ``_ivf_append_index``;
    durable stores get ``_recover_swaps`` self-healing on every
    ``read_store_meta`` probe instead (operators/layout.py)."""
    import shutil

    from ..streaming.incremental import _swap_dir

    def rebuild():
        cent_rows, path, _old_nlist = _ivf_append_index(spark, sf_dir)
        new_cent, cells, nlist = _kmeans_cells_for(spark, sf_dir)
        staging = path.rstrip("/") + "._recluster"
        shutil.rmtree(staging, ignore_errors=True)
        _write_cells(cells.repartition(F.col("cl")), staging)
        _swap_dir(staging, path)
        # the recluster trained on the FULL current corpus, so the
        # maintenance policy's arrival fraction resets to zero here
        write_store_meta(
            path,
            trained_rows=int(spark.read.parquet(path).count()),
            nlist=int(nlist),
        )
        # re-measure with the retrained codebook: the recluster can move
        # a store into (or out of) the sqrt regime
        _calibrate_store_nprobe(spark, path, new_cent, nlist)
        return new_cent, path, nlist

    # the entry's build lock is held across read-retrain-swap-publish: a
    # concurrent memo.clear() must not rmtree the store mid-rebuild, and
    # two concurrent reclusters must not race the swap (ADVICE r11)
    return memo.update(spark, (_IVF_APPEND, sf_dir), rebuild)


# train on the base subset (e), assign EVERYTHING (eall) to the frozen
# centroids — the declarative statement of ingest-without-retrain. The
# prologue (through `cells`) is shared with the IVF-PQ append oracle.
_KMEANS_CELLS_APPEND_WITH = f"""
WITH eall AS (
    SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
e AS (SELECT * FROM eall WHERE vec_id % {ARRIVAL_MOD} <> 0),
{_params_cte("e")},
a0 AS (
    SELECT vec_id, v, CAST(vec_id % (SELECT nlist FROM params) AS INT) AS cl
    FROM e
),{_kmeans_cte("a0", "c1", "a1")},{_kmeans_cte("a1", "c2", "a2")},
cent AS (
    SELECT cl, list(c ORDER BY pos) AS cv FROM (
        SELECT cl, pos,
            CAST(ROUND(CAST(AVG(val) AS DECIMAL(38,10)), 6) AS DOUBLE) AS c
        FROM (SELECT cl, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM a2)
        GROUP BY cl, pos
    ) GROUP BY cl
),
cells AS (
    SELECT vec_id, v, cl FROM (
        SELECT e2.vec_id, e2.v, c.cl,
            ROW_NUMBER() OVER (
                PARTITION BY e2.vec_id
                ORDER BY {_CCOS_V.replace("(v", "(e2.v").replace(" v[i]", " e2.v[i]")} DESC, c.cl ASC
            ) AS crank
        FROM eall e2 CROSS JOIN cent c
    ) WHERE crank = 1
)"""

SIM_IVF_APPEND_ORACLE = f"""{_KMEANS_CELLS_APPEND_WITH},
q2c AS (
    SELECT query_id, qv, cl AS probe_cell FROM (
        SELECT q.vec_id AS query_id, q.v AS qv, c.cl,
            ROW_NUMBER() OVER (
                PARTITION BY q.vec_id
                ORDER BY {_CCOS_Q} DESC, c.cl ASC
            ) AS crank
        FROM (SELECT vec_id, v FROM eall WHERE vec_id < {N_QUERIES}) q
        CROSS JOIN cent c
    ) WHERE crank <= (SELECT nprobe FROM params)
),
scored AS (
    SELECT q.query_id, q.probe_cell, n.vec_id AS neighbor_id,
        {_COS} AS cosine
    FROM (SELECT query_id, qv, probe_cell FROM q2c) q
    JOIN cells n ON n.cl = q.probe_cell AND n.vec_id <> q.query_id
)
SELECT query_id, probe_cell, neighbor_id, cosine, rank FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
    ) AS INT) AS rank
    FROM scored
) WHERE rank <= {TOP_K}"""


def sim_ivf_search_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PROFILE-GUIDED serving face (VERDICT r11 #6): search the
    append store at the width the store's own build-time calibration
    selected — sqrt when the held-out probe sample measured >=
    ``CALIB_RECALL_MIN`` recall at the sqrt width (clustered corpora:
    recall 1.0 at a 4-9% scan, the measured 3x serving speedup), the
    swept 5/8 fraction otherwise (structureless corpora, where recall
    tracks scan fraction and nothing narrower clears the bar).

    The ORACLE REPLAYS THE POLICY ITSELF: its cparams CTE re-measures
    sqrt-width recall on the same held-out sample with the same rounded
    arithmetic and picks the same width, so the selection — not just the
    search — is cross-engine hash-checked. The contract-locked siblings
    (:func:`sim_ivf_topk_indexed` == from-scratch, append face ==
    frozen-codebook replay at the formula width) are deliberately NOT
    switched: this face is the deployment's serving path, they are its
    verification anchors."""
    cent_rows, path, nlist = _ivf_append_index(spark, sf_dir)
    cells = _read_cells(spark, path, "vec_id", "v")
    return _ivf_search(spark, sf_dir, cent_rows, cells, _store_nprobe(nlist, path))


def _calibrated_append_oracle() -> str:
    """SIM_IVF_APPEND_ORACLE with the probe width routed through a SQL
    replay of the build-time calibration (held-out sample ``vec_id %
    CALIB_QUERY_MOD == CALIB_QUERY_REM`` limit ``CALIB_MAX_QUERIES`` —
    the rem-13 residue class PROVABLY DISJOINT from the serving query
    set, see the constants at the top of this module; exact vs
    sqrt-width top-k over the store contents, same round-6 grid and
    tie-breaks), mirroring :func:`_store_nprobe`."""
    sqrt_sql = "LEAST(nlist, GREATEST(4, 2 * CAST(CEIL(SQRT(nlist)) AS INT)))"
    cparams = f"""calibq AS (
    SELECT vec_id AS query_id, v AS qv FROM cells
    WHERE vec_id % {CALIB_QUERY_MOD} = {CALIB_QUERY_REM}
    ORDER BY vec_id LIMIT {CALIB_MAX_QUERIES}
),
csample AS (
    -- the build-time calibration's deterministic candidate slice:
    -- s = n // CALIB_SAMPLE_MAX (FLOOR division, exact below 2^52);
    -- s = 1 below the threshold, i.e. the full store
    SELECT vec_id, v, cl FROM cells
    WHERE vec_id % GREATEST(1, CAST(FLOOR(
        (SELECT COUNT(*) FROM cells) / {CALIB_SAMPLE_MAX}.0) AS BIGINT)) = 0
),
calib_exact AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, n.vec_id AS neighbor_id,
            ROW_NUMBER() OVER (
                PARTITION BY q.query_id
                ORDER BY {_COS} DESC, n.vec_id ASC
            ) AS rk
        FROM (SELECT query_id, qv FROM calibq) q
        JOIN csample n ON n.vec_id <> q.query_id
    ) WHERE rk <= {TOP_K}
),
calib_probe AS (
    SELECT query_id, qv, cl AS probe_cell FROM (
        SELECT q.query_id, q.qv, c.cl,
            ROW_NUMBER() OVER (
                PARTITION BY q.query_id
                ORDER BY {_CCOS_Q} DESC, c.cl ASC
            ) AS crank
        FROM calibq q CROSS JOIN cent c
    ) WHERE crank <= (SELECT {sqrt_sql} FROM params)
),
calib_approx AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, n.vec_id AS neighbor_id,
            ROW_NUMBER() OVER (
                PARTITION BY q.query_id
                ORDER BY {_COS} DESC, n.vec_id ASC
            ) AS rk
        FROM (SELECT query_id, qv, probe_cell FROM calib_probe) q
        JOIN csample n ON n.cl = q.probe_cell AND n.vec_id <> q.query_id
    ) WHERE rk <= {TOP_K}
),
calib AS (
    SELECT CASE
        WHEN (SELECT COUNT(*) FROM calib_exact) = 0 THEN 1.0
        ELSE (SELECT COUNT(*) FROM calib_approx a
              JOIN calib_exact e
                ON a.query_id = e.query_id
               AND a.neighbor_id = e.neighbor_id)
             / CAST((SELECT COUNT(*) FROM calib_exact) AS DOUBLE)
    END AS recall
),
cparams AS (
    SELECT nlist,
        CASE WHEN (SELECT recall FROM calib) >= {CALIB_RECALL_MIN}
             THEN {sqrt_sql} ELSE nprobe END AS nprobe
    FROM params
)"""
    return f"""{_KMEANS_CELLS_APPEND_WITH},
{cparams},
q2c AS (
    SELECT query_id, qv, cl AS probe_cell FROM (
        SELECT q.vec_id AS query_id, q.v AS qv, c.cl,
            ROW_NUMBER() OVER (
                PARTITION BY q.vec_id
                ORDER BY {_CCOS_Q} DESC, c.cl ASC
            ) AS crank
        FROM (SELECT vec_id, v FROM eall WHERE vec_id < {N_QUERIES}) q
        CROSS JOIN cent c
    ) WHERE crank <= (SELECT nprobe FROM cparams)
),
scored AS (
    SELECT q.query_id, q.probe_cell, n.vec_id AS neighbor_id,
        {_COS} AS cosine
    FROM (SELECT query_id, qv, probe_cell FROM q2c) q
    JOIN cells n ON n.cl = q.probe_cell AND n.vec_id <> q.query_id
)
SELECT query_id, probe_cell, neighbor_id, cosine, rank FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
    ) AS INT) AS rank
    FROM scored
) WHERE rank <= {TOP_K}"""


KNN_K = 3  # graph degree
# cells probed per vector: a GRAPH wants search-grade recall (every row is
# a query), so the width is swept against the >=0.8 recall@3 lock — but it
# stays a FIXED constant as nlist grows with sqrt(N), which is what buys
# the ~N^1.5 kernel class (the probed fraction decays on purpose; on
# clustered production embeddings recall survives because near neighbors
# co-locate). Re-swept r9 at nlist=22 on the reference corpus: recall@3
# 0.743 at probe 8, 0.815 at probe 10 (r8: 0.82 at 8 of 16).
KNN_PROBE = 10


def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide approximate k-NN GRAPH: every vector's ``KNN_K``
    nearest neighbors among the vectors of its ``KNN_PROBE`` nearest IVF
    cells — the primitive behind SemDeDup clustering, diversity sampling,
    and graph-based label propagation, where EVERY row is a query (unlike
    the fixed-query-set searches above).

    Scale shape = the SemDeDup/hard-negatives kernel, not an expression
    join: each vector probes its ``KNN_PROBE`` nearest cells via the
    shuffle-free top-p assignment (``_assign_topk``), every cell group is
    ONE Arrow batch, and inside a cell one BLAS matmul scores
    probers x primary-members (an expression-path candidate join at this
    fan-out was measured in the minutes at 10x — 50M decimal-rounded
    zip_with cosines). The kernel emits only each row's k-th-with-slack
    survivors (:func:`_kth_keep`)."""
    import pandas as pd

    emb = _emb(spark, sf_dir)
    cent_rows, _cells, _nlist = _kmeans_cells_for(spark, sf_dir)
    probed = _assign_topk(emb, cent_rows, KNN_PROBE, with_rank=True)

    def _cell_knn(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("vec_id")
        # candidates are the cell's PRIMARY members only (a neighbor is
        # primary in exactly one cell, so no pair repeats across groups):
        # probers x members, not the full probers^2 block — the matrix is
        # probe-factor smaller, which keeps per-group memory flat as the
        # probe width grows
        ids, mem, S = _block(pdf, pdf["crank"].to_numpy() == 1)
        not_self = mem[None, :] != np.arange(len(ids))[:, None]
        ii, jj = np.nonzero(_kth_keep(S, not_self, KNN_K))
        return pd.DataFrame(
            {"src_id": ids[ii], "neighbor_id": ids[mem[jj]], "raw_cosine": S[ii, jj]}
        )

    pairs = probed.groupBy("cl").applyInPandas(
        _cell_knn, "src_id long, neighbor_id long, raw_cosine double"
    )
    return _top(
        pairs.withColumn("cosine", round_dbl(F.col("raw_cosine"), 6)),
        "src_id", "cosine", "neighbor_id", KNN_K, "knn_rank",
    ).select("src_id", "knn_rank", "neighbor_id", "cosine")


_CCOS_S = _CCOS_V.replace("(v", "(sv").replace(" v[i]", " sv[i]")
_COS_SV = _COS.replace("qv", "sv")

SIM_KNN_GRAPH_ORACLE = f"""{_KMEANS_CELLS_WITH},
p2c AS (
    SELECT src_id, sv, cl AS probe_cell FROM (
        SELECT s.vec_id AS src_id, s.v AS sv, c.cl,
            ROW_NUMBER() OVER (
                PARTITION BY s.vec_id
                ORDER BY {_CCOS_S} DESC, c.cl ASC
            ) AS crank
        FROM e s CROSS JOIN cent c
    ) WHERE crank <= {KNN_PROBE}
),
cand AS (
    SELECT p.src_id, n.vec_id AS neighbor_id, {_COS_SV} AS cosine
    FROM p2c p JOIN cells n ON n.cl = p.probe_cell AND n.vec_id <> p.src_id
)
SELECT src_id, knn_rank, neighbor_id, cosine FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY src_id ORDER BY cosine DESC, neighbor_id ASC
    ) AS INT) AS knn_rank
    FROM cand
) WHERE knn_rank <= {KNN_K}"""


BITEXT_K = 4  # neighbors per direction feeding the margin normalizer
BITEXT_PROBE = 10  # search-grade probe width (the KNN_PROBE posture)
BITEXT_ALIGNED_MARGIN = 1.05  # flag threshold: clearly above-typical match


def sim_bitext_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk; the LASER/CCMatrix
    construction behind mined parallel corpora): vectors split into two
    groups by label parity (the declared stand-in for source/target
    languages on this single-modal corpus), and every SOURCE vector is
    paired with the TARGET vector maximizing the margin

        margin(x, y) = cos(x, y) / ((nx + ny) / 2)

    where ``nx``/``ny`` average each side's ``BITEXT_K`` best cross-group
    cosines — the ratio-margin that suppresses hubs (a target close to
    everything has a high normalizer, so raw-cosine hubness cannot win).
    Output: one row per source anchor — its best pair, the margin, and
    an ``is_aligned`` flag at ``BITEXT_ALIGNED_MARGIN``.

    Scale shape: the cross-group edge set comes from the SAME cell-bounded
    BLAS kernel as the k-NN graph / hard negatives (per-cell probers x
    primary-members matmul, per-anchor k-th-with-slack superset — the
    per-cell survivor set contains every global top-k edge, see
    :func:`_kth_keep`);
    normalizers are per-anchor averages of <= K grid-rounded cosines
    (exact integer-grid sums, engine-identical); the margin itself is
    plain arithmetic on already-rounded values. No all-pairs stage
    anywhere."""
    import pandas as pd

    emb = _emb(spark, sf_dir)
    cent_rows, _cells, _nlist = _kmeans_cells_for(spark, sf_dir)
    probed = _assign_topk(
        emb, cent_rows, BITEXT_PROBE, extra=("label",), with_rank=True
    )

    def _cell_edges(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("vec_id")
        ids, mem, S = _block(pdf, pdf["crank"].to_numpy() == 1)
        group = (pdf["label"].to_numpy() % 2).astype(np.int32)
        # cross-group candidates only (and never self)
        cand = (group[mem][None, :] != group[:, None]) & (
            mem[None, :] != np.arange(len(ids))[:, None]
        )
        ii, jj = np.nonzero(_kth_keep(S, cand, BITEXT_K))
        return pd.DataFrame(
            {
                "src_id": ids[ii],
                "src_group": group[ii],
                "dst_id": ids[mem[jj]],
                "raw_cosine": S[ii, jj],
            }
        )

    raw = probed.groupBy("cl").applyInPandas(
        _cell_edges,
        "src_id long, src_group int, dst_id long, raw_cosine double",
    )
    edges = _top(
        raw.withColumn("cosine", round_dbl(F.col("raw_cosine"), 6)),
        "src_id", "cosine", "dst_id", BITEXT_K, "rk",
    ).select("src_id", "src_group", "dst_id", "cosine")
    norms = edges.groupBy(F.col("src_id").alias("n_id")).agg(
        F.avg("cosine").alias("n_avg")
    )
    fwd = (
        edges.filter(F.col("src_group") == 0)
        .join(
            F.broadcast(norms.select(F.col("n_id"), F.col("n_avg").alias("nx"))),
            F.col("src_id") == F.col("n_id"),
        )
        .drop("n_id")
        .join(
            F.broadcast(norms.select(F.col("n_id"), F.col("n_avg").alias("ny"))),
            F.col("dst_id") == F.col("n_id"),
        )
        .drop("n_id")
        .withColumn(
            "margin",
            round_dbl(
                F.col("cosine") / ((F.col("nx") + F.col("ny")) / F.lit(2.0)), 6
            ),
        )
    )
    return (
        _rank(fwd, "src_id", "margin", "dst_id", "mrk")
        .filter(F.col("mrk") == 1)
        .select(
            "src_id",
            "dst_id",
            "cosine",
            "margin",
            (F.col("margin") >= BITEXT_ALIGNED_MARGIN).alias("is_aligned"),
        )
    )


SIM_BITEXT_ORACLE = f"""{_KMEANS_CELLS_WITH},
p2c AS (
    SELECT src_id, sv, src_group, cl AS probe_cell FROM (
        SELECT s.vec_id AS src_id, s.v AS sv,
            CAST(s.label % 2 AS INT) AS src_group, c.cl,
            ROW_NUMBER() OVER (
                PARTITION BY s.vec_id
                ORDER BY {_CCOS_S} DESC, c.cl ASC
            ) AS crank
        FROM (SELECT vec_id, v, label FROM e) s
        CROSS JOIN cent c
    ) WHERE crank <= {BITEXT_PROBE}
),
cg AS (
    SELECT cells.vec_id, cells.v, cells.cl,
        CAST(e.label % 2 AS INT) AS grp
    FROM cells JOIN e ON e.vec_id = cells.vec_id
),
edges AS (
    SELECT src_id, src_group, dst_id, cosine FROM (
        SELECT p.src_id, p.src_group, n.vec_id AS dst_id,
            {_COS_SV} AS cosine,
            ROW_NUMBER() OVER (
                PARTITION BY p.src_id
                ORDER BY {_COS_SV} DESC, n.vec_id ASC
            ) AS rk
        FROM p2c p
        JOIN cg n ON n.cl = p.probe_cell AND n.vec_id <> p.src_id
                 AND n.grp <> p.src_group
    ) WHERE rk <= {BITEXT_K}
),
norms AS (SELECT src_id AS n_id, AVG(cosine) AS n_avg FROM edges GROUP BY 1),
fwd AS (
    SELECT edges.src_id, edges.dst_id, edges.cosine,
        CAST(ROUND(CAST(edges.cosine / ((nx.n_avg + ny.n_avg) / 2.0)
             AS DECIMAL(38,10)), 6) AS DOUBLE) AS margin
    FROM edges
    JOIN norms nx ON nx.n_id = edges.src_id
    JOIN norms ny ON ny.n_id = edges.dst_id
    WHERE edges.src_group = 0
)
SELECT src_id, dst_id, cosine, margin,
       margin >= {BITEXT_ALIGNED_MARGIN} AS is_aligned
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY src_id ORDER BY margin DESC, dst_id ASC
    ) AS mrk
    FROM fwd
) WHERE mrk = 1"""


RANGE_TAU = 0.30  # cosine radius: every neighbor at least this similar


def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (radius) similarity search: every neighbor with grid-rounded
    cosine >= ``RANGE_TAU`` inside the probed IVF cells — the dual of the
    top-k queries (k fixed, radius free) that dedup/recall tooling needs
    when the answer size is data-dependent (FAISS ``range_search``).

    Shares the session codebook memo and the multi-probe pruning with
    :func:`sim_ivf_topk` — the search never touches vectors outside the
    ``N_PROBE`` probed cells, so candidate volume scales with cell size,
    not corpus size (the 100-TB shape). Per-query match counts ride along
    from a query-partitioned window over the (already radius-filtered)
    match set — output-bounded, no single-partition stage."""
    cent_rows, cells, nlist = _kmeans_cells_for(spark, sf_dir)
    scored = _ivf_candidates(
        spark, sf_dir, cent_rows, cells, _nprobe_for(nlist)
    ).withColumn("cosine", _cos("qv", "v"))
    matches = scored.filter(F.col("cosine") >= RANGE_TAU)
    return matches.select(
        "query_id",
        "neighbor_id",
        "cosine",
        F.count(F.lit(1))
        .over(Window.partitionBy("query_id"))
        .alias("n_range_matches"),
    )


SIM_RANGE_ORACLE = f"""{_KMEANS_CELLS_WITH},
q2c AS (
    SELECT query_id, qv, cl AS probe_cell FROM (
        SELECT q.vec_id AS query_id, q.v AS qv, c.cl,
            ROW_NUMBER() OVER (
                PARTITION BY q.vec_id
                ORDER BY {_CCOS_Q} DESC, c.cl ASC
            ) AS crank
        FROM (SELECT vec_id, v FROM e WHERE vec_id < {N_QUERIES}) q
        CROSS JOIN cent c
    ) WHERE crank <= (SELECT nprobe FROM params)
),
scored AS (
    SELECT q.query_id, n.vec_id AS neighbor_id,
        {_COS} AS cosine
    FROM (SELECT query_id, qv, probe_cell FROM q2c) q
    JOIN cells n ON n.cl = q.probe_cell AND n.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine,
    CAST(COUNT(*) OVER (PARTITION BY query_id) AS BIGINT) AS n_range_matches
FROM scored WHERE cosine >= {RANGE_TAU}"""


def register_all(register) -> None:
    register("sim_topk_bruteforce", sim_topk_bruteforce, SIM_TOPK_ORACLE)
    register("sim_ivf_topk", sim_ivf_topk, SIM_IVF_ORACLE)
    register("sim_range_search", sim_range_search, SIM_RANGE_ORACLE)
    register("sim_knn_graph", sim_knn_graph, SIM_KNN_GRAPH_ORACLE)
    register("sim_bitext_mining", sim_bitext_mining, SIM_BITEXT_ORACLE)
    register("sim_ivf_topk_indexed", sim_ivf_topk_indexed, SIM_IVF_ORACLE)
    register("sim_ivf_append_search", sim_ivf_append_search, SIM_IVF_APPEND_ORACLE)
    # profile-guided serving face: the oracle replays the calibration
    # POLICY (held-out recall measurement -> width selection), so the
    # self-selection is hash-checked cross-engine, not just the search
    register(
        "sim_ivf_search_calibrated",
        sim_ivf_search_calibrated,
        _calibrated_append_oracle(),
    )
    register("sim_hard_negatives", sim_hard_negatives, SIM_HARD_NEG_ORACLE)
    register("sim_hyperplane_lsh", sim_hyperplane_lsh, SIM_LSH_ORACLE)
    # same result contract as the JVM baseline -> same oracle
    register("sim_topk_vectorized", sim_topk_vectorized, SIM_TOPK_ORACLE)
    register("sim_topk_quantized", sim_topk_quantized, SIM_TOPK_QUANTIZED_ORACLE)
    register("sim_ivf_topk_quantized", sim_ivf_topk_quantized, SIM_IVF_QUANTIZED_ORACLE)
    register("dedup_semantic", dedup_semantic, DEDUP_SEMANTIC_ORACLE)
    register("embedding_quantize", embedding_quantize, EMBEDDING_QUANTIZE_ORACLE)

"""Product quantization (IVF-PQ) — the memory-bound ANN serving path.

Completes the FAISS index family the similarity module builds up
(``IVF,Flat`` = sim_ivf_topk, ``IVF,SQ8`` = sim_ivf_topk_quantized):
PQ stores each vector as ``M`` sub-byte codes instead of 64 floats
(here 8 five-bit codes vs 512 bytes — ~13x, and the LUT-sum search
never reconstructs a vector), and search scores candidates WITHOUT
reconstructing them: a query precomputes one inner-product lookup
table per subspace (``KSUB`` entries each) and a candidate's score is
the sum of ``M`` table lookups — the asymmetric distance computation
(ADC) of Jégou et al. 2011. At 100 TB this is the difference between
an index that fits in executor memory and one that does not.

Layout choices, all made for exact cross-engine replayability:

- **Cosine via normalized vectors + inner-product ADC**: vectors are
  L2-normalized once, so cosine(q, x) = <q', x'> and the inner product
  decomposes over subspaces (cosine itself does not). The coarse IVF
  stage reuses the session codebook (raw-vector cosine cells — scale
  dial and all); PQ encodes the normalized vector directly
  (``by_residual=false`` in FAISS terms — residual encoding would gain
  accuracy but puts a subtraction between the two engines for no
  verification value).
- **Deterministic subspace k-means**: per subspace, init
  ``code0 = vec_id % KSUB``, ``PQ_ITERS`` Lloyd iterations, centroid
  components grid-rounded at 6 dp, assignment by grid-rounded L2^2
  with code-asc tiebreak — the coarse quantizer's portability recipe
  applied per subspace.
- **Integer-exact ADC**: each LUT entry is rounded to the 6-dp grid and
  scaled to an exact BIGINT (x 1e6); a candidate's score is an integer
  SUM — associative, order-free, bit-identical across engines (a float
  sum of 8 rounded doubles would still carry order-dependent last-ulp
  error). The surfaced score divides back through the decimal grid.
- **Two-stage serving**: ADC keeps ``QUANT_CAND_K`` candidates per
  query from the probed cells only; stage 2 re-ranks the survivors
  against exact full-precision cosines — the plain IVF/SQ8 discipline.

Reference: the reference has no ANN surface (its refined layer is
relational, src/refined/refined_customer_orders.py); this module is
part of the LLM-training-data extension brief.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from .. import memo
from ..pinning import pin, unpin

from ..operators import round_dbl
from .similarity import (
    _CCOS_Q,
    _COS,
    _KMEANS_CELLS_APPEND_WITH,
    _KMEANS_CELLS_WITH,
    ARRIVAL_MOD,
    N_QUERIES,
    TOP_K,
    _dot,
    _emb,
    _grid_mean,
    _ivf_append_index,
    _kmeans_cells_for,
    _norm,
    _nprobe_for,
    _probe_cells,
    _probe_join,
    _read_cells,
    _rerank,
    _rm_ivf_store_root,
)

PQ_M = 8  # subspaces
PQ_DSUB = 8  # dims per subspace (PQ_M * PQ_DSUB = 64 = EMB_DIM)
PQ_KSUB = 32  # centroids per subspace (5-bit codes)
PQ_ITERS = 2  # Lloyd iterations after the deterministic init
# ADC candidate budget before the exact re-rank. PQ's 5-bit x 8-subspace
# scores are far noisier than SQ8's (the price of ~13x compression), so
# the re-rank buffer is correspondingly wider than QUANT_CAND_K=20 — the
# standard FAISS dial (k' >> k); 200 exact cosines per query are trivial
# next to the pruned code scan they replace. Swept on this corpus
# (recall vs exact at sf0.01/sf0.1): 0.48/0.20 at (16,20),
# 0.86/0.74 at (16,200), 0.86/0.84 at (32,200) — the shipped config;
# >=0.8 is test-locked.
PQ_CAND_K = 200
_LUT_SCALE = 1_000_000  # 6-dp grid -> exact integer ADC


def _unit(emb: DataFrame) -> DataFrame:
    """(vec_id, u) — L2-normalized vectors (zero vectors stay NULL-safe:
    the corpus has none, and a NULL u drops from every downstream join)."""
    nv = _norm("v")
    return emb.select(
        "vec_id",
        F.transform("v", lambda x: x / F.nullif(nv, F.lit(0.0))).alias("u"),
    )


def _subvectors(unit: DataFrame) -> DataFrame:
    """(vec_id, m, sv) — the M subvector slices of each normalized vector."""
    return unit.select(
        "vec_id",
        "u",
        F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"),
    ).select(
        "vec_id",
        "m",
        F.expr(f"slice(u, m * {PQ_DSUB} + 1, {PQ_DSUB})").alias("sv"),
    )


def _l2sq(a: str, cv) -> F.Column:
    return F.aggregate(
        F.zip_with(a, cv, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _scaled_ip(a: str, b: str) -> F.Column:
    """Inner product of two vector columns on the 6-dp grid, scaled to an
    exact BIGINT (x ``_LUT_SCALE``) — one ADC lookup-table entry."""
    ip = round_dbl(_dot(a, b), 6).cast("decimal(38,10)")
    return F.round(ip * F.lit(_LUT_SCALE), 0).cast("long")


def _assign_codes(sub: DataFrame, cb_rows: list[tuple[int, int, list[float]]]) -> DataFrame:
    """(vec_id, m, cl): nearest (grid-rounded L2^2, code-asc tiebreak)
    subspace centroid per subvector. The codebooks ride along as one
    broadcast aux row of parallel arrays per subspace — constant-size
    expression tree (the _assign_to discipline); KSUB is a small constant,
    so unlike the coarse quantizer this never needs the BLAS path."""
    by_m: dict[int, list[tuple[int, list[float]]]] = {}
    for m, cl, cv in cb_rows:
        by_m.setdefault(int(m), []).append((int(cl), [float(x) for x in cv]))
    cvs = [[cv for _cl, cv in sorted(by_m[m])] for m in range(PQ_M)]
    cls = [[cl for cl, _cv in sorted(by_m[m])] for m in range(PQ_M)]
    aux = sub.sparkSession.createDataFrame(
        [(cls, cvs)],
        "clss array<array<int>>, cvss array<array<array<double>>>",
    )
    scored = F.transform(
        F.expr("element_at(cvss, m + 1)"),
        lambda cv, i: F.struct(
            round_dbl(_l2sq("sv", cv), 6).alias("d"),
            F.element_at(F.expr("element_at(clss, m + 1)"), i + 1).alias("cl"),
        ),
    )
    best = F.array_min(scored)
    return sub.crossJoin(F.broadcast(aux)).select(
        "vec_id", "m", best["cl"].cast("int").alias("cl")
    )


def _centroids(assigned_sub: DataFrame) -> list[tuple[int, int, list[float]]]:
    """(m, cl, cv) rows — per-(subspace, code) mean subvector, components
    grid-rounded; PQ_M x PQ_KSUB rows, never data-sized."""
    rows = _grid_mean(assigned_sub, ["m", "cl"], "sv", "cv").collect()
    return [(int(r.m), int(r.cl), list(r.cv)) for r in rows]


def _train_pq(sub: DataFrame) -> tuple[list, DataFrame]:
    """Train the subspace codebooks on ``sub`` (persisted for the
    duration — each Lloyd pass ends in a KSUB*M-row collect) and encode
    it; the codes frame is localCheckpointed eagerly so ``sub``'s cache
    can be released before returning (no leaked persisted copies)."""
    sub = sub.persist()
    try:
        assigned = sub.withColumn(
            "cl", (F.col("vec_id") % PQ_KSUB).cast("int")
        )
        for _ in range(PQ_ITERS):
            cb = _centroids(assigned)
            assigned = _assign_codes(sub, cb).join(
                sub, ["vec_id", "m"]
            ).select("vec_id", "m", "cl", "sv")
        cb = _centroids(assigned)
        codes = _assign_codes(sub, cb).transform(pin)
    finally:
        try:
            sub.unpersist()
        except Exception:  # noqa: BLE001 — context may already be gone
            pass
    return cb, codes


def _pq_index_for(spark: SparkSession, sf_dir: str):
    """Train the PQ codebooks (deterministic per-subspace k-means) and
    encode the corpus; memoized per (session, sf_dir) like the coarse
    codebook. Returns (cb_rows, codes) — codes = (vec_id, m, cl)."""

    def build():
        return _train_pq(_subvectors(_unit(_emb(spark, sf_dir))))

    return memo.once(spark, ("pq_index", sf_dir), build, lambda got: unpin(got[1]))


def sim_ivf_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-5: coarse probe (session IVF codebook, sqrt(N) dial) ->
    integer-exact ADC over the probed cells' byte codes ->
    full-precision re-rank of the QUANT_CAND_K survivors."""
    emb = _emb(spark, sf_dir)
    cent_rows, cells, nlist = _kmeans_cells_for(spark, sf_dir)
    cb_rows, codes = _pq_index_for(spark, sf_dir)
    return _pq_search(
        spark, emb, cent_rows, _nprobe_for(nlist), cb_rows, codes, cells
    )


def _pq_search(
    spark: SparkSession,
    emb: DataFrame,
    cent_rows: list[tuple[int, list[float]]],
    nprobe: int,
    cb_rows: list[tuple[int, int, list[float]]],
    codes: DataFrame,
    cells: DataFrame,
    anchor_rows: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """The ADC search shared by the session index and the append index:
    probe -> integer LUT-sum over the probed cells' codes -> exact
    re-rank. ``cells`` is the (vec_id, cl) coarse assignment; ``codes``
    the (vec_id, m, cl) PQ code table; ``cb_rows`` its codebooks.

    When ``anchor_rows`` is given (residual mode), the codes encode the
    residual u - anchor[cell] instead of u, and a candidate's ADC score
    adds the exact per-(query, cell) anchor inner product:
    <q, u> = <q, anchor_cl> + <q, r> — both terms on the same integer
    grid, so the sum stays order-free and engine-exact."""
    q2c = _probe_cells(spark, emb, cent_rows, nprobe)

    # query-side LUT: one exact-integer inner product per (query,
    # subspace, code) — N_QUERIES x PQ_M x PQ_KSUB rows, broadcastable
    qsub = _subvectors(
        _unit(emb.filter(F.col("vec_id") < N_QUERIES))
    ).withColumnRenamed("vec_id", "query_id")
    cb_df = spark.createDataFrame(
        [(m, cl, cv) for m, cl, cv in cb_rows],
        "m int, cl int, cv array<double>",
    )
    lut = qsub.join(F.broadcast(cb_df), "m").select(
        F.col("query_id").alias("l_query_id"),
        F.col("m").alias("l_m"),
        F.col("cl").alias("l_code"),
        _scaled_ip("sv", "cv").alias("ip_scaled"),
    )

    # ADC over the probed cells only: codes of a probed cell's members
    # join the query's LUT; score = exact integer sum over subspaces
    probed_members = _probe_join(
        q2c, cells.select(F.col("vec_id").alias("neighbor_id"), "cl")
    ).select("query_id", "qv", "neighbor_id", F.col("cl").alias("member_cl"))
    cand_scores = (
        probed_members.join(
            codes.select(
                F.col("vec_id").alias("neighbor_id"),
                "m",
                F.col("cl").alias("code"),
            ),
            "neighbor_id",
        )
        .join(
            F.broadcast(lut),
            (F.col("l_query_id") == F.col("query_id"))
            & (F.col("l_m") == F.col("m"))
            & (F.col("l_code") == F.col("code")),
        )
        .groupBy("query_id", "qv", "neighbor_id", "member_cl")
        .agg(F.sum("ip_scaled").alias("score_scaled"))
    )
    if anchor_rows is not None:
        # residual mode: add the exact anchor term <q, anchor_cl> — one
        # integer per (query, cell); N_QUERIES x nlist rows, broadcastable
        anchor_df = spark.createDataFrame(
            anchor_rows, "cl int, av array<double>"
        )
        qunit = _unit(emb.filter(F.col("vec_id") < N_QUERIES)).select(
            F.col("vec_id").alias("a_query_id"), "u"
        )
        alut = qunit.crossJoin(F.broadcast(anchor_df)).select(
            "a_query_id",
            F.col("cl").alias("a_cl"),
            _scaled_ip("u", "av").alias("base_scaled"),
        )
        cand_scores = (
            cand_scores.join(
                F.broadcast(alut),
                (F.col("a_query_id") == F.col("query_id"))
                & (F.col("a_cl") == F.col("member_cl")),
            )
            .withColumn(
                "score_scaled", F.col("score_scaled") + F.col("base_scaled")
            )
            .select("query_id", "qv", "neighbor_id", "score_scaled")
        )
    return _rerank(cand_scores, "score_scaled", PQ_CAND_K, emb)


# ---------------------------------------------------------------------------
# Residual encoding (by_residual=true): the accuracy face at the same bits
# ---------------------------------------------------------------------------

def _residual_index_for(
    spark: SparkSession, sf_dir: str
) -> tuple[list, list, DataFrame]:
    """Train the RESIDUAL PQ index: per coarse cell, anchor = grid-rounded
    mean of the cell's normalized vectors (nlist rows, never data-sized);
    each vector encodes r = u - anchor[cell]. Residuals concentrate near
    zero (the coarse quantizer already explains the between-cell
    variance), so the same KSUB codes quantize a much smaller ball —
    FAISS ``by_residual=true``, the accuracy face at the same 5 bits x 8
    subspaces. Returns (anchor_rows, cb_rows, codes)."""

    def build() -> tuple[list, list, DataFrame]:
        emb = _emb(spark, sf_dir)
        _cent, cells, _nlist = _kmeans_cells_for(spark, sf_dir)
        unit = _unit(emb)
        cell_map = cells.select("vec_id", F.col("cl").cast("int").alias("cl"))
        anchors = _grid_mean(
            unit.join(cell_map, "vec_id"), ["cl"], "u", "av"
        ).collect()
        anchor_rows = [(int(r.cl), list(r.av)) for r in anchors]
        adf = spark.createDataFrame(anchor_rows, "cl int, av array<double>")
        res = (
            unit.join(cell_map, "vec_id")
            .join(F.broadcast(adf), "cl")
            .select(
                "vec_id", F.zip_with("u", "av", lambda x, y: x - y).alias("u")
            )
        )
        cb, codes = _train_pq(_subvectors(res))
        return anchor_rows, cb, codes

    return memo.once(
        spark, ("pq_residual_index", sf_dir), build, lambda got: unpin(got[2])
    )


def sim_ivf_topk_pq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-5 with residual encoding: coarse probe -> integer-exact
    ADC where score = <q, anchor_cell> + LUT-sum over the residual codes
    -> full-precision re-rank. Same (KSUB, CAND_K) budget as
    :func:`sim_ivf_topk_pq`; the residual codebooks buy the extra recall."""
    emb = _emb(spark, sf_dir)
    cent_rows, cells, nlist = _kmeans_cells_for(spark, sf_dir)
    anchor_rows, cb_rows, codes = _residual_index_for(spark, sf_dir)
    return _pq_search(
        spark,
        emb,
        cent_rows,
        _nprobe_for(nlist),
        cb_rows,
        codes,
        cells,
        anchor_rows=anchor_rows,
    )


# ---------------------------------------------------------------------------
# Incremental PQ maintenance: encode arrivals against FROZEN codebooks
# ---------------------------------------------------------------------------

def _pq_append_index_for(spark: SparkSession, sf_dir: str) -> tuple[list, DataFrame]:
    """Train the PQ codebooks on the 90% base corpus, encode it, then
    INGEST the late-arriving 10% by encoding them against the FROZEN
    subspace codebooks and appending their code rows into the existing
    store — the PQ face of the no-retrain ingest contract
    (:func:`..similarity._ivf_append_index` is the coarse face). Ingest
    cost is one assignment pass over the batch's M subvectors —
    O(batch x KSUB x M), corpus never re-encoded — plus the append write
    (a code row is 3 ints; the appended files are posting-list sized)."""

    def build() -> tuple[list, str]:
        emb = _emb(spark, sf_dir)
        base_sub = _subvectors(
            _unit(emb.filter(F.col("vec_id") % ARRIVAL_MOD != 0))
        )
        cb, base_codes = _train_pq(base_sub)
        path = os.path.join(tempfile.mkdtemp(prefix="pq_app_"), "codes")
        base_codes.write.parquet(path)
        arr_sub = _subvectors(
            _unit(emb.filter(F.col("vec_id") % ARRIVAL_MOD == 0))
        )
        _assign_codes(arr_sub, cb).write.mode("append").parquet(path)
        return cb, path

    cb, path = memo.once(spark, ("pq_append_index", sf_dir), build, _rm_ivf_store_root)
    return cb, spark.read.parquet(path)


def sim_ivf_pq_append_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search the post-ingest IVF-PQ index: frozen base-trained coarse
    codebook + appended cell store (the flat append index), frozen
    base-trained PQ codebooks + appended code store — identical ADC /
    re-rank machinery as :func:`sim_ivf_topk_pq`. The oracle replays
    train-on-base / encode-everything declaratively, so the no-retrain
    ingest contract is value-hash-checked cross-engine."""
    emb = _emb(spark, sf_dir)
    cent_rows, path, nlist = _ivf_append_index(spark, sf_dir)
    cells = _read_cells(spark, path, "vec_id")
    cb_rows, codes = _pq_append_index_for(spark, sf_dir)
    return _pq_search(
        spark, emb, cent_rows, _nprobe_for(nlist), cb_rows, codes, cells
    )


def _pq_oracle(append: bool = False, residual: bool = False) -> str:
    r6 = "CAST(ROUND(CAST({x} AS DECIMAL(38,10)), 6) AS DOUBLE)"
    l2 = r6.format(
        x=(
            f"list_sum(list_transform(generate_series(1, {PQ_DSUB}),"
            " i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i])))"
        )
    )
    ip6 = r6.format(
        x=(
            f"list_sum(list_transform(generate_series(1, {PQ_DSUB}),"
            " i -> q.sv[i] * c.cv[i]))"
        )
    )

    def cents(src: str, name: str) -> str:
        return f"""{name} AS (
    SELECT m, cl, list(c ORDER BY pos) AS cv FROM (
        SELECT m, cl, pos, {r6.format(x="AVG(val)")} AS c
        FROM (SELECT m, cl, unnest(sv) AS val,
                     generate_subscripts(sv, 1) AS pos FROM {src})
        GROUP BY m, cl, pos
    ) GROUP BY m, cl
)"""

    def assign(cb: str, name: str, src: str = "sv") -> str:
        return f"""{name} AS (
    SELECT vec_id, m, cl, sv FROM (
        SELECT s.vec_id, s.m, c.cl, s.sv,
            ROW_NUMBER() OVER (
                PARTITION BY s.vec_id, s.m ORDER BY {l2} ASC, c.cl ASC
            ) AS rn
        FROM {src} s JOIN {cb} c ON c.m = s.m
    ) WHERE rn = 1
)"""

    # append mode: the coarse prologue trains on the base subset `e` and
    # assigns everything (`eall`); the PQ training chain reads the base
    # subvectors (`svb`) only, while the final encode covers all of `sv` —
    # train-on-base / encode-everything, the no-retrain ingest contract.
    prologue = _KMEANS_CELLS_APPEND_WITH if append else _KMEANS_CELLS_WITH
    allsrc = "eall" if append else "e"
    trainsrc = "svb" if append else "sv"
    svb = (
        f"svb AS (SELECT * FROM sv WHERE vec_id % {ARRIVAL_MOD} <> 0),\n"
        if append
        else ""
    )

    # residual mode: data-side subvectors slice r = u - anchor[cell]
    # (anchor = grid-rounded per-cell mean of the normalized vectors);
    # the training/encode chain reads `rsv`, the query LUT stays on the
    # plain unit subvectors `sv`, and the candidate score adds the exact
    # per-(query, cell) anchor inner product `alut` — mirroring
    # sim_ivf_topk_pq_residual term for term on the same integer grid.
    if residual:
        trainsrc = "rsv"
        res_ctes = f"""anch AS (
    SELECT cl, list(c ORDER BY pos) AS av FROM (
        SELECT k.cl, x.pos,
            {r6.format(x="AVG(x.val)")} AS c
        FROM (SELECT vec_id, unnest(u) AS val,
                     generate_subscripts(u, 1) AS pos FROM un) x
        JOIN cells k ON k.vec_id = x.vec_id
        GROUP BY k.cl, x.pos
    ) GROUP BY cl
),
ru AS (
    SELECT u.vec_id,
        list_transform(generate_series(1, len(u.u)),
                       i -> u.u[i] - a.av[i]) AS u
    FROM un u JOIN cells k ON k.vec_id = u.vec_id JOIN anch a ON a.cl = k.cl
),
rsv AS (
    SELECT vec_id, m,
        list_transform(generate_series(1, {PQ_DSUB}),
                       i -> u[m * {PQ_DSUB} + i]) AS sv
    FROM ru, UNNEST(generate_series(0, {PQ_M - 1})) AS t(m)
),
"""
    else:
        res_ctes = ""

    ipa6 = r6.format(
        x=(
            "list_sum(list_transform(generate_series(1, len(q.u)),"
            " i -> q.u[i] * a.av[i]))"
        )
    )
    alut = (
        f"""alut AS (
    SELECT q.vec_id AS query_id, a.cl,
        CAST(ROUND(CAST({ipa6} AS DECIMAL(38,10)) * {_LUT_SCALE}, 0)
             AS BIGINT) AS base_scaled
    FROM (SELECT vec_id, u FROM un WHERE vec_id < {N_QUERIES}) q
    CROSS JOIN anch a
),"""
        if residual
        else ""
    )
    score_expr = (
        "SUM(l.ip_scaled) + ANY_VALUE(al.base_scaled)"
        if residual
        else "SUM(l.ip_scaled)"
    )
    alut_join = (
        "\n            JOIN alut al ON al.query_id = p.query_id"
        "\n                        AND al.cl = n.cl"
        if residual
        else ""
    )

    return f"""{prologue},
un AS (
    SELECT vec_id, list_transform(
        v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS u
    FROM {allsrc}
),
sv AS (
    SELECT vec_id, m,
        list_transform(generate_series(1, {PQ_DSUB}),
                       i -> u[m * {PQ_DSUB} + i]) AS sv
    FROM un, UNNEST(generate_series(0, {PQ_M - 1})) AS t(m)
),
{svb}{res_ctes}p0 AS (SELECT vec_id, m, CAST(vec_id % {PQ_KSUB} AS INT) AS cl, sv
      FROM {trainsrc}),
{cents("p0", "pc1")},
{assign("pc1", "p1", trainsrc)},
{cents("p1", "pc2")},
{assign("pc2", "p2", trainsrc)},
{cents("p2", "pcf")},
{assign("pcf", "codes", "rsv" if residual else "sv")},
lut AS (
    SELECT q.vec_id AS query_id, c.m, c.cl,
        CAST(ROUND(CAST({ip6} AS DECIMAL(38,10)) * {_LUT_SCALE}, 0)
             AS BIGINT) AS ip_scaled
    FROM (SELECT vec_id, m, sv FROM sv WHERE vec_id < {N_QUERIES}) q
    JOIN pcf c ON c.m = q.m
),
{alut}
q2c AS (
    SELECT query_id, qv, cl AS probe_cell FROM (
        SELECT q.vec_id AS query_id, q.v AS qv, c.cl,
            ROW_NUMBER() OVER (
                PARTITION BY q.vec_id
                ORDER BY {_CCOS_Q} DESC, c.cl ASC
            ) AS crank
        FROM (SELECT vec_id, v FROM {allsrc} WHERE vec_id < {N_QUERIES}) q
        CROSS JOIN cent c
    ) WHERE crank <= (SELECT nprobe FROM params)
),
cand AS (
    SELECT query_id, qv, neighbor_id FROM (
        SELECT a.query_id, a.qv, a.neighbor_id,
            ROW_NUMBER() OVER (
                PARTITION BY a.query_id
                ORDER BY a.score DESC, a.neighbor_id ASC
            ) AS crank
        FROM (
            SELECT p.query_id, ANY_VALUE(p.qv) AS qv,
                   n.vec_id AS neighbor_id, {score_expr} AS score
            FROM q2c p
            JOIN cells n ON n.cl = p.probe_cell AND n.vec_id <> p.query_id
            JOIN codes k ON k.vec_id = n.vec_id
            JOIN lut l ON l.query_id = p.query_id
                      AND l.m = k.m AND l.cl = k.cl{alut_join}
            GROUP BY p.query_id, n.vec_id
        ) a
    ) WHERE crank <= {PQ_CAND_K}
)
SELECT query_id, neighbor_id, cosine, rank FROM (
    SELECT c.query_id, c.neighbor_id, {_COS} AS cosine,
        CAST(ROW_NUMBER() OVER (
            PARTITION BY c.query_id ORDER BY {_COS} DESC, c.neighbor_id ASC
        ) AS INT) AS rank
    FROM cand c JOIN {allsrc} n ON c.neighbor_id = n.vec_id
) WHERE rank <= {TOP_K}"""


def register_all(register) -> None:
    register("sim_ivf_topk_pq", sim_ivf_topk_pq, _pq_oracle())
    register(
        "sim_ivf_pq_append_search",
        sim_ivf_pq_append_search,
        _pq_oracle(append=True),
    )
    register(
        "sim_ivf_topk_pq_residual",
        sim_ivf_topk_pq_residual,
        _pq_oracle(residual=True),
    )

"""Document deduplication operators over ``documents`` / ``embeddings``.

The five standard near-dup families of an LLM data pipeline, each a pure
DataFrame program with a DuckDB oracle:

- ``dedup_exact``           : md5-keyed exact dedup (hash-groupBy).
- ``dedup_ngram_jaccard``   : 3-token-shingle inverted index -> candidate
  pairs by shared shingle -> exact Jaccard filter.
- ``dedup_minhash_lsh``     : 16 seeded min-hashes, 4 bands x 4 rows,
  banded candidate generation -> exact Jaccard verify (the classic
  MinHash+LSH pipeline; banding keeps the pair join linear-ish in docs
  rather than quadratic).
- ``dedup_simhash``         : 60-bit SimHash per doc + Hamming-band
  candidate pairs (<= distance threshold).
- ``dedup_embedding_cosine``: cosine near-duplicate pairs over the
  embedding table (brute-force; the LSH/IVF scale paths live in
  similarity.py).

Scale notes: shingle material is built on the whole-stage-codegen path
(posexplode + window lead — see ``_exploded_shingles``) and each signature
(MinHash, SimHash) is one wide codegen'd aggregate over it; the candidate
generator in each operator is a small (band, signature) equi-join, and
verification joins candidate pairs back to per-doc shingle arrays
(array_intersect) rather than re-joining an exploded inverted index. Only the exact
n-gram-Jaccard operator keeps the exploded inverted index — candidate
enumeration by shared shingle is its definition. Frequency capping of hot
shingles (drop shingles shared by > MAX_SHINGLE_DF docs) bounds worst-case
candidate blowup, the standard trick for head-heavy shingle distributions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from ..pinning import pin

from ..memo import shared_frame
from ..operators import round_dbl
from ..tables import load_table
from .texthash import (
    TOKENIZE_SQL,
    hash60,
    hash60_sql,
    seeded_hash60,
    seeded_hash60_sql,
    tokenize,
)
from .tokmemo import doc_tokens

JACCARD_THRESHOLD = 0.8
MINHASH_SEEDS = 16
LSH_BANDS = 4  # 4 bands x 4 rows
SIMHASH_BITS = 60
SIMHASH_BANDS = 4  # 15 bits per band
HAMMING_MAX = 3
COSINE_DUP_THRESHOLD = 0.95
# Hot-shingle document-frequency cap: shingles appearing in more than this
# many docs are dropped from CANDIDATE GENERATION (not from verification,
# which stays exact over the full shingle arrays). Bounds the inverted
# index's worst-case candidate blowup on head-heavy corpora — a shingle in
# d docs yields d(d-1)/2 candidate pairs. 5 binds on the test corpora
# (sf0.01 max df = 7), exercising the guard for real; production uses a
# corpus fraction (e.g. 1e-4 of doc count).
MAX_SHINGLE_DF = 5

# Hard ceiling on the corpus size the two quadratic verification baselines
# (dedup_embedding_cosine / dedup_embedding_cosine_knn) will accept. Above
# this, their O(N^2) scoring — and the driver-side materialization of the
# full matrix — is the wrong tool by design; the guard raises with a
# pointer to the bounded-work scale paths instead of OOM-ing the driver.
BASELINE_MAX_ROWS = 50_000


def _broadcast_embedding_matrix(spark: SparkSession, emb: DataFrame):
    """Materialize the (sorted-by-vec_id) embedding matrix once and ship it
    via ``SparkContext.broadcast`` — one torrent transfer per EXECUTOR,
    instead of re-serializing a task-closure-captured matrix with every
    task batch (the r4 VERDICT scale defect). The driver-side collect that
    builds the broadcast value is bounded by :data:`BASELINE_MAX_ROWS`;
    beyond that the quadratic baselines refuse to run.

    Returns ``(broadcast, n_rows)`` where ``broadcast.value`` is a dict of
    ``mat`` (N x d float64), ``ids`` (N int64, ascending), ``norm`` (N)."""
    import numpy as np

    n = emb.count()
    if n > BASELINE_MAX_ROWS:
        raise ValueError(
            f"{n} embeddings exceed the quadratic-baseline ceiling "
            f"({BASELINE_MAX_ROWS}). "
            "These queries are O(N^2) verification baselines; at this scale "
            "use the bounded-work paths instead: sim_ivf_topk / "
            "sim_ivf_topk_indexed (IVF ANN), sim_hyperplane_lsh (sign-LSH "
            "banding), or dedup_semantic (SemDeDup k-means cells)."
        )
    rows = sorted(emb.collect(), key=lambda r: r.vec_id)
    mat = np.array([r.v for r in rows], dtype=np.float64)
    return (
        spark.sparkContext.broadcast(
            {
                "mat": mat,
                "ids": np.array([r.vec_id for r in rows]),
                "norm": np.linalg.norm(mat, axis=1),
            }
        ),
        n,
    )


def _exploded_shingles(docs: DataFrame) -> DataFrame:
    """doc_id, shingle — the distinct 3-token shingles of each document, in
    exploded (inverted-index) form.

    Built on the whole-stage-codegen path: posexplode tokens, window
    ``lead`` to pair each token with its two successors, ``concat_ws``.
    A per-doc higher-order ``transform`` over the token array expresses
    the same thing with no shuffle, but Spark evaluates HOF lambdas
    interpreted per element — measured 4.5x slower than this
    explode+window form at sf0.1 even though the window sorts within
    doc_id. Docs with < 3 tokens fall back to one whole-text shingle
    (the pos==0 row; concat_ws skips the NULL leads)."""
    tok = docs.select(
        "doc_id", F.posexplode(tokenize(F.col("text"))).alias("pos", "token")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        tok.withColumn("t1", F.lead("token", 1).over(w))
        .withColumn("t2", F.lead("token", 2).over(w))
        .withColumn(
            "shingle",
            F.when(
                F.col("t2").isNotNull(), F.concat_ws(" ", "token", "t1", "t2")
            ).when(
                (F.col("pos") == 0) & F.col("t2").isNull(),
                F.concat_ws(" ", "token", "t1"),
            ),
        )
        .filter(F.col("shingle").isNotNull())
        .select("doc_id", "shingle")
        .dropDuplicates(["doc_id", "shingle"])
    )


def doc_shingles_ex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized exploded distinct-shingle index of the RAW corpus
    (the tokmemo.py discipline): the shingle derivation — posexplode +
    lead window + dedup — is the most expensive shared stage of the
    n-gram dedup/decontamination family, and every raw-corpus consumer
    (ngram Jaccard, capped Jaccard, MinHash LSH, containment,
    decontamination) previously rebuilt it per query. Augmented/planted
    corpora (boilerplate) and caller-supplied frames keep deriving their
    own — this key is strictly the untouched ``documents`` table."""
    return shared_frame(
        spark,
        ("llm_shingles", sf_dir),
        lambda: _exploded_shingles(load_table(spark, sf_dir, "documents")),
    )


def _doc_shingles(
    docs: DataFrame | None = None, shingles_ex: DataFrame | None = None
) -> DataFrame:
    """doc_id -> distinct 3-token shingle array (one row per doc), for the
    per-doc verification ops (``array_intersect``). Array element order is
    unspecified (collect_list after a shuffle) — every consumer treats the
    array as a set. Give EITHER ``docs`` (derives the exploded shingles)
    or ``shingles_ex`` (a precomputed/checkpointed exploded frame)."""
    if shingles_ex is None:
        shingles_ex = _exploded_shingles(docs)
    return shingles_ex.groupBy("doc_id").agg(
        F.collect_list("shingle").alias("shingles")
    )


def _shingles(
    docs: DataFrame | None = None, shingles_ex: DataFrame | None = None
) -> DataFrame:
    """Exploded inverted-index form: doc_id, shingle, per-doc shingle count
    (a window count over the same doc_id partitioning). Source selection
    as in :func:`_doc_shingles`."""
    if shingles_ex is None:
        shingles_ex = _exploded_shingles(docs)
    return shingles_ex.withColumn(
        "n_shingles", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )


_SHINGLES_CTE = f"""
    SELECT doc_id, unnest(shingles) AS shingle, len(shingles) AS n_shingles
    FROM (
        SELECT doc_id, list_distinct(
            CASE WHEN len(toks) >= 3
                 THEN list_transform(generate_series(1, len(toks) - 2),
                                     i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))
                 ELSE [array_to_string(toks, ' ')]
            END) AS shingles
        FROM (SELECT doc_id, {TOKENIZE_SQL.format(c="text")} AS toks FROM documents)
    )"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-content hash: one surviving doc per group
    (min doc_id), with the group's copy count."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5(F.trim(F.lower(F.col("text")))).alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.min("doc_id").alias("kept_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


DEDUP_EXACT_ORACLE = """
SELECT md5(trim(lower(text))) AS content_md5,
       MIN(doc_id) AS kept_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1"""


def _pair_counts(sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, size_a, size_b, n_common) for every document pair
    sharing >= 1 shingle — the inverted-index candidate stage shared by
    the Jaccard and containment passes (one fix applies to both). The
    repartition on the join key makes both self-join sides end in an
    identical exchange, so AQE's ReusedExchange computes the shingle
    index once instead of once per side (measured 2.6x)."""
    sh = sh.repartition("shingle")
    a = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingle"),
        F.col("n_shingles").alias("size_a"),
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingle"),
        F.col("n_shingles").alias("size_b"),
    )
    return (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def dedup_ngram_jaccard(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = JACCARD_THRESHOLD,
    shingles_ex: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by exact 3-gram Jaccard, candidates via the shingle
    inverted index (pairs must share >= 1 shingle — no O(n^2) join).

    The explicit repartition on the join key makes both self-join sides
    end in an identical exchange, so AQE's ReusedExchange computes the
    shingle index once instead of once per side (measured 2.6x).

    ``shingles_ex`` optionally supplies a precomputed (doc_id, shingle)
    exploded-shingle frame (e.g. a checkpointed stage shared with another
    consumer — see graph.dedup_canonical_selection); semantics are
    identical to deriving it here."""
    if shingles_ex is None:
        shingles_ex = doc_shingles_ex(spark, sf_dir)
    return _jaccard_from_counts(_shingles(shingles_ex=shingles_ex), threshold)


def _jaccard_from_counts(
    sh: DataFrame, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Exact-Jaccard pairs from an inverted-index frame that ALREADY
    carries the per-doc size column (doc_id, shingle, n_shingles) — e.g.
    the maintained shingle store read back from parquet, which skips the
    per-doc window count a fresh derivation would pay (incrdedup)."""
    pairs = _pair_counts(sh)
    jac = F.col("n_common") / (
        F.col("size_a") + F.col("size_b") - F.col("n_common")
    ).cast("double")
    return pairs.select(
        "doc_a", "doc_b", round_dbl(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def _jaccard_pairs_sql(threshold: float) -> str:
    return f"""
    SELECT doc_a, doc_b,
        CAST(ROUND(CAST(CAST(n_common AS DOUBLE) / CAST(size_a + size_b - n_common AS DOUBLE)
             AS DECIMAL(38,10)), 6) AS DOUBLE) AS jaccard
    FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.n_shingles AS size_a, b.n_shingles AS size_b,
               COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    )
    WHERE CAST(ROUND(CAST(CAST(n_common AS DOUBLE) / CAST(size_a + size_b - n_common AS DOUBLE)
          AS DECIMAL(38,10)), 6) AS DOUBLE) >= {threshold}"""


DEDUP_NGRAM_ORACLE = f"""
WITH sh AS ({_SHINGLES_CTE})
{_jaccard_pairs_sql(JACCARD_THRESHOLD)}"""


def dedup_ngram_jaccard_capped(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = JACCARD_THRESHOLD,
    max_df: int = MAX_SHINGLE_DF,
) -> DataFrame:
    """N-gram Jaccard dedup with the hot-shingle cap ACTIVE.

    Candidate pairs come from the inverted index with shingles of document
    frequency > ``max_df`` removed (the df count is a window over the same
    ``shingle`` partitioning the self-join shuffles on, so the exchange is
    computed once and reused); candidates are then verified with EXACT
    Jaccard over the full, uncapped shingle arrays via ``array_intersect``
    — the cap can only lose pairs whose every shared shingle is hot (a
    documented recall trade), never report a wrong score. This is the
    operator to run on a head-heavy corpus where the uncapped
    :func:`dedup_ngram_jaccard` candidate join would blow up
    quadratically on stop-phrases."""
    shingles_ex = doc_shingles_ex(spark, sf_dir)
    ds = _doc_shingles(shingles_ex=shingles_ex)
    sh = shingles_ex.repartition("shingle")
    capped = sh.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    ).filter(F.col("df") <= max_df)
    cand = (
        capped.alias("x")
        .join(capped.alias("y"), "shingle")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    a = ds.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa"))
    b = ds.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sb"))
    verified = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("sa", "sb")))
    )
    jac = F.col("n_common") / (
        F.size("sa") + F.size("sb") - F.col("n_common")
    ).cast("double")
    return verified.select(
        "doc_a", "doc_b", round_dbl(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


DEDUP_NGRAM_CAPPED_ORACLE = f"""
WITH sh AS ({_SHINGLES_CTE}),
capped AS (
    SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df
        FROM sh
    ) WHERE df <= {MAX_SHINGLE_DF}
),
cand AS (
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM capped x JOIN capped y
      ON x.shingle = y.shingle AND x.doc_id < y.doc_id
),
joined AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.n_shingles AS size_a, b.n_shingles AS size_b,
           COUNT(*) AS n_common
    FROM sh a
    JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
    GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b,
    CAST(ROUND(CAST(CAST(n_common AS DOUBLE) / CAST(size_a + size_b - n_common AS DOUBLE)
         AS DECIMAL(38,10)), 6) AS DOUBLE) AS jaccard
FROM joined
WHERE CAST(ROUND(CAST(CAST(n_common AS DOUBLE) / CAST(size_a + size_b - n_common AS DOUBLE)
      AS DECIMAL(38,10)), 6) AS DOUBLE) >= {JACCARD_THRESHOLD}"""


def minhash_bands(
    docs: DataFrame | None = None, shingles_ex: DataFrame | None = None
) -> DataFrame:
    """(doc_id, band, band_key) LSH band rows for any (doc_id, text)
    DataFrame — the registrable signature unit shared by the batch LSH
    dedup and the streaming near-dup registry. ``shingles_ex`` optionally
    supplies the exploded shingles directly (``docs`` then unused — see
    :func:`dedup_ngram_jaccard`).

    Signature via ONE codegen'd wide aggregate: explode shingles once,
    then 16 min() aggregates (one per seed) in a single groupBy(doc_id) —
    one narrow shuffle of (doc, shingle) rows, everything whole-stage
    codegen. (A nested-transform per-doc variant avoids the shuffle but
    higher-order functions evaluate interpreted — measured slower than
    the shuffle by 10x; 16 inline min-aggs keep the hash loop in
    codegen.) Band keys come straight off the 16 signature columns — no
    second shuffle."""
    rows_per_band = MINHASH_SEEDS // LSH_BANDS
    inv = shingles_ex if shingles_ex is not None else _exploded_shingles(docs)
    sig = inv.groupBy("doc_id").agg(
        *[
            F.min(seeded_hash60(F.col("shingle"), s)).alias(f"mh{s}")
            for s in range(MINHASH_SEEDS)
        ]
    )
    band_arr = F.array(
        *[
            F.concat_ws(
                ",",
                *[
                    F.col(f"mh{b * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            )
            for b in range(LSH_BANDS)
        ]
    )
    return sig.select("doc_id", F.posexplode(band_arr).alias("band", "band_key"))


def lsh_band_candidates(
    docs: DataFrame | None = None, shingles_ex: DataFrame | None = None
) -> DataFrame:
    """(doc_a, doc_b) distinct candidate pairs sharing at least one LSH
    band key — the banded candidate generator of the MinHash pipeline,
    exposed separately so a composite query that already holds the exact
    near-dup pair set can reconstruct the LSH-verified edges by
    semi-join instead of re-running the ``array_intersect`` verify (see
    graph.dedup_canonical_selection). Source selection as in
    :func:`_doc_shingles` — when ``shingles_ex`` is given it IS the
    candidate population (``docs`` is not consulted), which is how the
    canonical-selection path restricts signatures to paired docs. The
    explicit repartition makes both self-join sides end in an identical
    exchange (AQE ReusedExchange)."""
    bands = minhash_bands(docs, shingles_ex=shingles_ex).repartition(
        "band", "band_key"
    )
    return (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "band_key"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )


def dedup_minhash_lsh(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = JACCARD_THRESHOLD,
    shingles_ex: DataFrame | None = None,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, exact-Jaccard verified.

    Signature: 16 seeded portable min-hashes per doc; band key = 4
    consecutive signature values; docs sharing any band key become
    candidates; candidates are verified with true shingle Jaccard. With
    s=0.8, P[band match] = 1-(1-0.8^4)^4 ≈ 0.93 — the standard S-curve.
    ``shingles_ex`` optionally supplies the precomputed exploded shingles
    (see :func:`dedup_ngram_jaccard`).
    """
    if shingles_ex is None:
        shingles_ex = doc_shingles_ex(spark, sf_dir)
    ds = _doc_shingles(shingles_ex=shingles_ex)
    cand = lsh_band_candidates(shingles_ex=shingles_ex)
    # exact-Jaccard verify: join the tiny candidate set back to the shingle
    # arrays; |A ∩ B| via array_intersect (arrays are distinct by
    # construction) — no inverted-index self-join needed
    a = ds.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa"))
    b = ds.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sb"))
    verified = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("sa", "sb")))
    )
    jac = F.col("n_common") / (
        F.size("sa") + F.size("sb") - F.col("n_common")
    ).cast("double")
    return verified.select(
        "doc_a", "doc_b", round_dbl(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


_rows_per_band = MINHASH_SEEDS // LSH_BANDS
DEDUP_MINHASH_ORACLE = f"""
WITH sh AS ({_SHINGLES_CTE}),
sig AS (
    SELECT doc_id, seed, MIN({seeded_hash60_sql("shingle", "seed")}) AS minhash
    FROM sh CROSS JOIN (SELECT unnest(generate_series(0, {MINHASH_SEEDS - 1})) AS seed)
    GROUP BY doc_id, seed
),
bands AS (
    SELECT doc_id, CAST(seed / {_rows_per_band} AS INT) AS band,
           string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed) AS band_key
    FROM sig
    GROUP BY 1, 2
),
cand AS (
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM bands x JOIN bands y
      ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
),
joined AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.n_shingles AS size_a, b.n_shingles AS size_b,
           COUNT(*) AS n_common
    FROM sh a
    JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
    GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b,
    CAST(ROUND(CAST(CAST(n_common AS DOUBLE) / CAST(size_a + size_b - n_common AS DOUBLE)
         AS DECIMAL(38,10)), 6) AS DOUBLE) AS jaccard
FROM joined
WHERE CAST(ROUND(CAST(CAST(n_common AS DOUBLE) / CAST(size_a + size_b - n_common AS DOUBLE)
      AS DECIMAL(38,10)), 6) AS DOUBLE) >= {JACCARD_THRESHOLD}"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document.

    bit b of simhash = sign of sum over tokens of (2*bit_b(hash(token))-1);
    near-dup candidates come from 15-bit band equality + Hamming verify
    (see ``dedup_simhash_pairs``).
    """
    # shared exploded-token memo (tokmemo.py), hash each (codegen), then
    # 60 conditional-sum aggregates — one per bit — in a single
    # groupBy(doc_id): one narrow shuffle, zero interpreted higher-order
    # functions, and no |tokens| x 60-bit crossJoin blowup.
    tok = doc_tokens(spark, sf_dir).withColumn("h", hash60(F.col("token")))
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(F.expr(f"(shiftright(h, {b}) & 1) * 2 - 1")).alias(f"s{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    bitval = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bitval = term if bitval is None else bitval + term
    return votes.select("doc_id", bitval.alias("simhash"))


DEDUP_SIMHASH_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, {hash60_sql("token")} AS h
    FROM (
        SELECT doc_id, unnest({TOKENIZE_SQL.format(c="text")}) AS token
        FROM documents
    )
),
votes AS (
    SELECT doc_id, bit, SUM(((h >> bit) & 1) * 2 - 1) AS s
    FROM tok CROSS JOIN (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS bit)
    GROUP BY 1, 2
)
SELECT doc_id,
    CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
FROM votes
GROUP BY doc_id"""


def dedup_simhash_pairs(
    spark: SparkSession, sf_dir: str, max_hamming: int = HAMMING_MAX
) -> DataFrame:
    """SimHash near-dup pairs: band on 15-bit chunks (a pair within Hamming
    distance 3 of a 60-bit hash must agree exactly on >= 1 of 4 bands —
    pigeonhole), verify with bit_count(xor)."""
    sig = dedup_simhash(spark, sf_dir)
    band_bits = SIMHASH_BITS // SIMHASH_BANDS
    bands = spark.range(SIMHASH_BANDS).select(F.col("id").cast("int").alias("band"))
    keyed = sig.crossJoin(F.broadcast(bands)).select(
        "doc_id",
        "simhash",
        "band",
        F.expr(
            f"shiftright(simhash, band * {band_bits}) & {(1 << band_bits) - 1}"
        ).alias("band_key"),
    ).repartition("band", "band_key")  # identical exchange both sides -> reused
    cand = (
        keyed.alias("x")
        .join(keyed.alias("y"), ["band", "band_key"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("sim_a"),
            F.col("y.simhash").alias("sim_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cand.select("doc_a", "doc_b", ham.alias("hamming_distance")).filter(
        F.col("hamming_distance") <= max_hamming
    )


_band_bits = SIMHASH_BITS // SIMHASH_BANDS
DEDUP_SIMHASH_PAIRS_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, {hash60_sql("token")} AS h
    FROM (
        SELECT doc_id, unnest({TOKENIZE_SQL.format(c="text")}) AS token
        FROM documents
    )
),
votes AS (
    SELECT doc_id, bit, SUM(((h >> bit) & 1) * 2 - 1) AS s
    FROM tok CROSS JOIN (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS bit)
    GROUP BY 1, 2
),
sig AS (
    SELECT doc_id,
        CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
),
keyed AS (
    SELECT doc_id, simhash, band,
        (simhash >> (band * {_band_bits})) & {(1 << _band_bits) - 1} AS band_key
    FROM sig CROSS JOIN (SELECT unnest(generate_series(0, {SIMHASH_BANDS - 1})) AS band)
),
cand AS (
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
           x.simhash AS sim_a, y.simhash AS sim_b
    FROM keyed x JOIN keyed y
      ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming_distance
FROM cand
WHERE bit_count(xor(sim_a, sim_b)) <= {HAMMING_MAX}"""


def dedup_embedding_cosine(
    spark: SparkSession, sf_dir: str, threshold: float = COSINE_DUP_THRESHOLD
) -> DataFrame:
    """Embedding near-dup pairs: cosine >= threshold, brute-force pair join.

    Quadratic by construction — correct as the verification baseline; the
    scale paths are similarity.dedup_semantic (k-means cells bound the
    pairwise work, SemDeDup shape) and similarity.sim_hyperplane_lsh
    (sign-LSH banding).

    Scored like the knn audit: chunked per-kernel BLAS matmuls against the
    matrix shipped via ``SparkContext.broadcast`` (one transfer per
    executor; the earlier closure-captured form re-serialized the matrix
    per task batch, and before that the pair-join + per-pair interpreted
    zip_with/aggregate form took 130s at sf0.1's 2M pairs; this form ~2s).
    The driver-side materialization is bounded by
    :func:`_broadcast_embedding_matrix`'s row guard.
    The kernel keeps only upper-triangle pairs with RAW cosine >=
    threshold - 1e-6: a pair whose GRID-rounded cosine meets the threshold
    has raw within 5e-7 of it, so nothing the JVM-side exact filter would
    accept is dropped; the grid round and the exact >= threshold predicate
    stay JVM-side as before.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    bc, _ = _broadcast_embedding_matrix(spark, emb)
    margin = threshold - 1e-6
    chunk_rows = 2048  # bounds the |chunk| x N scratch (knn audit note)

    def _score(batches):
        all_mat = bc.value["mat"]
        all_ids = bc.value["ids"]
        all_norm = bc.value["norm"]
        for pdf in batches:
            for lo in range(0, len(pdf), chunk_rows):
                sub = pdf.iloc[lo : lo + chunk_rows]
                m = np.array(sub["v"].tolist(), dtype=np.float64)
                norms = np.linalg.norm(m, axis=1)
                denom = np.outer(norms, all_norm)
                denom[denom == 0.0] = np.nan
                cos = (m @ all_mat.T) / denom
                ids = sub["vec_id"].values
                keep = (cos >= margin) & (all_ids[None, :] > ids[:, None])
                r, c = np.nonzero(keep)  # NaN fails >= margin: dropped,
                # matching the old NULL-cosine filter
                yield pd.DataFrame(
                    {
                        "vec_a": ids[r],
                        "vec_b": all_ids[c],
                        "cosine_raw": cos[r, c],
                    }
                )

    return (
        emb.mapInPandas(_score, schema="vec_a long, vec_b long, cosine_raw double")
        .select(
            "vec_a", "vec_b", round_dbl(F.col("cosine_raw"), 6).alias("cosine")
        )
        .filter(F.col("cosine") >= threshold)
    )


_COS_EXPR = """CAST(ROUND(CAST(
    list_sum(list_transform(generate_series(1, len(va)), i -> va[i] * vb[i]))
    / NULLIF(sqrt(list_sum(list_transform(va, x -> x * x)))
           * sqrt(list_sum(list_transform(vb, x -> x * x))), 0)
 AS DECIMAL(38,10)), 6) AS DOUBLE)"""

DEDUP_EMB_COS_ORACLE = f"""
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
pairs AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           a.v AS va, b.v AS vb
    FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, {_COS_EXPR} AS cosine
FROM pairs
WHERE {_COS_EXPR} >= {COSINE_DUP_THRESHOLD}"""


def dedup_embedding_cosine_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-duplicate audit: every vector's single nearest neighbor by
    cosine. Non-vacuous companion to :func:`dedup_embedding_cosine` — the
    0.95-threshold pair query matches zero pairs on the driver corpora
    (max pairwise cosine 0.513 at sf0.01), so its green CORRECTNESS row
    proves nothing (the ``bi_strategic_suppliers`` lesson, registry.py).
    This variant emits one row per vector at every SF.

    Plan shape: per Arrow batch, ONE numpy matmul scores the batch against
    the full vector matrix (``SparkContext.broadcast`` — one transfer per
    executor, row-guarded; the quadratic baseline is honest about needing
    every pair), then the per-vector max-struct
    aggregation runs JVM-side with map-side partial combine. An earlier
    cut scored the N^2 join with per-pair ``zip_with``/``aggregate`` HOFs
    — interpreted per element, 16M lambda evals at sf0.01 made this the
    slowest query in the driver window (15s for 500 vectors; BLAS form:
    <2s). Cosines leave the kernel RAW and round through the portable
    grid JVM-side — the ``sim_topk_vectorized`` discipline: np.round is
    half-even, the grid is half-up, and the 6-dp grid absorbs BLAS-vs-
    sequential ulp drift. Quadratic by construction; the scale paths are
    similarity.sim_ivf_topk / sim_hyperplane_lsh. Ties at the rounded
    cosine break toward the smaller neighbor id on both engines.
    Output: (vec_id, nn_vec_id, nn_cosine)."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    bc, _ = _broadcast_embedding_matrix(spark, emb)

    # Candidates per row kept in the kernel: any neighbor that can TIE the
    # raw best at the 6-dp grid lies within 1e-6 of it, so it is inside
    # the raw top-TOPC unless >TOPC near-exact ties exist; emitting TOPC
    # candidates instead of the full row keeps kernel output O(N x TOPC),
    # not O(N^2) — the difference between 160K and 400M rows at the 10x
    # corpus. Rows where MORE than TOPC candidates sit within 1e-6 of the
    # raw best (9+ near-exact duplicates — exactly the workload an
    # embedding-dedup corpus targets) additionally emit EVERY tied
    # candidate, so the smallest-id tie can never be argpartition-truncated
    # away (ADVICE r4). The grid round + smaller-id tie-break stay
    # JVM-side.
    TOPC = 8

    # rows scored per BLAS call: bounds the |chunk| x N cosine matrix (and
    # its argpartition scratch) to ~350 MB at 20K vectors — an unchunked
    # 10K-row Arrow batch allocates multiple |batch| x N float64 copies
    # and thrashes (measured 96s vs ~8s chunked at the 10x corpus)
    CHUNK_ROWS = 2048

    def _score(batches):
        all_mat = bc.value["mat"]
        all_ids = bc.value["ids"]
        all_norm = bc.value["norm"]
        for pdf in batches:
            for lo in range(0, len(pdf), CHUNK_ROWS):
                sub = pdf.iloc[lo : lo + CHUNK_ROWS]
                m = np.array(sub["v"].tolist(), dtype=np.float64)
                norms = np.linalg.norm(m, axis=1)
                denom = np.outer(norms, all_norm)
                denom[denom == 0.0] = np.nan
                cos = (m @ all_mat.T) / denom  # |chunk| x N in one BLAS call
                ids = sub["vec_id"].values
                cos[np.isnan(cos)] = -np.inf
                cos[all_ids[None, :] == ids[:, None]] = -np.inf  # mask self
                k = min(TOPC, cos.shape[1])
                idx = np.argpartition(-cos, k - 1, axis=1)[:, :k]
                out_ids = np.repeat(ids, k)
                out_other = all_ids[idx].ravel()
                # raw value; -inf sentinels become NULL at the JVM grid
                # cast and are filtered like the join form did
                out_cos = np.take_along_axis(cos, idx, axis=1).ravel()
                # tie-saturation guard: if > k candidates lie within 1e-6
                # of the row's raw best, argpartition may have dropped the
                # smallest-id tie — emit the full tied set for those rows
                best = cos.max(axis=1)
                tie = np.isfinite(best)[:, None] & (cos >= best[:, None] - 1e-6)
                sat = tie.sum(axis=1) > k
                if sat.any():
                    r, c = np.nonzero(tie[sat])
                    out_ids = np.concatenate([out_ids, ids[sat][r]])
                    out_other = np.concatenate([out_other, all_ids[c]])
                    out_cos = np.concatenate([out_cos, cos[sat][r, c]])
                yield pd.DataFrame(
                    {
                        "vec_id": out_ids,
                        "other_id": out_other,
                        "cosine_raw": out_cos,
                    }
                )

    scored = (
        # NOT repartitioned before the kernel: locally the embeddings
        # parquet is one split and OpenBLAS already threads the matmul
        # across cores (fanning out to 32 tasks x 32 BLAS threads measured
        # 1.5x SLOWER from oversubscription); on a cluster the table
        # arrives in many splits and each executor's kernel runs its own
        # BLAS pool — the parallelism follows the data layout either way
        emb.mapInPandas(
            _score, schema="vec_id long, other_id long, cosine_raw double"
        )
        .filter(F.col("vec_id") != F.col("other_id"))
        .select(
            "vec_id", "other_id", round_dbl(F.col("cosine_raw"), 6).alias("cosine")
        )
        .filter(F.col("cosine").isNotNull())
    )
    best = scored.groupBy("vec_id").agg(
        F.min(
            F.struct(
                (-F.col("cosine")).alias("neg_cos"), F.col("other_id").alias("nn")
            )
        ).alias("b")
    )
    return best.select(
        "vec_id",
        F.col("b.nn").alias("nn_vec_id"),
        (-F.col("b.neg_cos")).alias("nn_cosine"),
    )


DEDUP_EMB_COS_KNN_ORACLE = f"""
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
scored AS (
    SELECT a.vec_id, b.vec_id AS other_id, {_COS_EXPR.replace("va", "a.v").replace("vb", "b.v")} AS cosine
    FROM e a JOIN e b ON a.vec_id <> b.vec_id
)
SELECT vec_id, other_id AS nn_vec_id, cosine AS nn_cosine
FROM (
    SELECT vec_id, other_id, cosine,
        ROW_NUMBER() OVER (PARTITION BY vec_id
                           ORDER BY cosine DESC, other_id ASC) AS rn
    FROM scored WHERE cosine IS NOT NULL
) WHERE rn = 1"""


# --- substring-span dedup (Lee et al. 2022) -------------------------------

SPAN_WINDOW = 5  # tokens per rolling window


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-substring spans: maximal per-document token ranges
    covered by ``SPAN_WINDOW``-token windows that appear in MORE THAN ONE
    document — the substring-level dedup of "Deduplicating Training Data
    Makes Language Models Better" (Lee et al. 2022), which removes
    repeated passages that document-level dedup cannot see.

    Shape: rolling windows form on the codegen posexplode+lead path (one
    row per token position); window identity is the portable 60-bit hash,
    so the document-frequency aggregate and the flagged-window semi-join
    shuffle 8-byte keys, never window text — linear in corpus tokens, the
    suffix-array replacement that actually distributes. Overlapping /
    adjacent flagged windows then merge into maximal spans with one
    gaps-and-islands pass per document (cumulative max of span ends).
    Output: (doc_id, span_id, start_pos, end_pos, n_windows), positions
    1-based token indices, end exclusive."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(tokenize(F.col("text"))).alias("p", "token")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("p")
    win_text = F.concat_ws(
        " ",
        F.col("token"),
        *[F.lead("token", i).over(wdoc) for i in range(1, SPAN_WINDOW)],
    )
    tail = F.lead("token", SPAN_WINDOW - 1).over(wdoc)
    # pin the windowed token stream once (r13 optimization, guide §2.4):
    # it feeds BOTH the document-frequency aggregate and the flagged-
    # window semi-join below, and without the checkpoint the plan
    # recomputes the whole tokenize + posexplode + hash(doc_id) shuffle +
    # per-doc sort subtree per consumer (two corpus passes —
    # plans/r13/dedup_substring_spans_before.txt Scan(1)..Window(5) vs
    # Scan(8)..Window(12), zero ReusedExchange because one side ends in
    # a BroadcastExchange). The pin stores one row per corpus token
    # position for the query's duration, so it trades the second scan
    # pass for corpus-scale pinned storage — cheaper here and at 10x
    # (measured), with disk spill (MEMORY_AND_DISK-class block storage /
    # the SPARK_GRAFT_PIN=checkpoint dial) as the escape hatch at
    # corpora where that frame outgrows executor storage.
    wins = (
        tok.withColumn("wh", hash60(win_text))
        .withColumn("_full", tail.isNotNull())
        .filter(F.col("_full"))
        .select("doc_id", (F.col("p") + 1).alias("pos"), "wh")
        .transform(pin)
    )
    flagged = (
        wins.groupBy("wh")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") > 1)
        .select("wh")
    )
    hits = wins.join(flagged, "wh", "left_semi")
    word = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + SPAN_WINDOW).over(
        word.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = hits.withColumn(
        "new_island",
        F.when(
            prev_end.isNull() | (F.col("pos") > prev_end), F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn(
        "span_id",
        F.sum("new_island").over(
            word.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return islands.groupBy("doc_id", "span_id").agg(
        F.min("pos").alias("start_pos"),
        (F.max("pos") + SPAN_WINDOW).alias("end_pos"),
        F.count(F.lit(1)).alias("n_windows"),
    )


DEDUP_SUBSTRING_ORACLE = f"""
WITH t AS (
    SELECT doc_id, {TOKENIZE_SQL.format(c="text")} AS toks FROM documents
),
wins AS (
    SELECT doc_id, i AS pos,
        {hash60_sql(f"array_to_string(toks[i:i+{SPAN_WINDOW}-1], ' ')")} AS wh
    FROM t, unnest(generate_series(1, len(toks) - {SPAN_WINDOW} + 1)) AS u(i)
),
flagged AS (
    SELECT wh FROM wins GROUP BY wh HAVING COUNT(DISTINCT doc_id) > 1
),
hits AS (
    SELECT doc_id, pos FROM wins JOIN flagged USING (wh)
),
islands AS (
    SELECT doc_id, pos,
        SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS span_id
    FROM (
        SELECT doc_id, pos,
            CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END
                AS new_island
        FROM (
            SELECT doc_id, pos,
                MAX(pos + {SPAN_WINDOW}) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ) AS prev_end
            FROM hits
        )
    )
)
SELECT doc_id, CAST(span_id AS BIGINT) AS span_id, MIN(pos) AS start_pos,
    MAX(pos) + {SPAN_WINDOW} AS end_pos, COUNT(*) AS n_windows
FROM islands GROUP BY doc_id, span_id"""


def dedup_substring_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaned corpus of substring-level dedup: every NON-CANONICAL
    occurrence of a cross-document repeated window is removed from the
    text, keeping the globally-first copy — the corpus Lee et al.'s
    dedup actually ships (the spans operator is its audit view).

    Canonical occurrence of a repeated window = the minimum (doc_id, pos)
    holding its hash. Token-level removal avoids any range join: a token
    at position t is covered by a non-canonical hit iff some hit sits in
    [t-W+1, t], which is one bounded ROWS window over the token stream
    with the hit flag equi-joined at the same position — scan + equi-join
    + fixed-width window, all linear. The surviving tokens re-assemble
    per document with the ordered-struct collect the centroid builder
    uses. Output: doc_id, clean_text, n_tokens_removed."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(tokenize(F.col("text"))).alias("p", "token")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("p")
    win_text = F.concat_ws(
        " ",
        F.col("token"),
        *[F.lead("token", i).over(wdoc) for i in range(1, SPAN_WINDOW)],
    )
    tail = F.lead("token", SPAN_WINDOW - 1).over(wdoc)
    wins = (
        tok.withColumn("wh", hash60(win_text))
        .withColumn("_full", tail.isNotNull())
        .filter(F.col("_full"))
        .select("doc_id", F.col("p").alias("pos"), "wh")
        # pinned once: feeds both the canonical-occurrence aggregate and
        # the non-canonical join below — without this the tokenize +
        # explode + shuffle + per-doc window subtree runs once per
        # consumer (same r13 finding as dedup_substring_spans)
        .transform(pin)
    )
    # repeated windows + their canonical (first) occurrence
    canon = (
        wins.groupBy("wh")
        .agg(
            F.count_distinct("doc_id").alias("df"),
            F.min(F.struct("doc_id", "pos")).alias("first"),
        )
        .filter(F.col("df") > 1)
        .select("wh", "first")
    )
    noncanon = wins.join(canon, "wh").filter(
        (F.col("doc_id") != F.col("first.doc_id"))
        | (F.col("pos") != F.col("first.pos"))
    )
    hits = noncanon.groupBy("doc_id", "pos").agg(F.lit(1).alias("hit"))
    wcover = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(-(SPAN_WINDOW - 1), 0)
    )
    tagged = tok.join(
        hits.withColumnRenamed("pos", "p"), ["doc_id", "p"], "left"
    ).withColumn("covered", F.max("hit").over(wcover).isNotNull())
    return (
        tagged.groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("covered"), F.struct("p", "token")
                            )
                        )
                    ),
                    lambda s: s.token,
                ),
            ).alias("clean_text"),
            F.sum(F.col("covered").cast("long")).alias("n_tokens_removed"),
        )
    )


DEDUP_SUBSTRING_CLEAN_ORACLE = f"""
WITH t AS (
    SELECT doc_id, {TOKENIZE_SQL.format(c="text")} AS toks FROM documents
),
tok AS (
    SELECT doc_id, i - 1 AS p, toks[i] AS token
    FROM t, unnest(generate_series(1, len(toks))) AS u(i)
),
wins AS (
    SELECT doc_id, i - 1 AS pos,
        {hash60_sql(f"array_to_string(toks[i:i+{SPAN_WINDOW}-1], ' ')")} AS wh
    FROM t, unnest(generate_series(1, len(toks) - {SPAN_WINDOW} + 1)) AS u(i)
),
canon AS (
    SELECT wh, MIN(struct_pack(doc_id := doc_id, pos := pos)) AS first
    FROM wins GROUP BY wh HAVING COUNT(DISTINCT doc_id) > 1
),
hits AS (
    SELECT DISTINCT w.doc_id, w.pos
    FROM wins w JOIN canon c USING (wh)
    WHERE (w.doc_id, w.pos) <> (c.first.doc_id, c.first.pos)
),
tagged AS (
    SELECT tok.doc_id, tok.p, tok.token,
        MAX(CASE WHEN h.pos IS NOT NULL THEN 1 END) OVER (
            PARTITION BY tok.doc_id ORDER BY tok.p
            ROWS BETWEEN {SPAN_WINDOW - 1} PRECEDING AND CURRENT ROW
        ) IS NOT NULL AS covered
    FROM tok LEFT JOIN hits h ON tok.doc_id = h.doc_id AND tok.p = h.pos
)
SELECT doc_id,
    COALESCE(array_to_string(list(token ORDER BY p) FILTER (WHERE NOT covered), ' '), '')
        AS clean_text,
    CAST(COALESCE(SUM(CASE WHEN covered THEN 1 END), 0) AS BIGINT) AS n_tokens_removed
FROM tagged GROUP BY doc_id"""


# containment >= 1/4 of the smaller doc's shingles (exact integer predicate)
CONTAINMENT_NUM = 1
CONTAINMENT_DEN = 4


def dedup_containment(
    spark: SparkSession,
    sf_dir: str,
    shingles_ex: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric containment dedup: pairs where the SMALLER document's
    shingle set is substantially contained in the larger's —
    ``containment(A in B) = |sh(A) ∩ sh(B)| / |sh(A)|``. This is the
    measure Jaccard structurally misses: a short doc fully quoted inside
    a long one has Jaccard ≈ |A|/|B| (tiny) but containment ≈ 1 — on this
    corpus the planted cross-doc spans surface as containment 0.25-0.3
    pairs whose Jaccard rounds to 0.0 (the reason substring-level dedup
    pipelines run a containment pass besides the Jaccard/MinHash one).

    Same scale shape as :func:`dedup_ngram_jaccard`: candidates from the
    shingle inverted index (shared-shingle pairs only, one reused
    exchange), exact integer threshold ``n_common * DEN >= min_size *
    NUM``; the hot-shingle df cap of the ``_capped`` twin composes here
    unchanged on head-heavy corpora. Output orients each pair
    (contained_doc = the smaller side, lower id on size ties) and carries
    the Jaccard for the contrast audit."""
    if shingles_ex is None:
        shingles_ex = doc_shingles_ex(spark, sf_dir)
    pairs = _pair_counts(_shingles(shingles_ex=shingles_ex))
    min_size = F.least("size_a", "size_b")
    contained = F.when(F.col("size_a") < F.col("size_b"), F.col("doc_a")).when(
        F.col("size_b") < F.col("size_a"), F.col("doc_b")
    ).otherwise(F.least("doc_a", "doc_b"))
    container = F.when(contained == F.col("doc_a"), F.col("doc_b")).otherwise(
        F.col("doc_a")
    )
    jac = F.col("n_common") / (
        F.col("size_a") + F.col("size_b") - F.col("n_common")
    ).cast("double")
    return (
        pairs.filter(
            F.col("n_common") * CONTAINMENT_DEN >= min_size * CONTAINMENT_NUM
        )
        .select(
            contained.alias("contained_doc"),
            container.alias("container_doc"),
            F.col("n_common"),
            round_dbl(F.col("n_common") / min_size.cast("double"), 6).alias(
                "containment"
            ),
            round_dbl(jac, 6).alias("jaccard"),
        )
    )


DEDUP_CONTAINMENT_ORACLE = f"""
WITH sh AS ({_SHINGLES_CTE}),
p AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.n_shingles AS size_a, b.n_shingles AS size_b,
           COUNT(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2, 3, 4
)
SELECT CASE WHEN size_a < size_b THEN doc_a
            WHEN size_b < size_a THEN doc_b
            ELSE LEAST(doc_a, doc_b) END AS contained_doc,
       CASE WHEN size_a < size_b THEN doc_b
            WHEN size_b < size_a THEN doc_a
            ELSE GREATEST(doc_a, doc_b) END AS container_doc,
       n_common,
       CAST(ROUND(CAST(CAST(n_common AS DOUBLE)
            / CAST(LEAST(size_a, size_b) AS DOUBLE)
            AS DECIMAL(38,10)), 6) AS DOUBLE) AS containment,
       CAST(ROUND(CAST(CAST(n_common AS DOUBLE)
            / CAST(size_a + size_b - n_common AS DOUBLE)
            AS DECIMAL(38,10)), 6) AS DOUBLE) AS jaccard
FROM p
WHERE n_common * {CONTAINMENT_DEN} >= LEAST(size_a, size_b) * {CONTAINMENT_NUM}"""


def register_all(register) -> None:
    register("dedup_exact", dedup_exact, DEDUP_EXACT_ORACLE)
    register("dedup_containment", dedup_containment, DEDUP_CONTAINMENT_ORACLE)
    register("dedup_ngram_jaccard", dedup_ngram_jaccard, DEDUP_NGRAM_ORACLE)
    register(
        "dedup_ngram_jaccard_capped",
        dedup_ngram_jaccard_capped,
        DEDUP_NGRAM_CAPPED_ORACLE,
    )
    register("dedup_minhash_lsh", dedup_minhash_lsh, DEDUP_MINHASH_ORACLE)
    register("dedup_simhash", dedup_simhash, DEDUP_SIMHASH_ORACLE)
    register("dedup_simhash_pairs", dedup_simhash_pairs, DEDUP_SIMHASH_PAIRS_ORACLE)
    register("dedup_embedding_cosine", dedup_embedding_cosine, DEDUP_EMB_COS_ORACLE)
    register(
        "dedup_embedding_cosine_knn",
        dedup_embedding_cosine_knn,
        DEDUP_EMB_COS_KNN_ORACLE,
    )
    register("dedup_substring_spans", dedup_substring_spans, DEDUP_SUBSTRING_ORACLE)
    register("dedup_substring_clean", dedup_substring_clean, DEDUP_SUBSTRING_CLEAN_ORACLE)

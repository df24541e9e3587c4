"""Incrementally-maintained near-duplicate index (round 10).

:func:`..llmdata.dedup.dedup_minhash_lsh` is batch recompute: every run
re-shingles and re-signs the whole corpus. At 100 TB the steady state is
a MAINTAINED index — the banded MinHash signatures live as a bucketed
table, and a batch of newly-arrived documents is deduplicated against
the existing corpus by probing only the buckets its band keys hash to,
in O(batch + matched buckets), never rescanning the corpus. This is the
dedup-family twin of the ANN family's ingest-without-retrain
(:func:`..llmdata.similarity.sim_ivf_append_search`) and the text
family's maintained statistics (:mod:`.incrstats`) — MinHash needs no
trained state at all (signatures are per-document), so the maintained
index is exact: the probe's verified pairs hash-equal the full batch
recompute restricted to arrival-involving pairs, which is precisely what
the registry oracle asserts.

Layout: band rows ``(doc_id, band, band_key)`` stored partitioned by
``bucket = hash(band_key) % NUM_INDEX_BUCKETS``. A probe computes the
arrival batch's band rows (shingle + 16 min-hashes over the BATCH only),
collects the distinct bucket ids it touches (driver-bounded by
``NUM_INDEX_BUCKETS``), reads just those partitions, and joins on
``(band, band_key)``. Exact-Jaccard verification re-shingles ONLY the
candidate documents (a semi-join prune into ``documents`` — at
deployment scale the table is clustered by ``doc_id``, see
operators/layout.py, so the verify reads O(candidates) rows). New-vs-new
pairs fall out of the same probe because arrivals are appended to the
store before probing; the least/greatest normalization + distinct
collapses the double match.

Mechanism boundary vs the streaming registry (VERDICT r10 #7): this
module's band index is the AUDIT PROBE — order-free, exact-verified
near-dup PAIRS over the base/arrival split. The keep-first registry
stream (:func:`..streaming.incremental.incremental_minhash_registry_
stream`) is the ADMISSION GATE — inline, candidate-level, earliest-match
attribution. Same signature derivation, intentionally different stores
(keep-first vs append-all); agreement on the same feed is test-locked
(the gate flags a superset of the probe's verified pairs).

Reference: the reference maintains refined tables incrementally
(src/refined/refined_customer_orders.py); it has no dedup surface — this
is part of the LLM-training-data extension brief.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..memo import once, rmtree
from ..pinning import pin

from ..operators.layout import read_store_meta, write_store_meta
from ..operators.rounding import round_dbl
from ..tables import load_table
from .dedup import (
    DEDUP_MINHASH_ORACLE,
    JACCARD_THRESHOLD,
    _doc_shingles,
    _exploded_shingles,
    _jaccard_from_counts,
    _shingles,
    lsh_band_candidates,
    minhash_bands,
)
from .incrstats import DOC_ARRIVAL_MOD

# store partitions AT BUILD TIME; a probe prunes to the buckets its band
# keys hash to. The LIVE bucket count is the store's sidecar meta
# (operators/layout.py STORE_META), not this constant: a deployment scales
# buckets with index size by running :func:`..operators.layout.
# rebucket_store` (the r11 lifecycle job), and every probe afterwards
# prunes with the new count — no code deploy.
NUM_INDEX_BUCKETS = 64

def _bucketed(bands: DataFrame, num_buckets: int = NUM_INDEX_BUCKETS) -> DataFrame:
    return bands.withColumn(
        "bucket", F.pmod(F.xxhash64("band_key"), F.lit(num_buckets))
    )


def _live_num_buckets(path: str) -> int:
    """The store's LIVE bucket count from its sidecar meta — and LOUDLY
    refuse a store whose sidecar is missing (ADVICE r11): falling back to
    the compile-time constant against a store that was rebucketed (say to
    640) and then lost its ``_store_meta.json`` would prune with 64, read
    bucket dirs that do still exist, and silently DROP pairs. A missing
    sidecar on an existing store is corruption; fail, don't guess."""
    n = read_store_meta(path).get("num_buckets")
    if n is None:
        raise RuntimeError(
            f"store at {path} has no readable _store_meta.json sidecar — "
            "bucket pruning would silently drop results on a rebucketed "
            "store; rebuild the store (or restore the sidecar)"
        )
    return int(n)


def _rm_store_root(path: str) -> None:
    """The memo ``release`` of a session store: remove its mkdtemp root
    (the dir ABOVE the parquet dir), so no ``dedup_idx_*``/``sem_idx_*``/
    ``pair_idx_*`` dir outlives the entry that owns it (VERDICT r10 #1)."""
    rmtree(os.path.dirname(path.rstrip("/")))


def _dedup_band_index(
    spark: SparkSession, sf_dir: str
) -> tuple[str, DataFrame]:
    """(store_path, pinned arrival band rows): build the banded-signature
    store from the base corpus (``doc_id % DOC_ARRIVAL_MOD != 0`` — the
    append-family split), then ingest the arrival batch by APPENDING its
    band rows to the store (O(batch): only the arrivals are shingled and
    signed; the base corpus is not re-read). Session-memoized per
    ``sf_dir`` so the build is a one-time cost and repeated probes time
    the steady state."""

    def build() -> tuple[str, DataFrame]:
        docs = load_table(spark, sf_dir, "documents")
        base = docs.filter(F.col("doc_id") % DOC_ARRIVAL_MOD != 0)
        arrivals = docs.filter(F.col("doc_id") % DOC_ARRIVAL_MOD == 0)
        path = os.path.join(tempfile.mkdtemp(prefix="dedup_idx_"), "bands")
        _bucketed(minhash_bands(base)).write.partitionBy("bucket").parquet(
            path
        )
        # ingest: the arrival batch's band rows, pinned (the probe
        # re-uses them every search) and appended to the store (so
        # later batches would see these docs as index members too)
        arr_bands = (
            _bucketed(minhash_bands(arrivals))
            .transform(pin)
        )
        arr_bands.write.mode("append").partitionBy("bucket").parquet(path)
        # the probe derives its pruning from this sidecar, so a later
        # rebucket_store needs no coordination with readers
        write_store_meta(path, num_buckets=NUM_INDEX_BUCKETS, key_col="band_key")
        return path, arr_bands

    return once(
        spark,
        ("dedup_band_index", sf_dir),
        build,
        lambda got: _rm_store_root(got[0]),
    )


def dedup_minhash_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs introduced by the arrival batch — the maintained
    index's steady-state probe. Candidates come from joining the arrival
    band rows against ONLY the store buckets they hash to (the
    ``basePath`` pruned read — the corpus-sized store is never scanned);
    verification re-shingles only candidate documents. Output matches
    :func:`..llmdata.dedup.dedup_minhash_lsh` restricted to pairs with at
    least one arrival side (MinHash has no trained state, so maintained
    and batch signatures are identical — the exactness contract the
    oracle checks)."""
    path, arr_bands = _dedup_band_index(spark, sf_dir)
    return probe_band_store(
        spark, path, arr_bands, load_table(spark, sf_dir, "documents")
    )


def probe_band_store(
    spark: SparkSession, path: str, arr_bands: DataFrame, docs: DataFrame
) -> DataFrame:
    """The steady-state probe body over any band store: bucket-pruned
    candidate join + exact-Jaccard verification of the candidates against
    ``docs``. Pruning derives from the store's LIVE sidecar meta (bucket
    count at last build/rebucket), never from the pinned ``bucket`` column
    of ``arr_bands`` — so the same probe is byte-identical across
    re-bucketing (test-locked: the join key is (band, band_key); buckets
    only route reads). Shared by the registered query and the scaling
    harness (scripts/dedup_append_scaling.py)."""
    n = _live_num_buckets(path)
    buckets = sorted(
        r["bucket"]
        for r in arr_bands.select(
            F.pmod(F.xxhash64("band_key"), F.lit(n)).alias("bucket")
        )
        .distinct()
        .collect()
    )  # driver-bounded by the store's bucket count
    store = spark.read.option("basePath", path).parquet(
        *[os.path.join(path, f"bucket={b}") for b in buckets]
    )
    cand = (
        arr_bands.alias("p")
        .join(store.alias("s"), ["band", "band_key"])
        .filter(F.col("p.doc_id") != F.col("s.doc_id"))
        .select(
            F.least("p.doc_id", "s.doc_id").alias("doc_a"),
            F.greatest("p.doc_id", "s.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # verify with exact shingle Jaccard over ONLY the candidate docs: a
    # semi-join prune into documents, then the shared per-doc shingle-set
    # derivation — O(candidates), not O(corpus)
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    cand_docs = docs.join(cand_ids, "doc_id", "left_semi")
    ds = _doc_shingles(docs=cand_docs)
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
    ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)


# MinHash signatures are train-free, so the maintained index IS the batch
# recompute on the same corpus: the oracle replays the full banded LSH
# declaratively and restricts to arrival-involving pairs — the probe must
# hash-equal it exactly (no recall relaxation anywhere in this family).
DEDUP_MINHASH_APPEND_ORACLE = f"""
SELECT doc_a, doc_b, jaccard FROM ({DEDUP_MINHASH_ORACLE})
WHERE doc_a % {DOC_ARRIVAL_MOD} = 0 OR doc_b % {DOC_ARRIVAL_MOD} = 0"""


# --- maintained EXACT-pair index (the shingle inverted index) --------------

def _pair_core(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str, DataFrame]:
    """The exact-Jaccard twin of the band index, for consumers that need
    the COMPLETE >= 0.8 pair set (banded MinHash is probabilistic — it can
    miss true pairs — so the graph family's maintained path cannot ride
    it). The CORE tables, enough for the pagerank-family consumers:

    - the shingle inverted index ``(doc_id, shingle, n_shingles)``
      partitioned by ``bucket = hash(shingle)`` — the posting lists of
      :func:`..llmdata.dedup._pair_counts`, materialized;
    - the base corpus's verified EXACT edge list (the batch discovery
      join, run over the READ-BACK of the just-written store — one
      tokenize pass; the r13 init re-derived the shingle subtree per
      product, guide §2.4/§3.3).

    The arrival batch's pinned shingle rows are derived CONCURRENTLY
    with the store+edges chain (independent inputs; guide §2.6) and
    appended to the store last — after every base read-back — so the
    base-edge derivation can never observe arrival rows.

    The LSH edge list + settled component labels the canonical-selection
    consumers need are the separate lazy stage (:func:`_pair_lsh_cc`) —
    the pagerank face never pays for them."""
    from concurrent.futures import ThreadPoolExecutor


    def build() -> tuple[str, str, DataFrame]:
        docs = load_table(spark, sf_dir, "documents")
        base = docs.filter(F.col("doc_id") % DOC_ARRIVAL_MOD != 0)
        arrivals = docs.filter(F.col("doc_id") % DOC_ARRIVAL_MOD == 0)
        root = tempfile.mkdtemp(prefix="pair_idx_")
        sh_path = os.path.join(root, "shingles")
        edges_path = os.path.join(root, "base_edges")

        def _store_and_edges() -> None:
            (
                _shingles(shingles_ex=_exploded_shingles(base))
                .withColumn(
                    "bucket",
                    F.pmod(F.xxhash64("shingle"), F.lit(NUM_INDEX_BUCKETS)),
                )
                .write.partitionBy("bucket")
                .parquet(sh_path)
            )
            write_store_meta(
                sh_path, num_buckets=NUM_INDEX_BUCKETS, key_col="shingle"
            )
            stored = spark.read.parquet(sh_path).select(
                "doc_id", "shingle", "n_shingles"
            )
            # base-base edges: both docs' full shingle sets live in
            # the base corpus, so this equals the full-corpus pair set
            # restricted to base pairs — the partition the probe
            # completes. The stored inverted index already carries
            # n_shingles, so the jaccard derives directly from it.
            _jaccard_from_counts(stored).select(
                "doc_a", "doc_b"
            ).write.parquet(edges_path)

        def _arrival_pin() -> DataFrame:
            return _shingles(
                shingles_ex=_exploded_shingles(arrivals)
            ).transform(pin)

        with ThreadPoolExecutor(2) as ex:
            f_chain = ex.submit(_store_and_edges)
            f_arr = ex.submit(_arrival_pin)
            f_chain.result()
            arr_sh = f_arr.result()
        (
            arr_sh.withColumn(
                "bucket",
                F.pmod(F.xxhash64("shingle"), F.lit(NUM_INDEX_BUCKETS)),
            )
            .write.mode("append")
            .partitionBy("bucket")
            .parquet(sh_path)
        )
        return sh_path, edges_path, arr_sh

    return once(
        spark,
        ("pair_core", sf_dir),
        build,
        lambda got: _rm_store_root(got[0]),
    )


def _pair_lsh_cc(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """The canonical-selection half of the pair index, built lazily on
    first use (r14 — the pagerank once-key stopped paying for products it
    never reads; OPTIMIZATION_r14.md discloses the cost move):

    - the base corpus's verified LSH edge list — via the exact∩band
      identity (the dedup_canonical_selection argument, oracle-checked
      there): every LSH-verified pair passes the same >=0.8 exact-Jaccard
      bar, so LSH = exact_pairs ∩ band_candidates, and signatures are
      needed only for docs appearing in an exact pair — a broadcast
      semi-join slice of the stored shingles instead of the full-corpus
      16-seed signature aggregate + per-candidate array_intersect verify
      the r13 init paid;
    - the base LSH graph's settled COMPONENT LABELS
      (``curation.edge_incident_labels``), so the per-batch consumer
      merges arrival edges into settled labels (:func:`maintained_cc_
      labels`) instead of re-running the label loop per batch (r11 #1).

    The stored-shingle read happens after arrivals were appended, but the
    paired-doc semi-join slices to base docs (base pairs have base
    endpoints), so arrival rows cannot enter the base edge derivation."""
    sh_path, edges_path, _arr = _pair_core(spark, sf_dir)

    def build() -> tuple[str, str]:
        root = os.path.dirname(sh_path.rstrip("/"))
        lsh_path = os.path.join(root, "base_lsh_edges")
        cc_path = os.path.join(root, "base_cc_labels")
        stored = spark.read.parquet(sh_path).select("doc_id", "shingle")
        base_edges = spark.read.parquet(edges_path)
        paired_docs = (
            base_edges.select(F.col("doc_a").alias("doc_id"))
            .unionByName(base_edges.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        ex_paired = stored.join(
            F.broadcast(paired_docs), "doc_id", "left_semi"
        )
        base_edges.join(
            lsh_band_candidates(shingles_ex=ex_paired),
            ["doc_a", "doc_b"],
            "left_semi",
        ).write.parquet(lsh_path)
        # settle the base graph's component labels ONCE (read back
        # from the just-written edges — no pipeline re-run); the
        # per-batch path merges into these instead of re-looping
        from .curation import edge_incident_labels

        edge_incident_labels(spark.read.parquet(lsh_path)).write.parquet(
            cc_path
        )
        return lsh_path, cc_path

    # the paths live under the core entry's root, released with it
    return once(spark, ("pair_lsh_cc", sf_dir), build)


def _exact_pair_index(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str, str, str, DataFrame]:
    """Compatibility accessor building BOTH pair-index stages: returns
    (shingle_store, exact_edges, lsh_edges, cc_labels, pinned arrival
    shingles) as the pre-r14 single-stage builder did."""
    sh_path, edges_path, arr_sh = _pair_core(spark, sf_dir)
    lsh_path, cc_path = _pair_lsh_cc(spark, sf_dir)
    return (sh_path, edges_path, lsh_path, cc_path, arr_sh)


def exact_pairs_for_arrivals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-Jaccard >= 0.8 pairs with at least one arrival side, from the
    maintained shingle index — the steady-state probe. Reads ONLY the
    buckets the batch's shingles hash to (sidecar-meta pruning, the
    :func:`probe_band_store` discipline); ``n_common`` falls straight out
    of the probe join (every shared shingle of an arrival-involving pair
    is one of the arrival's own shingles, so the probed buckets see the
    COMPLETE intersection — no re-verification scan), and sizes ride the
    stored per-doc ``n_shingles``. Output hash-equals the full
    :func:`..llmdata.dedup.dedup_ngram_jaccard` restricted to
    arrival-involving pairs; arrival-arrival double matches (p->s and
    s->p) collapse in the normalized distinct."""
    sh_path, _edges_path, arr_sh = _pair_core(spark, sf_dir)
    n = _live_num_buckets(sh_path)
    buckets = sorted(
        r["bucket"]
        for r in arr_sh.select(
            F.pmod(F.xxhash64("shingle"), F.lit(n)).alias("bucket")
        )
        .distinct()
        .collect()
    )  # driver-bounded by the store's bucket count
    store = spark.read.option("basePath", sh_path).parquet(
        *[os.path.join(sh_path, f"bucket={b}") for b in buckets]
    )
    p = arr_sh.select(
        F.col("doc_id").alias("p_id"),
        "shingle",
        F.col("n_shingles").alias("p_n"),
    )
    s = store.select(
        F.col("doc_id").alias("s_id"),
        "shingle",
        F.col("n_shingles").alias("s_n"),
    )
    lt = F.col("p_id") < F.col("s_id")
    norm = (
        p.join(s, "shingle")
        .filter(F.col("p_id") != F.col("s_id"))
        .select(
            F.least("p_id", "s_id").alias("doc_a"),
            F.greatest("p_id", "s_id").alias("doc_b"),
            F.when(lt, F.col("p_n")).otherwise(F.col("s_n")).alias("size_a"),
            F.when(lt, F.col("s_n")).otherwise(F.col("p_n")).alias("size_b"),
            "shingle",
        )
        .distinct()
    )
    pairs = norm.groupBy("doc_a", "doc_b", "size_a", "size_b").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    jac = F.col("n_common") / (
        F.col("size_a") + F.col("size_b") - F.col("n_common")
    ).cast("double")
    return pairs.select(
        "doc_a", "doc_b", round_dbl(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)


def maintained_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL current exact near-dup edge set from maintained tables:
    base edges (init-time batch discovery) UNION the probe's
    arrival-involving pairs — a disjoint partition of all pairs (a pair
    either has both sides in base, or at least one arrival side). The
    graph family's maintained consumers (``graph_pagerank_update_only``)
    rank over this without ever re-scanning the corpus."""
    _sh, edges_path, _arr = _pair_core(spark, sf_dir)
    base_pairs = spark.read.parquet(edges_path)
    return base_pairs.unionByName(
        exact_pairs_for_arrivals(spark, sf_dir).select("doc_a", "doc_b")
    )


def maintained_cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component labels (doc_id, canonical_id) of the FULL current LSH
    near-dup graph, maintained incrementally (VERDICT r11 #1) — the
    replacement for re-running ``curation.edge_incident_labels`` over the
    whole maintained edge set every batch, which made the maintained
    canonical-selection face SLOWER than its batch twin at 1x.

    Exactness argument: the full graph is G_base ∪ P_new where P_new is
    the probe's arrival-involving verified pairs (a disjoint partition —
    see :func:`maintained_lsh_pairs`). A base component with no P_new
    edge incident to it is a component of the full graph with the SAME
    min-label (its base labels are already the fixpoint). Components
    touched by P_new merge ONLY along P_new edges, so contracting each
    settled base component to its stored label and running a union-find
    over the QUOTIENT graph (P_new endpoints mapped through the stored
    labels; unmapped endpoints are their own quotient node) yields, per
    merged group, the min over its quotient ids = the min doc_id of the
    merged full-graph component — exactly the batch loop's fixpoint.

    Scale: the quotient edge set is DISTINCT over O(|P_new|) pairs — the
    arrival batch's near-dup pairs, the same driver-bounded class as the
    probe's bucket-id collect — so the union-find runs on the driver in
    O(batch α(batch)); the cluster never ships more than the batch's own
    pair list. The corpus-sized work left is the one stored-label remap
    join (broadcast: only touched components appear in the remap)."""
    _lsh_path, cc_path = _pair_lsh_cc(spark, sf_dir)
    base_labels = spark.read.parquet(cc_path)
    p_new = (
        dedup_minhash_append(spark, sf_dir)
        .select("doc_a", "doc_b")
        .transform(pin)  # one probe run feeds both collects
    )
    lab_a = base_labels.select(
        F.col("doc_id").alias("doc_a"), F.col("canonical_id").alias("la")
    )
    lab_b = base_labels.select(
        F.col("doc_id").alias("doc_b"), F.col("canonical_id").alias("lb")
    )
    qedges = [
        (r["qa"], r["qb"])
        for r in p_new.join(lab_a, "doc_a", "left")
        .join(lab_b, "doc_b", "left")
        .select(
            F.coalesce("la", F.col("doc_a")).alias("qa"),
            F.coalesce("lb", F.col("doc_b")).alias("qb"),
        )
        .filter(F.col("qa") != F.col("qb"))
        .distinct()
        .collect()
    ]  # O(batch)-bounded: distinct touched-component pairs
    # endpoints with no stored label (arrivals + base singletons drawn
    # into a pair) — they need direct label rows, not a remap
    new_nodes = sorted(
        r["doc_id"]
        for r in p_new.select(F.col("doc_a").alias("doc_id"))
        .unionByName(p_new.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .join(base_labels, "doc_id", "left_anti")
        .collect()
    )

    # driver union-find, min-id representative (path-compressed)
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in qedges:
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if rb < ra:
            ra, rb = rb, ra
        parent[rb] = ra  # larger root under smaller => rep = group min

    remap = [(old, find(old)) for old in parent]  # only changed roots
    direct = [(d, find(d)) for d in new_nodes]
    relabeled = base_labels
    if remap:
        remap_df = spark.createDataFrame(
            remap, "canonical_id long, new_canonical long"
        )
        relabeled = (
            base_labels.join(F.broadcast(remap_df), "canonical_id", "left")
            .select(
                "doc_id",
                F.coalesce("new_canonical", "canonical_id").alias(
                    "canonical_id"
                ),
            )
        )
    if direct:
        relabeled = relabeled.unionByName(
            spark.createDataFrame(direct, "doc_id long, canonical_id long")
        )
    return load_table(spark, sf_dir, "documents").select("doc_id").join(
        relabeled, "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce("canonical_id", F.col("doc_id")).alias("canonical_id"),
    )


def maintained_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL current LSH-verified edge set from maintained tables:
    base LSH edges (init) UNION the band-index probe's arrival-involving
    verified pairs (:func:`dedup_minhash_append`). Signatures are
    per-doc, so base-only banding equals full-corpus banding restricted
    to base pairs, and the probe sees every arrival-involving candidate —
    the same disjoint-partition argument as the exact set. This is the
    cluster-membership edge set the canonical-selection consumer
    partitions by (LSH edges, not exact: the batch operator's contract)."""
    lsh_path, _cc_path = _pair_lsh_cc(spark, sf_dir)
    return spark.read.parquet(lsh_path).unionByName(
        dedup_minhash_append(spark, sf_dir).select("doc_a", "doc_b")
    )


# --- incremental semantic dedup (embedding face) ---------------------------

def _sem_append_index(
    spark: SparkSession, sf_dir: str
) -> tuple[list, str, DataFrame]:
    """(cent_rows, store_path, pinned arrival probes): the semantic twin
    of the IVF append index. The coarse codebook comes from the SHARED
    base-trained session codebook (:func:`..similarity._ivf_append_index`
    — one training job serves search, PQ and dedup); the store holds each
    corpus vector's ``SEMDEDUP_PROBE`` probed-cell assignments partitioned
    by cell, so an arrival batch's near-dups are found by reading only the
    cells the batch probes. Arrivals are assigned with the FROZEN codebook
    and appended — O(batch x nlist) ingest, the corpus is never
    re-assigned."""
    from .similarity import (
        ARRIVAL_MOD,
        SEMDEDUP_PROBE,
        _assign_topk,
        _emb,
        _ivf_append_index,
    )

    def build() -> tuple[list, str, DataFrame]:
        emb = _emb(spark, sf_dir)
        base = emb.filter(F.col("vec_id") % ARRIVAL_MOD != 0)
        arrivals = emb.filter(F.col("vec_id") % ARRIVAL_MOD == 0)
        cent_rows, _path, _nlist = _ivf_append_index(spark, sf_dir)
        path = os.path.join(tempfile.mkdtemp(prefix="sem_idx_"), "probes")
        _assign_topk(base, cent_rows, SEMDEDUP_PROBE).write.partitionBy(
            "cl"
        ).parquet(path)
        arr_probes = _assign_topk(
            arrivals, cent_rows, SEMDEDUP_PROBE
        ).transform(pin)
        arr_probes.write.mode("append").partitionBy("cl").parquet(path)
        return cent_rows, path, arr_probes

    return once(
        spark,
        ("sem_append_index", sf_dir),
        build,
        lambda got: _rm_store_root(got[1]),
    )


def dedup_semantic_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup for an arrival batch against the maintained probe store:
    which NEW vectors duplicate the existing corpus (or each other), and
    their keeper. Output = :func:`..similarity.dedup_semantic`'s
    append-codebook replay restricted to arrival ``vec_id`` rows — an
    arrival's keeper search ranks over ALL its candidate mates (base and
    arrival), every one of which shares a probed cell with the arrival,
    so the cell-pruned probe sees the complete mate set and the
    restriction is exact (base rows' keepers are settled at index time;
    re-keying them to late arrivals is the periodic offline recluster's
    job, as in the ANN family).

    Cost: read ONLY the cells the batch probes (cell dirs collected —
    bounded by nlist), one (members x arrivals) BLAS block per cell —
    O(batch x probe x avg_cell), never corpus-pairwise."""
    import pandas as pd

    from .similarity import ARRIVAL_MOD, SEMDEDUP_COS

    _cent_rows, path, arr_probes = _sem_append_index(spark, sf_dir)
    cells = sorted(
        r["cl"] for r in arr_probes.select("cl").distinct().collect()
    )  # driver-bounded by nlist
    members = spark.read.option("basePath", path).parquet(
        *[os.path.join(path, f"cl={c}") for c in cells]
    ).select("vec_id", "v", F.col("cl").cast("int").alias("cl"))

    _MOD = ARRIVAL_MOD  # the vector-table arrival split
    _empty = pd.DataFrame(
        {"cl": [], "dup_of": [], "vec_id": [], "raw_cosine": []}
    )

    def _cell_new_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        new_mask = (pdf["vec_id"].to_numpy() % _MOD) == 0
        if not new_mask.any() or len(pdf) < 2:
            return _empty
        ids = pdf["vec_id"].to_numpy()
        V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        N = Vn[new_mask]
        nid = ids[new_mask]
        S = Vn @ N.T  # all-members x new — the batch-bounded block
        # (i, j): member i is a LOWER-id mate of new vector j
        keep = (S >= SEMDEDUP_COS - 1e-6) & (ids[:, None] < nid[None, :])
        ii, jj = np.nonzero(keep)
        if len(ii) == 0:
            return _empty
        return pd.DataFrame(
            {
                "cl": pdf["cl"].iloc[0],
                "dup_of": ids[ii],
                "vec_id": nid[jj],
                "raw_cosine": S[ii, jj],
            }
        )

    from pyspark.sql import Window

    pairs = (
        members.groupBy("cl")
        .applyInPandas(
            _cell_new_pairs, "cl int, dup_of long, vec_id long, raw_cosine double"
        )
        .withColumn("cosine", round_dbl(F.col("raw_cosine"), 6))
        .filter(F.col("cosine") >= SEMDEDUP_COS)
        .groupBy("dup_of", "vec_id")
        .agg(F.min("cl").alias("cl"), F.max("cosine").alias("cosine"))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("dup_of").asc()
    )
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "cl", "dup_of", "cosine")
    )


def _sem_append_oracle() -> str:
    from .similarity import (
        ARRIVAL_MOD,
        _CCOS_V,
        _KMEANS_CELLS_APPEND_WITH,
        _PCOS,
        SEMDEDUP_COS,
        SEMDEDUP_PROBE,
    )

    # the append-codebook semantic replay: train on base (`e`), probe
    # EVERYTHING (`eall`) with the frozen centroids, pairwise within
    # shared probed cells, keeper per vec — restricted to arrival rows
    return f"""{_KMEANS_CELLS_APPEND_WITH},
probed AS (
    SELECT vec_id, v, cl FROM (
        SELECT e2.vec_id, e2.v, c.cl,
            ROW_NUMBER() OVER (
                PARTITION BY e2.vec_id
                ORDER BY {_CCOS_V.replace("(v", "(e2.v").replace(" v[i]", " e2.v[i]")} DESC, c.cl ASC
            ) AS crank
        FROM eall e2 CROSS JOIN cent c
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
        ) WHERE cosine >= {SEMDEDUP_COS} AND vec_id % {ARRIVAL_MOD} = 0
        GROUP BY vec_id, dup_of
    )
) WHERE rk = 1"""


def register_all(register) -> None:
    register(
        "dedup_minhash_append", dedup_minhash_append, DEDUP_MINHASH_APPEND_ORACLE
    )
    register(
        "dedup_semantic_append", dedup_semantic_append, _sem_append_oracle()
    )

"""LLM-data operators: semantics beyond the oracle parity in test_registry."""

import os

from pyspark.sql import functions as F

from databricks_incremental_lakehouse_spark import memo
from databricks_incremental_lakehouse_spark.llmdata.dedup import (
    MAX_SHINGLE_DF,
    _shingles,
    dedup_embedding_cosine,
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
    dedup_ngram_jaccard_capped,
)
from databricks_incremental_lakehouse_spark.tables import load_table
from databricks_incremental_lakehouse_spark.llmdata.multimodal import (
    multimodal_features,
)
from databricks_incremental_lakehouse_spark.llmdata.similarity import (
    sim_hyperplane_lsh,
    sim_ivf_topk,
    sim_topk_bruteforce,
    sim_topk_vectorized,
)
from databricks_incremental_lakehouse_spark.llmdata.textstats import text_langid


def test_minhash_recall_vs_exact(spark, sf_correct):
    """LSH must recover (nearly) all true Jaccard>=0.8 pairs; with 4x4
    banding, P[miss] at s=0.8 is ~7% per pair — require >=70% recall and
    no false positives post-verification."""
    exact = {
        (r.doc_a, r.doc_b) for r in dedup_ngram_jaccard(spark, sf_correct).collect()
    }
    lsh = {(r.doc_a, r.doc_b) for r in dedup_minhash_lsh(spark, sf_correct).collect()}
    assert lsh <= exact  # verification step kills false positives
    if exact:
        assert len(lsh & exact) / len(exact) >= 0.7


def test_shingle_cap_binds_and_preserves_scores(spark, sf_correct):
    """The hot-shingle df cap must actually drop shingles on this corpus
    (else the guard is vacuous), and because verification is exact over
    the full arrays, every surviving pair carries the same score as the
    uncapped operator — the cap can only affect recall, never precision."""
    sh = _shingles(load_table(spark, sf_correct, "documents"))
    hot = (
        sh.groupBy("shingle")
        .count()
        .filter(F.col("count") > MAX_SHINGLE_DF)
        .count()
    )
    assert hot > 0, "cap does not bind at sf0.01 — raise test SF or lower cap"

    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_ngram_jaccard(spark, sf_correct).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_ngram_jaccard_capped(spark, sf_correct).collect()
    }
    assert set(capped) <= set(exact)
    for pair, jac in capped.items():
        assert jac == exact[pair]
    # true 0.8-Jaccard near-dups share many (mostly rare) shingles, so the
    # cap should lose little recall on this corpus
    if exact:
        assert len(capped) / len(exact) >= 0.9


def test_hyperplane_lsh_recall(spark, sf_correct):
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim_topk_bruteforce(spark, sf_correct).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in sim_hyperplane_lsh(spark, sf_correct).collect()
    }
    # approximate search: require meaningful overlap with the exact top-k
    assert len(approx & exact) / len(exact) >= 0.3


def test_knn_graph_recall(spark, sf_correct):
    """The k-NN GRAPH must hold search-grade recall (every row is a
    query): >= 0.8 of the exact brute-force top-K edges are present.
    Measured 0.39/0.57/0.82 at probe 2/4/8 on this structure-free corpus
    — KNN_PROBE=8 is the smallest width clearing the bar (same posture
    as the IVF search's nprobe=10/16)."""
    import numpy as np

    from databricks_incremental_lakehouse_spark.llmdata.similarity import (
        KNN_K,
        sim_knn_graph,
    )

    got = {
        (r.src_id, r.neighbor_id)
        for r in sim_knn_graph(spark, sf_correct).collect()
    }
    rows = (
        spark.read.parquet(f"{sf_correct}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows])
    V = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    ids, V = ids[order], V[order]
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = Vn @ Vn.T
    np.fill_diagonal(S, -np.inf)
    true = set()
    for i in range(len(ids)):
        for j in np.argsort(-S[i])[:KNN_K]:
            true.add((int(ids[i]), int(ids[j])))
    assert len(got & true) / len(true) >= 0.8


def test_ivf_kmeans_recall(spark, sf_correct):
    """IVF recall >= 0.8 vs the exact top-k (VERDICT r6 #6). This corpus'
    embeddings have no cosine cluster structure (4% of exact top-5
    neighbors share the generator's label), so recall tracks the scanned
    fraction — nprobe=10/16 is the smallest sweep config clearing 0.8
    (scripts/ivf_recall_sweep.py; measured 0.84 here)."""
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim_topk_bruteforce(spark, sf_correct).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in sim_ivf_topk(spark, sf_correct).collect()
    }
    assert len(ivf & exact) / len(exact) >= 0.8


def test_ivf_kmeans_recall_10x(spark):
    """The recall bar must hold on the 10x corpus too (VERDICT r6 #6).
    sf1ext replicates each vector 10x, so every query's true top-5 are
    exact copies that share its cell — recall is 1.0 by construction;
    the assertion pins that the probe path actually finds them."""
    import os

    sf = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".bench", "sf1ext")
    if not os.path.isdir(sf):
        import pytest

        pytest.skip("10x corpus not generated (scripts/make_sf1ext.py)")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim_topk_bruteforce(spark, sf).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in sim_ivf_topk(spark, sf).collect()
    }
    assert len(ivf & exact) / len(exact) >= 0.8


def test_vectorized_topk_equals_bruteforce(spark, sf_correct):
    """The numpy/Arrow path must find the same neighbor sets as the JVM
    zip_with baseline (ranks compared too — cosines round identically at
    6 dp on this data)."""
    exact = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim_topk_bruteforce(spark, sf_correct).collect()
    }
    vec = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in sim_topk_vectorized(spark, sf_correct).collect()
    }
    assert vec == exact


def test_langid_accuracy_on_latin_langs(spark, sf_correct):
    """The heuristic must beat chance on the labeled corpus (the synthetic
    text is English-ish word soup, so only en + zh are genuinely separable;
    check en recall and zh precision)."""
    df = text_langid(spark, sf_correct)
    en = df.filter(F.col("labeled_lang") == "en")
    en_hit = en.filter(F.col("predicted_lang") == "en").count()
    assert en.count() > 0
    assert en_hit / en.count() >= 0.5


def test_multimodal_plumbing(spark, sf_smoke):
    feats = multimodal_features(spark, sf_smoke)
    rows = feats.collect()
    assert len(rows) == 500
    r0 = next(r for r in rows if r.doc_id == 0)
    assert r0.n_bytes > 0 and 16 <= r0.width < 32 and 16 <= r0.height < 32
    # determinism: same payload -> same features
    again = next(r for r in multimodal_features(spark, sf_smoke).collect() if r.doc_id == 0)
    assert again == r0


def test_embedding_cosine_pairs_symmetric_threshold(spark, sf_correct):
    pairs = dedup_embedding_cosine(spark, sf_correct)
    assert pairs.filter(F.col("vec_a") >= F.col("vec_b")).count() == 0
    assert pairs.filter(F.col("cosine") < 0.95).count() == 0


def test_hll_estimate_within_error_bound(spark, sf_correct):
    """HLL with m=512 has theoretical std error 1.04/sqrt(512) ~= 4.6%;
    in the linear-counting regime (small n) it is tighter still. Require
    every group within 15% of exact — loose enough to never flake, tight
    enough that a broken rho/register computation (which produces wild
    estimates) fails loudly."""
    from databricks_incremental_lakehouse_spark.llmdata.sketches import (
        sketch_hll_distinct,
    )

    rows = sketch_hll_distinct(spark, sf_correct).collect()
    assert rows, "no event types"
    for r in rows:
        assert r.exact_distinct > 0
        assert abs(r.est_distinct - r.exact_distinct) / r.exact_distinct <= 0.15, (
            f"{r.event_type}: est={r.est_distinct} exact={r.exact_distinct}"
        )


def test_cms_never_underestimates_and_collides_when_narrow(spark, sf_correct):
    """Count-min estimates are >= exact for EVERY token (collisions only
    add). The synthetic vocabulary (~31 tokens) fits inside the default
    256-wide row, so the narrow w=16 variant forces the collision regime:
    there the sketch must still never underestimate AND must actually
    overcount somewhere (proving the bucket-fold arithmetic is real, not
    vacuously exact)."""
    from pyspark.sql import functions as SF

    from databricks_incremental_lakehouse_spark.llmdata.sketches import (
        cms_token_estimates,
    )

    wide = cms_token_estimates(spark, sf_correct)
    assert wide.filter(SF.col("est_count") < SF.col("exact_count")).count() == 0

    narrow = cms_token_estimates(spark, sf_correct, w=16)
    n_tokens = narrow.count()
    assert n_tokens > 16, "vocabulary must exceed the narrow row width"
    assert narrow.filter(SF.col("est_count") < SF.col("exact_count")).count() == 0
    assert narrow.filter(SF.col("est_count") > SF.col("exact_count")).count() > 0


def test_gopher_flags_discriminate_and_compose(spark, sf_correct):
    """Every quality gate that CAN vary on this corpus must produce both
    outcomes (a flag that never fires is a vacuous guard), the repetition
    metrics must agree with a per-doc python recomputation on a sample,
    and pass_gopher must equal the conjunction of its component flags."""
    from databricks_incremental_lakehouse_spark.llmdata.docquality import (
        text_quality_gopher,
    )

    rows = text_quality_gopher(spark, sf_correct).collect()
    assert rows
    for flag in ("pass_word_count", "pass_stopwords", "pass_repetition"):
        vals = {getattr(r, flag) for r in rows}
        assert vals == {True, False}, f"{flag} is vacuous on this corpus: {vals}"
    for r in rows:
        expect = (
            r.pass_word_count
            and r.pass_mean_word_len
            and r.pass_symbol_ratio
            and r.pass_stopwords
            and r.pass_repetition
        )
        assert r.pass_gopher == expect

    docs = {
        d.doc_id: d.text
        for d in load_table(spark, sf_correct, "documents").limit(25).collect()
    }
    by_id = {r.doc_id: r for r in rows}
    for doc_id, text in docs.items():
        toks = text.strip().lower().split()
        bgs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        top_bg = max((bgs.count(b) for b in set(bgs)), default=0)
        r = by_id[doc_id]
        assert r.n_words == len(toks)
        assert abs(r.dup_token_frac - (1 - len(set(toks)) / len(toks))) < 1e-3
        expected_topbgf = top_bg / len(bgs) if bgs else 0.0
        assert abs(r.top_bigram_frac - expected_topbgf) < 1e-3


def test_semantic_dedup_precision_and_recall(spark, sf_correct):
    """Every flagged duplicate must be a TRUE above-threshold pair
    (within-cell cosine is exact, so precision is 1.0 by construction --
    verify anyway), and the cluster bound must retain most of the
    brute-force duplicate set (cross-cell pairs are the only loss)."""
    import numpy as np

    from databricks_incremental_lakehouse_spark.llmdata.similarity import (
        SEMDEDUP_COS,
        dedup_semantic,
    )

    rows = dedup_semantic(spark, sf_correct).collect()
    assert rows, "threshold is vacuous on this corpus"

    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in load_table(spark, sf_correct, "embeddings").collect()
    }
    ids = sorted(emb)
    V = np.stack([emb[i] for i in ids])
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = np.round(Vn @ Vn.T, 6)

    pos = {i: k for k, i in enumerate(ids)}
    for r in rows:
        assert r.dup_of < r.vec_id
        assert r.cosine >= SEMDEDUP_COS
        assert abs(S[pos[r.dup_of], pos[r.vec_id]] - r.cosine) < 1e-4

    # brute-force duplicate set: vectors with ANY lower-id partner >= th
    true_dups = {
        ids[j]
        for j in range(len(ids))
        for i in range(j)
        if S[i, j] >= SEMDEDUP_COS
    }
    flagged = {r.vec_id for r in rows}
    assert flagged <= true_dups
    # multi-probe (N_PROBE=2) measured 0.83 on this corpus; single-cell
    # assignment gave 0.40 — the margin guards the probe machinery
    assert len(flagged) / len(true_dups) >= 0.7, (
        f"cluster-bounded recall too low: {len(flagged)}/{len(true_dups)}"
    )


def test_vocab_topk_exact_reference(spark, sf_correct):
    """Top-k token counts must equal a python Counter over the corpus,
    rank must follow (count desc, token asc)."""
    from collections import Counter

    from databricks_incremental_lakehouse_spark.llmdata.corpusstats import (
        VOCAB_TOP_K,
        vocab_topk,
    )

    rows = vocab_topk(spark, sf_correct).collect()

    occ = Counter()
    docs = Counter()
    for d in load_table(spark, sf_correct, "documents").collect():
        toks = d.text.strip().lower().split()
        occ.update(toks)
        docs.update(set(toks))
    # the synthetic vocabulary (~31 tokens) is smaller than the k cap
    assert len(rows) == min(VOCAB_TOP_K, len(occ))
    expect = sorted(occ.items(), key=lambda kv: (-kv[1], kv[0]))[:VOCAB_TOP_K]
    got = [(r.token, r.n_occurrences) for r in sorted(rows, key=lambda r: r.rank)]
    assert got == expect
    for r in rows:
        assert r.n_docs == docs[r.token]


def test_length_quantiles_match_percentile_disc(spark, sf_correct):
    """Cumulative-count quantiles must equal the per-group sorted-list
    PERCENTILE_DISC reference: smallest value at cumulative rank
    ceil(q*n)."""
    import math

    from databricks_incremental_lakehouse_spark.llmdata.corpusstats import (
        LENGTH_QUANTILES,
        text_length_quantiles,
    )

    rows = {r.lang: r for r in text_length_quantiles(spark, sf_correct).collect()}
    by_lang = {}
    for d in load_table(spark, sf_correct, "documents").collect():
        by_lang.setdefault(d.lang, []).append(len(d.text))
    assert set(rows) == set(by_lang)
    for lang, lens in by_lang.items():
        lens.sort()
        r = rows[lang]
        assert r.n_docs == len(lens)
        assert r.min_len == lens[0] and r.max_len == lens[-1]
        for q in LENGTH_QUANTILES:
            expect = lens[math.ceil(q * len(lens)) - 1]
            assert getattr(r, f"p{int(q * 100)}") == expect, (lang, q)


def test_embedding_quantize_roundtrip(spark, sf_correct):
    """Codes must stay in int8 range, per-component error is bounded by
    scale/2 (symmetric rounding), and dequantized vectors must preserve
    pairwise cosine to ~1% on this corpus."""
    import numpy as np

    from databricks_incremental_lakehouse_spark.llmdata.similarity import (
        embedding_quantize,
    )

    rows = {r.vec_id: r for r in embedding_quantize(spark, sf_correct).collect()}
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in load_table(spark, sf_correct, "embeddings").collect()
    }
    assert set(rows) == set(emb)
    deq = {}
    for vid, r in rows.items():
        # codes crosses the boundary as a comma-joined string (driver
        # pandas canonicalizer can't hash array cells, CORRECTNESS_r04)
        codes = np.array([int(c) for c in r.codes.split(",")])
        assert codes.min() >= -127 and codes.max() <= 127
        # 5e-7: max_abs_err is reported on a 6-dp rounding grid
        assert r.max_abs_err <= r.scale / 2 + 5e-7
        v = emb[vid]
        d = codes * r.scale
        assert abs(np.sqrt(((v - d) ** 2).mean()) - r.rms_err) < 1e-4
        deq[vid] = d

    ids = sorted(emb)[:50]
    V = np.stack([emb[i] for i in ids])
    D = np.stack([deq[i] for i in ids])
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    Dn = D / np.linalg.norm(D, axis=1, keepdims=True)
    assert np.abs(Vn @ Vn.T - Dn @ Dn.T).max() < 0.01


def test_histogram_quantile_bounds_and_mergeability(spark, sf_correct):
    """The histogram estimate must bracket the exact quantile from above
    within one bucket width, and the sketch state must be mergeable:
    building one histogram over the full table equals summing two
    histograms built over disjoint halves."""
    from databricks_incremental_lakehouse_spark.llmdata.sketches import (
        HIST_QUANTILES,
        HIST_WIDTH,
        sketch_histogram_quantiles,
    )

    rows = sketch_histogram_quantiles(spark, sf_correct).collect()
    assert rows
    for r in rows:
        for q in HIST_QUANTILES:
            est = getattr(r, f"est_p{int(q * 100)}")
            exact = getattr(r, f"exact_p{int(q * 100)}")
            assert exact <= est <= exact + HIST_WIDTH, (r.event_type, q)

    ev = load_table(spark, sf_correct, "events").select(
        "event_type", F.col("value").cast("double").alias("value")
    )
    bkt = F.floor(F.col("value") / F.lit(HIST_WIDTH)).cast("long")
    whole = {
        (r.event_type, r.bkt): r.c
        for r in ev.select("event_type", bkt.alias("bkt"))
        .groupBy("event_type", "bkt")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    merged = {}
    for half in (ev.filter("value < 50"), ev.filter("value >= 50")):
        for r in (
            half.select("event_type", bkt.alias("bkt"))
            .groupBy("event_type", "bkt")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        ):
            merged[(r.event_type, r.bkt)] = (
                merged.get((r.event_type, r.bkt), 0) + r.c
            )
    assert merged == whole


def test_unigram_logprob_reference(spark, sf_correct):
    """Scores must match a python recomputation of the corpus unigram
    model, and the score must actually rank documents (rare-token docs
    below common-token docs)."""
    import math
    from collections import Counter

    from databricks_incremental_lakehouse_spark.llmdata.corpusstats import (
        text_unigram_logprob,
    )

    docs = {
        d.doc_id: d.text.strip().lower().split()
        for d in load_table(spark, sf_correct, "documents").collect()
    }
    counts = Counter(t for toks in docs.values() for t in toks)
    total = sum(counts.values())

    rows = {r.doc_id: r for r in text_unigram_logprob(spark, sf_correct).collect()}
    assert set(rows) == set(docs)
    scores = {}
    for doc_id, toks in docs.items():
        lp = sum(math.log2(counts[t] / total) for t in toks) / len(toks)
        r = rows[doc_id]
        assert r.n_tokens == len(toks)
        assert abs(r.avg_logprob - lp) < 1e-3
        assert abs(r.perplexity - 2 ** -r.avg_logprob) < 0.01
        scores[doc_id] = lp
    # the score separates documents (not a constant)
    assert max(scores.values()) - min(scores.values()) > 0.1


def test_substring_spans_reference(spark, sf_correct):
    """Span output must equal a python reference: windows repeated across
    documents, merged into maximal intervals; spans must exist, never
    overlap within a doc, and cover only flagged window positions."""
    from collections import defaultdict

    from databricks_incremental_lakehouse_spark.llmdata.dedup import (
        SPAN_WINDOW,
        dedup_substring_spans,
    )

    docs = {
        d.doc_id: d.text.strip().lower().split()
        for d in load_table(spark, sf_correct, "documents").collect()
    }
    by_win = defaultdict(set)
    for doc_id, toks in docs.items():
        for i in range(len(toks) - SPAN_WINDOW + 1):
            by_win[" ".join(toks[i : i + SPAN_WINDOW])].add(doc_id)
    expect = {}
    for doc_id, toks in docs.items():
        hits = [
            i + 1
            for i in range(len(toks) - SPAN_WINDOW + 1)
            if len(by_win[" ".join(toks[i : i + SPAN_WINDOW])]) > 1
        ]
        spans = []
        for p in hits:
            if spans and p <= spans[-1][1]:
                spans[-1] = (spans[-1][0], max(spans[-1][1], p + SPAN_WINDOW))
            else:
                spans.append((p, p + SPAN_WINDOW))
        if spans:
            expect[doc_id] = spans

    got = defaultdict(list)
    for r in dedup_substring_spans(spark, sf_correct).collect():
        got[r.doc_id].append((r.span_id, r.start_pos, r.end_pos))
    assert set(got) == set(expect)
    for doc_id, spans in got.items():
        spans.sort()
        assert [(s, e) for (_i, s, e) in spans] == expect[doc_id]
    assert expect, "no duplicated spans on this corpus — operator vacuous"


def test_ccnet_buckets_tercile_split(spark, sf_correct):
    """Buckets must split the corpus into thirds (up to score ties), the
    ordering must hold (every tail score <= every middle <= every head),
    and tied scores must share a bucket."""
    from collections import Counter

    from databricks_incremental_lakehouse_spark.llmdata.corpusstats import (
        text_ccnet_buckets,
    )

    rows = text_ccnet_buckets(spark, sf_correct).collect()
    n = len(rows)
    sizes = Counter(r.ppl_bucket for r in rows)
    assert set(sizes) == {"head", "middle", "tail"}
    for b in sizes:
        assert abs(sizes[b] - n / 3) <= n * 0.05 + 5, sizes
    hi = {b: max(r.avg_logprob for r in rows if r.ppl_bucket == b) for b in sizes}
    lo = {b: min(r.avg_logprob for r in rows if r.ppl_bucket == b) for b in sizes}
    assert hi["tail"] <= lo["middle"] and hi["middle"] <= lo["head"]
    by_score = {}
    for r in rows:
        by_score.setdefault(r.avg_logprob, set()).add(r.ppl_bucket)
    assert all(len(v) == 1 for v in by_score.values())


def test_substring_clean_reference(spark, sf_correct):
    """Cleaned text must equal a python reference (tokens covered by a
    non-canonical repeated window removed; globally-first occurrence
    kept), and the canonical copy of every repeated window must survive
    somewhere in the cleaned corpus."""
    from collections import defaultdict

    from databricks_incremental_lakehouse_spark.llmdata.dedup import (
        SPAN_WINDOW,
        dedup_substring_clean,
    )

    docs = {
        d.doc_id: d.text.strip().lower().split()
        for d in load_table(spark, sf_correct, "documents").collect()
    }
    occurrences = defaultdict(list)
    for doc_id in sorted(docs):
        toks = docs[doc_id]
        for i in range(len(toks) - SPAN_WINDOW + 1):
            occurrences[" ".join(toks[i : i + SPAN_WINDOW])].append((doc_id, i))
    expect = {}
    removed_counts = {}
    for doc_id, toks in docs.items():
        covered = [False] * len(toks)
        for i in range(len(toks) - SPAN_WINDOW + 1):
            occ = occurrences[" ".join(toks[i : i + SPAN_WINDOW])]
            if len({d for d, _p in occ}) > 1 and min(occ) != (doc_id, i):
                for t in range(i, i + SPAN_WINDOW):
                    covered[t] = True
        expect[doc_id] = " ".join(
            t for t, c in zip(toks, covered) if not c
        )
        removed_counts[doc_id] = sum(covered)

    got = {r.doc_id: r for r in dedup_substring_clean(spark, sf_correct).collect()}
    assert set(got) == set(expect)
    for doc_id in expect:
        assert got[doc_id].clean_text == expect[doc_id], doc_id
        assert got[doc_id].n_tokens_removed == removed_counts[doc_id]
    assert any(removed_counts.values()), "nothing removed — operator vacuous"
    # canonical survival: every repeated window still exists in the corpus
    cleaned_tokens = {d: r.clean_text.split() for d, r in got.items()}
    all_windows = set()
    for toks in cleaned_tokens.values():
        for i in range(len(toks) - SPAN_WINDOW + 1):
            all_windows.add(" ".join(toks[i : i + SPAN_WINDOW]))
    surviving = sum(
        1
        for w, occ in occurrences.items()
        if len({d for d, _p in occ}) > 1 and w in all_windows
    )
    repeated = sum(1 for occ in occurrences.values() if len({d for d, _p in occ}) > 1)
    # merged-span removal may clip a canonical window's neighbors, so not
    # every repeated window literally survives — but the large majority must
    assert surviving / repeated > 0.8, (surviving, repeated)


def test_frame_sample_cardinality_and_values(spark, sf_correct):
    """Frame sampling must emit exactly ceil(ceil(n/32)/4) rows per doc
    (every 4th fixed-size chunk), with byte-exact per-frame statistics."""
    import math

    from databricks_incremental_lakehouse_spark.llmdata.multimodal import (
        FRAME_BYTES,
        FRAME_SAMPLE_EVERY,
        multimodal_frame_sample,
    )

    docs = {
        d.doc_id: d.text.encode("utf-8")
        for d in load_table(spark, sf_correct, "documents").collect()
    }
    rows = multimodal_frame_sample(spark, sf_correct).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, payload in docs.items():
        n_frames = math.ceil(len(payload) / FRAME_BYTES)
        expect_idx = list(range(0, n_frames, FRAME_SAMPLE_EVERY))
        got = sorted(by_doc[doc_id], key=lambda r: r.frame_idx)
        assert [r.frame_idx for r in got] == expect_idx
        for r in got:
            fb = payload[r.frame_idx * FRAME_BYTES : (r.frame_idx + 1) * FRAME_BYTES]
            assert r.n_frame_bytes == len(fb)
            assert r.frame_first_byte == fb[0]
            assert abs(r.frame_byte_mean - sum(fb) / len(fb)) < 1e-9
    # the 1:N expansion actually happened
    assert len(rows) > len(docs)


def test_vocab_pmi_topk_reference_model(spark, sf_correct):
    """PMI lift must match an independent Python count model, descend with
    rank, and respect the minimum pair support."""
    from collections import Counter

    from databricks_incremental_lakehouse_spark.llmdata.corpusstats import (
        PMI_MIN_PAIR,
        PMI_TOP_K,
        vocab_pmi_topk,
    )

    uni, pairs = Counter(), Counter()
    for r in load_table(spark, sf_correct, "documents").collect():
        if r.text is None:
            continue
        toks = r.text.strip().lower().split()
        uni.update(toks)
        pairs.update(zip(toks, toks[1:]))
    n, m = sum(uni.values()), sum(pairs.values())

    rows = vocab_pmi_topk(spark, sf_correct).collect()
    assert 0 < len(rows) <= PMI_TOP_K
    prev = None
    for r in sorted(rows, key=lambda r: r.rank):
        c_pair = pairs[(r.w1, r.w2)]
        assert c_pair == r.c_pair and c_pair >= PMI_MIN_PAIR
        expect = (c_pair * n * n) / (m * uni[r.w1] * uni[r.w2])
        assert abs(r.pmi_lift - expect) < 1e-4
        assert prev is None or r.pmi_lift <= prev + 1e-9
        prev = r.pmi_lift


def test_sim_ivf_indexed_matches_from_scratch(spark, sf_correct):
    """The materialized-index search must return exactly the from-scratch
    IVF results (same centroids, same probes), and the per-sf_dir index
    memo must serve the second call without retraining."""
    from databricks_incremental_lakehouse_spark.llmdata.similarity import (
        sim_ivf_topk,
        sim_ivf_topk_indexed,
    )

    fresh = {tuple(r) for r in sim_ivf_topk(spark, sf_correct).collect()}
    got = {tuple(r) for r in sim_ivf_topk_indexed(spark, sf_correct).collect()}
    assert got == fresh and len(got) > 0
    path_before = memo.get(spark, ("ivf_index", sf_correct))[1]
    again = {tuple(r) for r in sim_ivf_topk_indexed(spark, sf_correct).collect()}
    assert again == fresh
    assert memo.get(spark, ("ivf_index", sf_correct))[1] == path_before


def test_dedup_embedding_cosine_threshold_matches_numpy(spark, sf_correct):
    """At a threshold below the corpus max cosine the pair query must be
    non-vacuous and agree exactly with a numpy reference (the registered
    0.95 threshold matches nothing at test SF, so this guards the kernel's
    margin/filter logic where the driver row cannot)."""
    import numpy as np

    from databricks_incremental_lakehouse_spark.llmdata.dedup import (
        dedup_embedding_cosine,
    )

    rows = sorted(
        load_table(spark, sf_correct, "embeddings").collect(), key=lambda r: r.vec_id
    )
    m = np.array([[float(x) for x in r.embedding] for r in rows])
    ids = [r.vec_id for r in rows]
    norms = np.linalg.norm(m, axis=1)
    cos = (m @ m.T) / np.outer(norms, norms)
    thr = 0.45
    want = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            c = round(cos[i, j], 6)
            if c >= thr:
                want.add((ids[i], ids[j], c))
    got = {
        (r.vec_a, r.vec_b, round(r.cosine, 6))
        for r in dedup_embedding_cosine(spark, sf_correct, threshold=thr).collect()
    }
    assert len(got) > 0, "threshold produced no pairs — test is vacuous"
    assert got == want


def test_pagerank_matches_integer_reference(spark, sf_correct):
    """The distributed fixed-point PageRank must equal, to the exact
    integer, an independent python reimplementation of the recurrence
    over the same (separately oracle-verified) edge list — integer
    arithmetic makes bit-equality a fair ask where float PageRank could
    only be compared within a tolerance."""
    from databricks_incremental_lakehouse_spark.llmdata.graph import (
        PR_ITERS,
        PR_SCALE,
        graph_pagerank,
    )

    pairs = [
        (r.doc_a, r.doc_b)
        for r in dedup_ngram_jaccard(spark, sf_correct).collect()
    ]
    assert pairs, "corpus has no near-dup pairs — test is vacuous"
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    n = len(adj)
    pr = {v: PR_SCALE // n for v in adj}
    for _ in range(PR_ITERS):
        nxt = {}
        for v in adj:
            s = sum(pr[u] // len(adj[u]) for u in adj[v])
            nxt[v] = (15 * (PR_SCALE // n)) // 100 + (85 * s) // 100
        pr = nxt
    got = {r.doc_id: r.pr_scaled for r in graph_pagerank(spark, sf_correct).collect()}
    assert got == pr


def test_canonical_selection_picks_cluster_hub(spark, sf_correct):
    """Every cluster member must share one canonical doc, the canonical
    must be the member with the highest PageRank (min doc_id on ties),
    and singleton docs must be their own canonical."""
    from databricks_incremental_lakehouse_spark.llmdata.graph import (
        dedup_canonical_selection,
        graph_pagerank,
    )

    pr = {r.doc_id: r.pr_scaled for r in graph_pagerank(spark, sf_correct).collect()}
    rows = dedup_canonical_selection(spark, sf_correct).collect()
    clusters: dict = {}
    for r in rows:
        clusters.setdefault(r.cluster_id, []).append(r)
    multi = 0
    for members in clusters.values():
        canon = {r.canonical_doc_id for r in members}
        assert len(canon) == 1
        best = sorted(members, key=lambda r: (-pr.get(r.doc_id, -1), r.doc_id))[0]
        assert canon == {best.doc_id}
        assert sum(r.is_canonical for r in members) == 1
        if len(members) > 1:
            multi += 1
        else:
            assert members[0].doc_id == members[0].canonical_doc_id
    assert multi > 0, "no multi-member clusters — test is vacuous"


def test_tfidf_topterms_matches_counter_reference(spark, sf_correct):
    """Per-doc top terms must match a python Counter reference computing
    tf * N / df with the same (score desc, token asc) tie-break."""
    from collections import Counter

    from databricks_incremental_lakehouse_spark.llmdata.corpusstats import (
        TFIDF_TOP_TERMS,
        text_tfidf_topterms,
    )

    docs = {
        r.doc_id: r.text.lower().split()
        for r in load_table(spark, sf_correct, "documents").collect()
    }
    n = len(docs)
    df = Counter()
    for toks in docs.values():
        df.update(set(toks))
    want = {}
    for did, toks in docs.items():
        tf = Counter(toks)
        scored = sorted(
            ((-(t * n) / df[tok], tok) for tok, t in tf.items())
        )[:TFIDF_TOP_TERMS]
        want[did] = [tok for _s, tok in scored]
    got = {}
    for r in text_tfidf_topterms(spark, sf_correct).collect():
        got.setdefault(r.doc_id, {})[r.term_rank] = r.token
        assert r.df == df[r.token] and r.tf > 0
    assert set(got) == set(want)
    for did, ranks in got.items():
        assert [ranks[i] for i in sorted(ranks)] == want[did], did


def test_kmv_overlap_estimates_partial_jaccard(spark, tmp_path):
    """The driver corpus is degenerate for KMV (every event type covers
    all 150 users -> Jaccard 1.0 everywhere), so the estimator's actual
    job — partial overlap — is exercised on a planted corpus: X = users
    0..999, Y = 500..1499, true Jaccard 1/3, union 1500. With k=64 the
    relative error is ~1/sqrt(k) = 12.5%; assert inside 3 sigma, plus the
    exact columns are exactly right."""
    from databricks_incremental_lakehouse_spark.llmdata.sketches import (
        sketch_kmv_overlap,
    )

    rows = [("X", u) for u in range(1000)] + [("Y", u) for u in range(500, 1500)]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "event_type string, user_id long"
    ).coalesce(1).write.parquet(f"{sf}/events.parquet")

    [r] = sketch_kmv_overlap(spark, sf).collect()
    assert (r.ta, r.tb) == ("X", "Y")
    assert r.exact_common == 500
    assert abs(r.est_jaccard - 1 / 3) < 0.15
    assert abs(r.est_union - 1500) / 1500 < 0.4
    assert abs(r.est_common - 500) / 500 < 0.5


def test_kmv_unfull_sketch_is_exact(spark, tmp_path):
    """When the merged union has fewer than KMV_K distinct hashes the
    sketch holds the ENTIRE union, so every output column must be exact
    (ADVICE r5: the tail estimator biased low in this regime — degenerate
    at m=1 it reported est_union=0 alongside est_jaccard=1.0)."""
    from databricks_incremental_lakehouse_spark.llmdata.sketches import (
        KMV_K,
        sketch_kmv_overlap,
    )

    rows = [("X", u) for u in range(30)] + [("Y", u) for u in range(10, 40)]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "event_type string, user_id long"
    ).coalesce(1).write.parquet(f"{sf}/events.parquet")

    [r] = sketch_kmv_overlap(spark, sf).collect()
    assert 40 < KMV_K  # the regime under test: union smaller than the sketch
    assert r.est_union == 40
    assert r.est_jaccard == 0.5
    assert r.est_common == 20 == r.exact_common


def test_bloom_membership_guarantees(spark, sf_correct):
    """Bloom's contract: NO false negatives (every probe is present in its
    own source's filter) and a small false-positive rate elsewhere (m=1024,
    k=4 over ~tens of docs per source => expected FP well under 5%)."""
    from databricks_incremental_lakehouse_spark.llmdata.sketches import (
        BLOOM_K,
        sketch_bloom_membership,
    )

    own = {
        r.doc_id: r.source
        for r in load_table(spark, sf_correct, "documents")
        .select("doc_id", "source")
        .filter(F.col("doc_id") < 20)
        .collect()
    }
    rows = sketch_bloom_membership(spark, sf_correct).collect()
    others = hits = 0
    for r in rows:
        assert 0 <= r.n_hits <= BLOOM_K
        if own[r.probe_doc_id] == r.source:
            assert r.present, f"false negative: {r.probe_doc_id} in {r.source}"
        else:
            others += 1
            hits += int(r.present)
    assert others > 0 and hits / others < 0.05


def test_quantized_topk_recall_vs_exact(spark, sf_correct):
    """The SQ8 two-stage search must (a) agree with the exact baseline's
    cosine value on every pair it returns (re-rank IS full precision) and
    (b) recover nearly all true top-5 neighbors — int8 reconstruction
    error on 64-dim vectors is far too small to push a true neighbor out
    of a 4x candidate budget; require >=90% recall and verify the
    approximation is non-trivially exercised (quantized ordering differs
    from exact somewhere in the candidate pass)."""
    from databricks_incremental_lakehouse_spark.llmdata.similarity import (
        sim_topk_quantized,
    )

    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in sim_topk_bruteforce(spark, sf_correct).collect()
    }
    quant = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in sim_topk_quantized(spark, sf_correct).collect()
    }
    assert len(quant) == len(exact) > 0
    common = set(exact) & set(quant)
    assert len(common) / len(exact) >= 0.9
    for k in common:
        assert exact[k] == quant[k], k


def test_ivf_quantized_recall_and_exact_rerank(spark, sf_correct):
    """The composed IVF+SQ8 search must (a) recover >=90% of what the
    UNQUANTIZED search over the same probed cells returns (isolating the
    SQ8 candidate pass — probe recall is the same index, so it cancels),
    (b) agree with the plain IVF search's exact cosine on every common
    pair (the re-rank is full precision), and (c) lose nothing vs brute
    force BEYOND what the probe itself loses: recall(quantized vs exact)
    must match recall(plain IVF vs exact). (The probe's own recall on
    this synthetic near-random corpus is ~50% at nprobe=2/8 — true
    neighbors scatter across cells when there is no cluster structure;
    that is the plain IVF trade, not a quantization loss.)"""
    from databricks_incremental_lakehouse_spark.llmdata.similarity import (
        sim_ivf_topk_indexed,
        sim_ivf_topk_quantized,
    )

    ivf = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in sim_ivf_topk_indexed(spark, sf_correct).collect()
    }
    ivf_q = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in sim_ivf_topk_quantized(spark, sf_correct).collect()
    }
    assert len(ivf_q) == len(ivf) > 0
    common = set(ivf) & set(ivf_q)
    assert len(common) / len(ivf) >= 0.9
    for k in common:
        assert ivf[k] == ivf_q[k], k
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim_topk_bruteforce(spark, sf_correct).collect()
    }
    recall_plain = len(set(ivf) & exact) / len(exact)
    recall_quant = len(set(ivf_q) & exact) / len(exact)
    assert recall_quant >= recall_plain - 0.05


def test_knn_tie_saturation_emits_smallest_id(spark, tmp_path):
    """ADVICE r4: with more near-exact ties than the kernel's TOPC=8
    candidate budget (here 12 identical vectors), argpartition alone may
    truncate the smallest-id tie; the saturation guard must emit the full
    tied set so every duplicate's nearest neighbor is the SMALLEST other
    duplicate id — the cross-engine tie-break contract."""
    import numpy as np

    from databricks_incremental_lakehouse_spark.llmdata.dedup import (
        dedup_embedding_cosine_knn,
    )

    rng = np.random.default_rng(7)
    dup = rng.normal(size=8).tolist()
    rows = [(100 + i, [float(x) for x in dup]) for i in range(12)]
    rows += [
        (200 + i, [float(x) for x in rng.normal(size=8)]) for i in range(5)
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).coalesce(1).write.parquet(f"{sf}/embeddings.parquet")

    nn = {r.vec_id: r.nn_vec_id for r in dedup_embedding_cosine_knn(spark, sf).collect()}
    for i in range(12):
        expect = 100 if 100 + i != 100 else 101
        assert nn[100 + i] == expect, (100 + i, nn[100 + i])


def test_quadratic_baseline_row_guard(spark, sf_correct, monkeypatch):
    """Above the configurable ceiling the quadratic baselines must refuse
    to materialize the matrix and point at the bounded-work scale paths."""
    import pytest

    from databricks_incremental_lakehouse_spark.llmdata.dedup import (
        dedup_embedding_cosine_knn,
    )

    monkeypatch.setenv("SPARK_GRAFT_BASELINE_MAX_ROWS", "10")
    with pytest.raises(ValueError, match="sim_ivf_topk"):
        dedup_embedding_cosine_knn(spark, sf_correct)


def test_fast_hash_mode(spark, sf_correct):
    """SPARK_GRAFT_FAST_HASH swaps the md5 family for xxhash64: the LSH
    plan must contain xxhash64 (and no md5), a PLANTED exact duplicate must
    share every band key with its original (identical shingles collide
    under ANY hash family), and the exact-dedup canonical count must be
    unchanged (content identity is hash-agnostic). The corpus has no
    natural exact dups at this SF, so the duplicate is planted."""
    from databricks_incremental_lakehouse_spark.llmdata import texthash
    from databricks_incremental_lakehouse_spark.llmdata.dedup import (
        dedup_exact,
        minhash_bands,
    )

    docs = load_table(spark, sf_correct, "documents").select("doc_id", "text")
    src = docs.limit(3).collect()
    planted = spark.createDataFrame(
        [(1_000_000 + r.doc_id, r.text) for r in src], "doc_id long, text string"
    )
    corpus = docs.unionByName(planted)
    portable_canon = dedup_exact(spark, sf_correct).count()

    texthash.set_fast_hash(True)
    try:
        bands = minhash_bands(corpus)
        plan = bands._jdf.queryExecution().executedPlan().toString()
        assert "xxhash64" in plan
        assert "md5" not in plan
        keys = {}
        for r in bands.collect():
            keys.setdefault(r.doc_id, set()).add((r.band, r.band_key))
        for r in src:
            assert keys[r.doc_id] == keys[1_000_000 + r.doc_id], (
                "planted exact duplicate does not share its original's "
                "band keys under fast hash"
            )
        assert dedup_exact(spark, sf_correct).count() == portable_canon
    finally:
        texthash.set_fast_hash(False)


def test_sq8_store_codes_clamp_to_int8(spark, tmp_path):
    """The cell store's tinyint codes must CLAMP at +/-127 instead of
    wrapping: scale's 9-dp rounding can shrink it enough that
    round(x/scale) = 128 for a max-magnitude component (e.g. max|v| =
    6.375e-7 -> true scale 5.019...e-9 rounds to 5e-9 -> 127.5 -> 128),
    and Spark's non-ANSI tinyint cast would wrap that to -128 while the
    DuckDB oracle's INT arithmetic kept +128 — flipping the
    reconstructed cosine. Build the store over a planted corpus that hits
    the boundary and assert every code is in [-127, 127] and the
    boundary component clamps to exactly 127."""
    import numpy as np

    from databricks_incremental_lakehouse_spark.llmdata import similarity as S

    rng = np.random.default_rng(3)
    rows = []
    for vid in range(24):
        v = (rng.normal(size=8) * 1e-7).tolist()
        v[0] = 6.375e-7  # max component; scale rounds DOWN to 5e-9
        rows.append((vid, [float(x) for x in v], "a"))
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    ).coalesce(1).write.parquet(f"{sf}/embeddings.parquet")

    _cent, path, _nlist = S._ivf_index(spark, sf)
    cells = spark.read.parquet(path).collect()
    assert cells
    hit_boundary = False
    for r in cells:
        for c, x in zip(r.codes, r.v):
            assert -127 <= c <= 127, (r.vec_id, c)
            if r.scale > 0 and round(abs(x) / r.scale) >= 128:
                hit_boundary = True
                assert abs(c) == 127
    assert hit_boundary, "planted corpus failed to reach the 128 boundary"


def test_bm25_invariants_and_plan(spark, sf_correct):
    """BM25 retrieval invariants: per query, ranks are 1..k contiguous,
    scores non-increasing, terms_hit bounded by the query's term count;
    and the plan broadcasts the tiny query-term relation (the posting
    prune that keeps everything downstream of the explode bounded by the
    query terms at any corpus size)."""
    from databricks_incremental_lakehouse_spark.llmdata.corpusstats import (
        BM25_QUERIES,
        BM25_TOP_K,
        search_bm25_topk,
    )

    df = search_bm25_topk(spark, sf_correct)
    plan = df._jdf.queryExecution().toString()
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan
    rows = df.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(BM25_QUERIES)
    for qid, qrows in by_q.items():
        qrows.sort(key=lambda r: r.rank)
        n_terms = len(set(BM25_QUERIES[qid].split()))
        assert [r.rank for r in qrows] == list(range(1, len(qrows) + 1))
        assert len(qrows) <= BM25_TOP_K
        scores = [r.score for r in qrows]
        assert scores == sorted(scores, reverse=True)
        assert all(1 <= r.terms_hit <= n_terms for r in qrows)


def test_bm25_matches_python_reference(spark, sf_correct):
    """The distributed BM25 must equal a straightforward single-process
    reference (Counter-based tf/df, float arithmetic) on ranking — the
    same independent-implementation check tfidf has. Scores are compared
    at 4dp (the reference sums plain floats; the operator sums exact
    decimals)."""
    from collections import Counter

    from databricks_incremental_lakehouse_spark.llmdata.corpusstats import (
        BM25_B,
        BM25_K1,
        BM25_QUERIES,
        BM25_TOP_K,
        search_bm25_topk,
    )
    from databricks_incremental_lakehouse_spark.llmdata.texthash import tokenize
    from databricks_incremental_lakehouse_spark.tables import load_table

    docs = (
        load_table(spark, sf_correct, "documents")
        .select("doc_id", tokenize(F.col("text")).alias("toks"))
        .collect()
    )
    tf = {r.doc_id: Counter(r.toks) for r in docs}
    dl = {d: sum(c.values()) for d, c in tf.items()}
    n_docs = len(dl)
    avgdl = sum(dl.values()) / n_docs
    df = Counter()
    for c in tf.values():
        df.update(set(c))

    def score(qid, d):
        s = 0.0
        hit = 0
        for t in set(BM25_QUERIES[qid].split()):
            if tf[d][t] == 0:
                continue
            hit += 1
            idf = (n_docs - df[t] + 0.5) / (df[t] + 0.5)
            sat = (tf[d][t] * (BM25_K1 + 1)) / (
                tf[d][t] + BM25_K1 * (1 - BM25_B + BM25_B * dl[d] / avgdl)
            )
            s += idf * sat
        return s, hit

    expected = {}
    for qid in BM25_QUERIES:
        scored = [
            (d, *score(qid, d)) for d in tf if score(qid, d)[1] > 0
        ]
        scored.sort(key=lambda x: (-x[1], x[0]))
        expected[qid] = [
            (rank + 1, d, round(s, 4), hit)
            for rank, (d, s, hit) in enumerate(scored[:BM25_TOP_K])
        ]

    got = {}
    for r in search_bm25_topk(spark, sf_correct).collect():
        got.setdefault(r.query_id, []).append(
            (r.rank, r.doc_id, round(r.score, 4), r.terms_hit)
        )
    for qid in got:
        got[qid].sort()
    assert got == expected


def test_hll_rollup_merge_identity_and_error(spark, sf_correct):
    """Merging hour sketches must equal sketching the day directly
    (register-max associativity — the property that makes grain rollups
    scan-free), and the daily estimates must stay inside the same 15%
    band the per-type HLL test uses."""
    from databricks_incremental_lakehouse_spark.llmdata.sketches import (
        HLL_M,
        HLL_P,
        HLL_W,
        sketch_hll_rollup_daily,
    )
    from databricks_incremental_lakehouse_spark.llmdata.texthash import hash60
    from databricks_incremental_lakehouse_spark.tables import load_table

    rows = sketch_hll_rollup_daily(spark, sf_correct).collect()
    assert rows
    for r in rows:
        assert 1 <= r.n_hours <= 24
        assert abs(r.est_distinct - r.exact_distinct) / r.exact_distinct <= 0.15

    # merge identity: day-grain registers via hourly merge == direct
    events = load_table(spark, sf_correct, "events")
    h = hash60(F.col("user_id").cast("string"))
    reg = events.select(
        F.to_date("ts").alias("day"),
        F.hour("ts").alias("hour"),
        h.bitwiseAND(F.lit(HLL_M - 1)).alias("idx"),
        F.shiftright(h, HLL_P).alias("rest"),
    ).withColumn(
        "rho",
        F.when(F.col("rest") == 0, F.lit(HLL_W + 1)).otherwise(
            F.lit(HLL_W + 1) - F.length(F.bin("rest"))
        ),
    )
    direct = {
        (r.day, r.idx): r.m
        for r in reg.groupBy("day", "idx").agg(F.max("rho").alias("m")).collect()
    }
    merged = {
        (r.day, r.idx): r.m
        for r in reg.groupBy("day", "hour", "idx")
        .agg(F.max("rho").alias("m"))
        .groupBy("day", "idx")
        .agg(F.max("m").alias("m"))
        .collect()
    }
    assert merged == direct


def test_pii_redaction_matches_python_reference(spark, sf_correct):
    """Spark's redacted text must equal a python ``re`` recomputation
    byte-for-byte on the same augmented input, and the redacted output
    must contain no residual PII pattern (the guarantee a scrub pass
    exists to provide)."""
    import re

    from databricks_incremental_lakehouse_spark.llmdata.pii import (
        EMAIL_RE,
        IP_RE,
        PHONE_RE,
        _augmented,
        pii_scrub_frame,
    )
    from databricks_incremental_lakehouse_spark.tables import load_table

    docs = load_table(spark, sf_correct, "documents").select(
        "doc_id", _augmented(F.col("doc_id"), F.col("text")).alias("text")
    )
    rows = pii_scrub_frame(docs).collect()
    assert rows
    any_phone = any_ip = 0
    for r in rows:
        expect = re.sub(
            PHONE_RE,
            "<PHONE>",
            re.sub(IP_RE, "<IP>", re.sub(EMAIL_RE, "<EMAIL>", r.text)),
        )
        assert r.redacted == expect
        assert r.n_email == len(re.findall(EMAIL_RE, r.text)) >= 1
        assert r.n_phone == len(re.findall(PHONE_RE, r.text))
        assert r.n_ip == len(re.findall(IP_RE, r.text))
        for pat in (EMAIL_RE, PHONE_RE, IP_RE):
            assert not re.search(pat, r.redacted)
        any_phone += r.n_phone
        any_ip += r.n_ip
    assert any_phone and any_ip  # the injection exercised every family


def test_ivf_append_ingests_without_rebuild(spark, sf_correct, tmp_path):
    """The ingest path must leave every base cell file byte-untouched
    (append = posting-list append, never a rewrite), land the arrivals in
    the same cl-partitioned layout, and make them findable by the search
    — the no-retrain contract of incremental index maintenance."""
    import os

    from databricks_incremental_lakehouse_spark.llmdata.similarity import (
        ARRIVAL_MOD,
        _assign_to,
        _emb,
        _kmeans_cells,
        _sq8_codes,
        _sq8_scale,
        sim_ivf_append_search,
    )

    emb = _emb(spark, sf_correct)
    base = emb.filter(F.col("vec_id") % ARRIVAL_MOD != 0)
    arrivals = emb.filter(F.col("vec_id") % ARRIVAL_MOD == 0)
    cent_rows, cells, _nlist = _kmeans_cells(base)
    path = str(tmp_path / "cells")
    cells.withColumn("scale", _sq8_scale("v")).withColumn(
        "codes", _sq8_codes("v", "scale")
    ).write.partitionBy("cl").parquet(path)

    def _files():
        out = {}
        for root, _dirs, names in os.walk(path):
            for n in names:
                if n.endswith(".parquet"):
                    fp = os.path.join(root, n)
                    out[fp] = os.path.getsize(fp)
        return out

    before = _files()
    _assign_to(arrivals, cent_rows).withColumn(
        "scale", _sq8_scale("v")
    ).withColumn("codes", _sq8_codes("v", "scale")).write.mode(
        "append"
    ).partitionBy("cl").parquet(path)
    after = _files()

    # every pre-ingest file survives with identical size; new files appeared
    assert set(before) <= set(after)
    assert all(after[f] == sz for f, sz in before.items())
    assert len(after) > len(before)

    # store now holds the full corpus, still cl-partitioned
    store = spark.read.parquet(path)
    assert store.count() == emb.count()
    n_arr = arrivals.count()
    assert store.filter(F.col("vec_id") % ARRIVAL_MOD == 0).count() == n_arr

    # ingested vectors are findable: the search returns arrival neighbors
    res = sim_ivf_append_search(spark, sf_correct)
    arrived_hits = res.filter(
        (F.col("neighbor_id") % ARRIVAL_MOD == 0)
    ).count()
    assert arrived_hits > 0


def test_hard_negatives_match_python_reference(spark, sf_smoke):
    """Independent numpy replay of hard-negative mining: exact
    different-label top-K_NEG over the shared-probed-cell candidate set,
    full-precision scores rounded on the same grid. Validates the
    kernel's per-cell slack-threshold pre-selection (the provable-superset
    claim) end to end — every (anchor, rank) -> (negative, cosine) must
    match exactly."""
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from databricks_incremental_lakehouse_spark.llmdata.similarity import (
        K_NEG,
        SEMDEDUP_PROBE,
        _assign_topk,
        _emb,
        _kmeans_cells,
        sim_hard_negatives,
    )

    emb = _emb(spark, sf_smoke)
    cent_rows, _, _nlist = _kmeans_cells(emb)
    probed = _assign_topk(emb, cent_rows, SEMDEDUP_PROBE, extra=("label",))
    rows = probed.collect()

    by_cell = defaultdict(list)
    vec, lab = {}, {}
    for r in rows:
        by_cell[r.cl].append(r.vec_id)
        vec[r.vec_id] = np.asarray(r.v, dtype=np.float64)
        lab[r.vec_id] = r.label

    cands = defaultdict(set)
    for members in by_cell.values():
        for a in members:
            for b in members:
                if a != b and lab[a] != lab[b]:
                    cands[a].add(b)

    def cos6(a, b):
        va, vb = vec[a], vec[b]
        raw = float(va @ vb) / (np.linalg.norm(va) * np.linalg.norm(vb))
        return float(Decimal(repr(raw)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    want = {}
    for a, negs in cands.items():
        ranked = sorted(((cos6(a, n), -n) for n in negs), reverse=True)[:K_NEG]
        want[a] = [(-negid, c) for c, negid in ranked]

    got = defaultdict(list)
    res = sim_hard_negatives(spark, sf_smoke).collect()
    for r in sorted(res, key=lambda r: (r.anchor_id, r.rank)):
        assert r.anchor_label != r.negative_label
        got[r.anchor_id].append((r.negative_id, r.cosine))

    assert dict(got) == want
    assert len(want) > 0 and all(len(v) == K_NEG for v in want.values())


def test_boilerplate_flags_planted_templates_only(spark, sf_smoke):
    """Discrimination contract of the boilerplate report: every document
    carrying the planted per-source template flags heavy with at least
    the 7 fully-inside template shingles; every control doc (doc_id %
    BOILER_AUG_MOD == 0) reports zero boilerplate — the natural corpus
    has no within-source repetition at the df threshold."""
    from databricks_incremental_lakehouse_spark.llmdata.boilerplate import (
        BOILER_AUG_MOD,
        text_boilerplate_report,
    )

    rows = text_boilerplate_report(spark, sf_smoke).collect()
    assert len(rows) > 0
    planted = [r for r in rows if r.doc_id % BOILER_AUG_MOD != 0]
    control = [r for r in rows if r.doc_id % BOILER_AUG_MOD == 0]
    assert planted and control
    assert all(r.is_boiler_heavy and r.n_boiler >= 7 for r in planted)
    assert all(r.n_boiler == 0 and not r.is_boiler_heavy for r in control)


def test_bpe_merges_match_python_reference(spark, sf_smoke):
    """Independent python replay of classic BPE (Sennrich et al.: count
    overlapping adjacent pairs weighted by word frequency, merge the
    argmax left-to-right non-overlapping, lexical tiebreak) — the learned
    merge table must match rank for rank, and merged symbols must grow
    (a rank-2+ merge building on an earlier merged symbol proves the
    iterations actually compose)."""
    from collections import Counter

    from databricks_incremental_lakehouse_spark.llmdata.bpe import (
        BPE_MERGES,
        END_MARK,
        _word_freqs,
        vocab_bpe_merges,
    )

    freqs = {r.word: r.freq for r in _word_freqs(spark, sf_smoke).collect()}
    seqs = {w: tuple(w) + (END_MARK,) for w in freqs}

    want = []
    for rank in range(1, BPE_MERGES + 1):
        stats = Counter()
        for w, syms in seqs.items():
            for a, b in zip(syms, syms[1:]):
                stats[(a, b)] += freqs[w]
        (a, b), cnt = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((rank, f"{a} {b}", a + b, cnt))
        for w, syms in seqs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == (a, b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            seqs[w] = tuple(out)

    got = [
        (r.merge_rank, r.pair, r.merged, r.pair_count)
        for r in vocab_bpe_merges(spark, sf_smoke).orderBy("merge_rank").collect()
    ]
    assert got == want
    # some merge must BUILD ON an earlier merge's output symbol (a side
    # that is multi-char and not the bare end marker) — the iterations
    # demonstrably compose rather than only pairing raw characters
    assert any(
        any(len(side) > 1 and side != END_MARK for side in p.split(" "))
        for _, p, _, _ in got
    )


def test_bpe_apply_matches_python_encoder(spark, sf_smoke):
    """Independent python replay of the ENCODE side: train merges in pure
    python (same classic-BPE reference as the training test), encode
    every word occurrence greedily rank-by-rank, and compare the full
    (doc_id, word_pos, sym_pos, token_id, symbol) surface row-for-row.
    This is the oracle-blind check — a merge-application bug mirrored in
    both engines' replay (the r7 BPE lesson) cannot hide from it."""
    from collections import Counter

    from databricks_incremental_lakehouse_spark.llmdata.bpe import (
        BPE_MERGES,
        END_MARK,
        _word_freqs,
        tokenize_bpe_apply,
    )

    freqs = {r.word: r.freq for r in _word_freqs(spark, sf_smoke).collect()}
    seqs = {w: tuple(w) + (END_MARK,) for w in freqs}
    for _rank in range(1, BPE_MERGES + 1):
        stats = Counter()
        for w, syms in seqs.items():
            for a, b in zip(syms, syms[1:]):
                stats[(a, b)] += freqs[w]
        if not stats:
            break
        (a, b), _ = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        for w, syms in seqs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == (a, b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            seqs[w] = tuple(out)

    vocab = {
        s: i + 1
        for i, s in enumerate(sorted({s for syms in seqs.values() for s in syms}))
    }
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet").select(
        "doc_id", "text"
    )
    want = set()
    for row in docs.collect():
        words = (row.text or "").strip().lower().split()
        for wp, w in enumerate(words):
            if w == "":
                continue
            for sp, sym in enumerate(seqs[w]):
                want.add((row.doc_id, wp, sp, vocab[sym], sym))

    got = {
        (r.doc_id, r.word_pos, r.sym_pos, r.token_id, r.symbol)
        for r in tokenize_bpe_apply(spark, sf_smoke).collect()
    }
    assert got == want


def test_bpe_merge_pass_is_greedy_nonoverlapping(spark):
    """The merge rewrite must implement BPE's greedy left-to-right scan
    exactly — including back-to-back occurrences that share a delimiter
    in the naive single-spaced replace (' x y x y ' -> ' xy x y ', the
    r7 self-review catch) and the self-pair run where greedy merges only
    alternate occurrences ('a a a' -> 'aa a')."""
    from databricks_incremental_lakehouse_spark.llmdata.bpe import _merge_pair_col

    cases = [
        ("x y x y x y", "x y", "xy xy xy"),
        ("q x y z", "x y", "q xy z"),
        ("a a a", "a a", "aa a"),
        ("a a a a", "a a", "aa aa"),
        ("a a a a a", "a a", "aa aa a"),
        ("x y", "a b", "x y"),
        ("er </w>", "er </w>", "er</w>"),
    ]
    df = spark.createDataFrame([(s, p, w) for s, p, w in cases], "seq string, pair string, want string")
    for s, p, want in cases:
        got = (
            df.filter((F.col("seq") == s) & (F.col("pair") == p))
            .select(_merge_pair_col("seq", p).alias("out"))
            .first()
            .out
        )
        assert got == want, (s, p, got, want)


def test_containment_catches_jaccard_invisible_pairs(spark, sf_correct):
    """The containment pass must surface pairs the Jaccard threshold
    structurally misses: at least one reported pair has jaccard below the
    near-dup threshold (a short doc inside a long one), every pair's
    contained side is the smaller (or equal-size lower-id) document, and
    containment >= the declared fraction."""
    from databricks_incremental_lakehouse_spark.llmdata.dedup import (
        CONTAINMENT_DEN,
        CONTAINMENT_NUM,
        JACCARD_THRESHOLD,
        dedup_containment,
    )

    rows = dedup_containment(spark, sf_correct).collect()
    assert rows
    assert any(r.jaccard < JACCARD_THRESHOLD for r in rows)
    assert all(
        r.containment >= CONTAINMENT_NUM / CONTAINMENT_DEN - 1e-9 for r in rows
    )
    assert all(r.contained_doc != r.container_doc for r in rows)


def test_ivf_pq_recall(spark, sf_correct):
    """IVF-PQ recall >= 0.8 vs the exact top-k at the shipped
    (PQ_KSUB, PQ_CAND_K) config — swept 0.48 at (16,20), 0.86/0.84 at
    (32,200) on sf0.01/sf0.1 (see llmdata/pq.py constants note)."""
    from databricks_incremental_lakehouse_spark.llmdata.pq import sim_ivf_topk_pq

    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim_topk_bruteforce(spark, sf_correct).collect()
    }
    pq = {
        (r.query_id, r.neighbor_id)
        for r in sim_ivf_topk_pq(spark, sf_correct).collect()
    }
    assert len(pq & exact) / len(exact) >= 0.8


def test_ivf_pq_residual_recall(spark, sf_correct):
    """Residual encoding (by_residual=true) must hold the same >=0.8
    recall lock AND never fall below the flat encode at the identical
    (PQ_KSUB, PQ_CAND_K) budget — swept flat 0.86/0.84 vs residual
    0.86/0.90 at sf0.01/sf0.1 (sf0.01 is probe-bounded: both encodings
    saturate the coarse-probe ceiling there; the residual gain shows
    where cells are crowded)."""
    from databricks_incremental_lakehouse_spark.llmdata.pq import (
        sim_ivf_topk_pq,
        sim_ivf_topk_pq_residual,
    )

    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim_topk_bruteforce(spark, sf_correct).collect()
    }
    flat = {
        (r.query_id, r.neighbor_id)
        for r in sim_ivf_topk_pq(spark, sf_correct).collect()
    }
    res = {
        (r.query_id, r.neighbor_id)
        for r in sim_ivf_topk_pq_residual(spark, sf_correct).collect()
    }
    r_res = len(res & exact) / len(exact)
    assert r_res >= 0.8
    assert r_res >= len(flat & exact) / len(exact)


def test_ivf_pq_append_recall(spark, sf_correct):
    """The post-ingest PQ index (frozen base-trained codebooks, arrivals
    encoded without retrain) must hold the same >=0.8 recall lock vs the
    exact top-k over the FULL corpus — the append path serves the same
    queries, so ingest-without-retrain may not cost the recall bar."""
    from databricks_incremental_lakehouse_spark.llmdata.pq import (
        sim_ivf_pq_append_search,
    )

    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim_topk_bruteforce(spark, sf_correct).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in sim_ivf_pq_append_search(spark, sf_correct).collect()
    }
    assert len(got & exact) / len(exact) >= 0.8


def test_phash_search_banding_exact_at_radius(spark, sf_correct):
    """At radius PHASH_BANDS - 1 the band-bucket candidate cover is EXACT
    (pigeonhole: <= 3 differing bits cannot touch all 4 bands), so the
    search must equal a brute-force Hamming scan of the same hashes —
    including any extra in-radius corpus items beyond each exemplar's
    own source."""
    from databricks_incremental_lakehouse_spark.llmdata.multimodal import (
        N_MEDIA_QUERIES,
        PHASH_SEARCH_MAX,
        fake_phash,
        multimodal_phash_search,
    )

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_correct, "documents").collect()
        if r.text is not None
    }
    corpus = {d: fake_phash(t.encode()) for d, t in docs.items()}
    queries = {
        d: fake_phash(("X" + t[1:]).encode())
        for d, t in docs.items()
        if d < N_MEDIA_QUERIES
    }
    brute = {
        (q, d, bin(qh ^ ph).count("1"))
        for q, qh in queries.items()
        for d, ph in corpus.items()
        if bin(qh ^ ph).count("1") <= PHASH_SEARCH_MAX
    }
    got = {
        (r.query_id, r.match_id, r.hamming_distance)
        for r in multimodal_phash_search(spark, sf_correct).collect()
    }
    assert got == brute
    assert brute, "planted exemplars produced no in-radius matches"


def test_pack_ids_bins_dense_and_consistent(spark, sf_correct):
    """tokenize_pack_ids must tile the corpus token stream exactly: every
    bin except the last holds CONTEXT_LEN tokens at offsets 0..511 with
    no gaps or repeats, and each document's slots are contiguous in
    (doc order) — the memory-mappable contract a loader relies on."""
    from databricks_incremental_lakehouse_spark.llmdata.bpe import tokenize_pack_ids
    from databricks_incremental_lakehouse_spark.llmdata.curation import CONTEXT_LEN

    rows = tokenize_pack_ids(spark, sf_correct).collect()
    total = len(rows)
    slots = {(r.bin_id, r.bin_pos) for r in rows}
    assert len(slots) == total, "duplicate (bin, offset) slots"
    n_bins = max(r.bin_id for r in rows) + 1
    # global positions are exactly 0..total-1
    assert slots == {(g // CONTEXT_LEN, g % CONTEXT_LEN) for g in range(total)}
    # docs occupy contiguous global ranges in doc_id order
    by_doc = {}
    for r in rows:
        g = r.bin_id * CONTEXT_LEN + r.bin_pos
        lo, hi = by_doc.get(r.doc_id, (g, g))
        by_doc[r.doc_id] = (min(lo, g), max(hi, g))
    prev_end = -1
    for d in sorted(by_doc):
        lo, hi = by_doc[d]
        assert lo == prev_end + 1, f"doc {d} not contiguous after {prev_end}"
        prev_end = hi
    assert n_bins == (total + CONTEXT_LEN - 1) // CONTEXT_LEN


def test_dedup_minhash_append_probe_is_exact_and_pruned(spark, sf_correct):
    """The maintained band index's probe must (a) hash-equal the full
    batch LSH restricted to arrival-involving pairs — MinHash has no
    trained state, so incremental == batch exactly, (b) append arrivals
    without touching base store files (the ingest contract), and (c)
    return at least one arrival-involving pair at the correctness SF so
    the assertion is non-vacuous."""
    import os

    from databricks_incremental_lakehouse_spark.llmdata.dedup import (
        dedup_minhash_lsh,
    )
    from databricks_incremental_lakehouse_spark.llmdata.incrdedup import (
        _dedup_band_index,
        dedup_minhash_append,
    )
    from databricks_incremental_lakehouse_spark.llmdata.incrstats import (
        DOC_ARRIVAL_MOD,
    )

    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup_minhash_append(spark, sf_correct).collect()
    }
    assert got, "no arrival-involving near-dup pairs at sf_correct"
    assert all(
        a % DOC_ARRIVAL_MOD == 0 or b % DOC_ARRIVAL_MOD == 0
        for a, b, _ in got
    )
    want = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup_minhash_lsh(spark, sf_correct).collect()
        if r.doc_a % DOC_ARRIVAL_MOD == 0 or r.doc_b % DOC_ARRIVAL_MOD == 0
    }
    assert got == want

    # ingest appended: base files byte-untouched, arrival rows present
    path, arr_bands = _dedup_band_index(spark, sf_correct)
    store = spark.read.option("basePath", path).parquet(path)
    n_arr = arr_bands.count()
    assert n_arr > 0
    assert (
        store.filter(F.col("doc_id") % DOC_ARRIVAL_MOD == 0).count() == n_arr
    )


def test_dedup_semantic_append_arrival_contract(spark, sf_correct):
    """The semantic append probe must emit only arrival-side dup rows,
    find at least one (non-vacuous), append the arrival probes without
    touching base store files, and agree with a direct numpy replay of
    the probed-cell candidate semantics on the appended store."""
    import os

    import numpy as np

    from databricks_incremental_lakehouse_spark.llmdata.incrdedup import (
        _sem_append_index,
        dedup_semantic_append,
    )
    from databricks_incremental_lakehouse_spark.llmdata.similarity import (
        ARRIVAL_MOD,
        SEMDEDUP_COS,
    )

    rows = dedup_semantic_append(spark, sf_correct).collect()
    assert rows, "no arrival dup rows at sf_correct"
    assert all(r.vec_id % ARRIVAL_MOD == 0 for r in rows)
    assert all(r.dup_of < r.vec_id for r in rows)
    assert all(r.cosine >= SEMDEDUP_COS for r in rows)

    # numpy replay over the store: candidates share a probed cell; the
    # keeper is the highest-cosine lower-id mate (lowest id on ties)
    _c, path, _arr = _sem_append_index(spark, sf_correct)
    store = spark.read.option("basePath", path).parquet(path).collect()
    by_cell = {}
    vecs = {}
    for r in store:
        by_cell.setdefault(r.cl, []).append(r.vec_id)
        vecs[r.vec_id] = np.asarray(r.v, dtype=np.float64)
    best = {}
    for cell, members in by_cell.items():
        for j in members:
            if j % ARRIVAL_MOD != 0:
                continue
            vj = vecs[j] / np.linalg.norm(vecs[j])
            for i in members:
                if i >= j:
                    continue
                vi = vecs[i] / np.linalg.norm(vecs[i])
                c = round(float(vi @ vj), 6)
                if c < SEMDEDUP_COS:
                    continue
                cur = best.get(j)
                if cur is None or (c, -i) > (cur[0], -cur[1]):
                    best[j] = (c, i)
    got = {r.vec_id: (r.cosine, r.dup_of) for r in rows}
    assert set(got) == set(best)
    for j, (c, i) in best.items():
        assert got[j][1] == i
        assert abs(got[j][0] - c) < 2e-6


def test_band_store_lifecycle_rebucket_and_compact(spark, sf_correct):
    """VERDICT r10 #1 — the maintained stores' lifecycle: re-bucketing the
    band store to a new bucket count and bin-packing its partition dirs
    must leave probe results BYTE-IDENTICAL (the join key is the value
    column; buckets only route reads), update the sidecar meta the probe
    prunes from, and preserve every stored row."""
    import os

    from databricks_incremental_lakehouse_spark.llmdata.incrdedup import (
        _dedup_band_index,
        probe_band_store,
    )
    from databricks_incremental_lakehouse_spark.operators.layout import (
        compact_store,
        read_store_meta,
        rebucket_store,
        table_file_stats,
    )
    from databricks_incremental_lakehouse_spark.tables import load_table

    path, arr_bands = _dedup_band_index(spark, sf_correct)
    docs = load_table(spark, sf_correct, "documents")
    before = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in probe_band_store(spark, path, arr_bands, docs).collect()
    )
    assert before, "vacuous: no pairs at the correctness SF"
    rows_before = spark.read.parquet(path).count()
    assert read_store_meta(path)["num_buckets"] == 64

    rebucket_store(spark, path, "band_key", 256)
    assert read_store_meta(path)["num_buckets"] == 256
    dirs = {
        d for d in os.listdir(path) if d.startswith("bucket=")
    }
    assert all(0 <= int(d.split("=")[1]) < 256 for d in dirs)
    assert len(dirs) > 64, "rebucket did not widen the bucket layout"
    assert spark.read.parquet(path).count() == rows_before
    after_rebucket = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in probe_band_store(spark, path, arr_bands, docs).collect()
    )
    assert after_rebucket == before

    compacted = compact_store(spark, path)
    assert all(
        n_files == 1 for _rel, n_files, _b in table_file_stats(path)
    ), "compaction left multi-file bucket dirs"
    assert spark.read.parquet(path).count() == rows_before
    after_compact = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in probe_band_store(spark, path, arr_bands, docs).collect()
    )
    assert after_compact == before
    # compaction result recorded (some dirs had an append wave to pack)
    assert isinstance(compacted, dict)


def test_store_memo_clear_removes_temp_dirs(spark, sf_correct, sf_smoke):
    """VERDICT r10 #1 — no orphaned ``dedup_idx_*``/``sem_idx_*``, IVF/PQ
    append, maintained-warehouse or drained-sink temp dirs after the memo
    clear: every store's backing dir dies with the memo entry that owns
    it."""
    from databricks_incremental_lakehouse_spark.llmdata import incrsketch, incrstats
    from databricks_incremental_lakehouse_spark.llmdata.incrdedup import (
        _dedup_band_index,
        _sem_append_index,
    )
    from databricks_incremental_lakehouse_spark.llmdata.pq import (
        _pq_append_index_for,
    )
    from databricks_incremental_lakehouse_spark.llmdata.similarity import (
        _ivf_append_index,
    )
    from databricks_incremental_lakehouse_spark.streaming import refresh
    from databricks_incremental_lakehouse_spark.streaming.windows import (
        stream_tumbling_hourly,
    )

    band_path, _ = _dedup_band_index(spark, sf_correct)
    _c, sem_path, _a = _sem_append_index(spark, sf_correct)
    _c2, ivf_path, _n = _ivf_append_index(spark, sf_correct)
    _pq_append_index_for(spark, sf_correct)
    _cb, pq_path = memo.get(spark, ("pq_append_index", sf_correct))
    stream_tumbling_hourly(spark, sf_smoke)
    sink = memo.get(spark, ("tumbling_hourly_stream", sf_smoke))
    refresh._refreshed_warehouse(spark, sf_smoke)
    roots = [
        os.path.dirname(p.rstrip("/"))
        for p in (band_path, sem_path, ivf_path, pq_path, sink)
    ] + [
        incrstats._warehouse_for(spark, sf_smoke),
        incrsketch._warehouse_for(spark, sf_smoke),
        memo.get(spark, ("refresh_warehouse", sf_smoke)),
    ]
    for r in roots:
        assert os.path.isdir(r)
    memo.clear()
    for r in roots:
        assert not os.path.exists(r), f"orphaned store dir after clear: {r}"


def test_graph_pagerank_update_only_matches_batch(spark, sf_correct):
    """VERDICT r10 #6 — the maintained ranking must hash-equal the batch
    recompute exactly (identical edge partition: base edges from init,
    arrival-involving edges from the bucket-pruned shingle-index probe;
    integer fixed-point body). Also checks the probe half alone against
    the batch pair set restricted to arrival-involving pairs."""
    from databricks_incremental_lakehouse_spark.llmdata.dedup import (
        dedup_ngram_jaccard,
    )
    from databricks_incremental_lakehouse_spark.llmdata.graph import (
        graph_pagerank,
        graph_pagerank_update_only,
    )
    from databricks_incremental_lakehouse_spark.llmdata.incrdedup import (
        exact_pairs_for_arrivals,
    )
    from databricks_incremental_lakehouse_spark.llmdata.incrstats import (
        DOC_ARRIVAL_MOD,
    )

    got_pairs = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in exact_pairs_for_arrivals(spark, sf_correct).collect()
    }
    assert got_pairs, "vacuous: no arrival-involving exact pairs"
    want_pairs = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup_ngram_jaccard(spark, sf_correct).collect()
        if r.doc_a % DOC_ARRIVAL_MOD == 0 or r.doc_b % DOC_ARRIVAL_MOD == 0
    }
    assert got_pairs == want_pairs

    batch = {
        (r.doc_id, r.pr_scaled, r.rank)
        for r in graph_pagerank(spark, sf_correct).collect()
    }
    maint = {
        (r.doc_id, r.pr_scaled, r.rank)
        for r in graph_pagerank_update_only(spark, sf_correct).collect()
    }
    assert maint == batch


def test_sqrt_nprobe_mode_matches_oracle_formula():
    """The ``sqrt`` nprobe mode (clustered-corpus sub-linear default,
    r11) must compute identically in python and in the DuckDB expression
    baked into the oracle params CTE — the same cross-engine mirror
    contract as the default 5/8 dial."""
    import duckdb

    from databricks_incremental_lakehouse_spark.llmdata.similarity import (
        _sqrt_nprobe,
    )

    con = duckdb.connect()
    for nlist in list(range(1, 300)) + [1024, 2048, 4096]:
        sql = con.execute(
            f"SELECT LEAST({nlist}, GREATEST(4, "
            f"2 * CAST(CEIL(SQRT({nlist})) AS INT)))"
        ).fetchone()[0]
        assert _sqrt_nprobe(nlist) == sql, nlist


def test_canonical_selection_update_only_matches_batch(spark, sf_correct):
    """The maintained canonical-keeper must equal the batch recompute row
    for row: maintained LSH edges partition cluster membership, maintained
    exact edges carry centrality, same deterministic keeper window."""
    from databricks_incremental_lakehouse_spark.llmdata.graph import (
        dedup_canonical_selection,
        dedup_canonical_selection_update_only,
    )

    batch = {
        (r.doc_id, r.cluster_id, r.canonical_doc_id, r.is_canonical)
        for r in dedup_canonical_selection(spark, sf_correct).collect()
    }
    maint = {
        (r.doc_id, r.cluster_id, r.canonical_doc_id, r.is_canonical)
        for r in dedup_canonical_selection_update_only(
            spark, sf_correct
        ).collect()
    }
    assert maint == batch
    assert any(not r[3] for r in maint), "vacuous: no non-canonical rows"


def test_maintained_cc_labels_equal_batch_fixpoint(spark, sf_correct):
    """VERDICT r11 #1 — the incremental component merge (stored base
    labels + quotient union-find over arrival pairs) must reproduce the
    batch label-propagation fixpoint over the full maintained LSH edge
    set EXACTLY, and non-vacuously: the arrival batch must actually merge
    something (a remap or a direct label), else the quotient path was
    never exercised."""
    from databricks_incremental_lakehouse_spark.llmdata.curation import (
        connected_components,
    )
    from databricks_incremental_lakehouse_spark.llmdata.incrdedup import (
        dedup_minhash_append,
        maintained_cc_labels,
        maintained_lsh_pairs,
    )
    from databricks_incremental_lakehouse_spark.tables import load_table

    inc = {
        (r.doc_id, r.canonical_id)
        for r in maintained_cc_labels(spark, sf_correct).collect()
    }
    docs = load_table(spark, sf_correct, "documents").select("doc_id")
    bat = {
        (r.doc_id, r.canonical_id)
        for r in connected_components(
            docs, maintained_lsh_pairs(spark, sf_correct)
        ).collect()
    }
    assert inc == bat
    assert dedup_minhash_append(spark, sf_correct).count() > 0, (
        "vacuous: no arrival pairs — the incremental merge did no work"
    )


def test_probe_reads_only_touched_buckets(spark, sf_correct):
    """The maintained indexes' pruning claim, asserted on the ACTUAL file
    set: every store file a probe plan reads must live under a bucket
    directory the arrival batch's keys hash to (sidecar-meta count), and
    the exact-pair probe must read STRICTLY fewer files than the store
    holds whenever some bucket is untouched."""
    import os

    from databricks_incremental_lakehouse_spark.llmdata.incrdedup import (
        _exact_pair_index,
        exact_pairs_for_arrivals,
    )
    from databricks_incremental_lakehouse_spark.operators.layout import (
        read_store_meta,
    )
    from pyspark.sql import functions as F

    sh_path, _e, _l, _cc, arr_sh = _exact_pair_index(spark, sf_correct)
    n = read_store_meta(sh_path)["num_buckets"]
    touched = {
        r["b"]
        for r in arr_sh.select(
            F.pmod(F.xxhash64("shingle"), F.lit(n)).alias("b")
        )
        .distinct()
        .collect()
    }
    probe_files = [
        f for f in exact_pairs_for_arrivals(spark, sf_correct).inputFiles()
        if sh_path in f
    ]
    assert probe_files, "probe plan reads no store files?"
    for f in probe_files:
        seg = [s for s in f.split(os.sep) if s.startswith("bucket=")]
        assert seg and int(seg[0].split("=")[1]) in touched, f
    all_store_files = [
        f
        for f in spark.read.parquet(sh_path).inputFiles()
        if sh_path in f
    ]
    if len(touched) < n:
        assert len(probe_files) < len(all_store_files)


def test_recluster_ivf_store_equals_full_trained_search(spark, sf_correct):
    """r11 lifecycle, ANN face: the offline recluster (retrain on the
    full current corpus + rebuild the cell store in place) must make the
    append index's search results EXACTLY equal the full-corpus-trained
    sim_ivf_topk — the drift the frozen-codebook append contract accepts
    between recluster runs is erased. Restores the append-semantics
    index afterwards so later parity tests see the registered contract."""
    from databricks_incremental_lakehouse_spark.llmdata.similarity import (
        _IVF_APPEND,
        recluster_ivf_store,
        sim_ivf_append_search,
        sim_ivf_topk,
    )

    def rows(df):
        return {(r.query_id, r.neighbor_id, r.cosine, r.rank) for r in df.collect()}

    before = rows(sim_ivf_append_search(spark, sf_correct))
    full = rows(sim_ivf_topk(spark, sf_correct))
    assert before != full, "vacuous: frozen-codebook drift absent at this SF"

    recluster_ivf_store(spark, sf_correct)
    after = rows(sim_ivf_append_search(spark, sf_correct))
    assert after == full

    # restore: drop the reclustered store so the next consumer rebuilds
    # the registered frozen-codebook append index
    _cent, path, _n = memo.get(spark, (_IVF_APPEND, sf_correct))
    memo.drop(spark, (_IVF_APPEND, sf_correct))
    assert not os.path.exists(path)
    restored = rows(sim_ivf_append_search(spark, sf_correct))
    assert restored == before


def test_maintenance_thresholds_resolution(monkeypatch):
    """Env override > configs/{env}.json block > inline default — the
    text_stats_mode resolution order, per knob."""
    import pytest

    from databricks_incremental_lakehouse_spark.llmdata.maintenance import (
        MAINT_DEFAULTS,
        maintenance_thresholds,
    )

    monkeypatch.delenv("SPARK_GRAFT_ENV", raising=False)
    thr = maintenance_thresholds()
    # dev config carries the block; defaults and config agree on dev
    assert thr["rebucket_rows_per_bucket"] == 2000
    assert thr["recluster_arrival_fraction"] == 0.25

    # config layer: prod tightens the file budget
    monkeypatch.setenv("SPARK_GRAFT_ENV", "prod")
    assert maintenance_thresholds()["compact_files_per_dir"] == 3

    # env layer beats config, with type coercion
    monkeypatch.setenv("SPARK_GRAFT_MAINT_COMPACT_FILES_PER_DIR", "9")
    assert maintenance_thresholds()["compact_files_per_dir"] == 9

    # unparsable override is LOUD (r12 review): a typo'd operational knob
    # must not silently revert to the default
    monkeypatch.setenv("SPARK_GRAFT_MAINT_COMPACT_FILES_PER_DIR", "junk")
    with pytest.raises(ValueError, match="COMPACT_FILES_PER_DIR"):
        maintenance_thresholds()
    assert set(thr) == set(MAINT_DEFAULTS)


def test_maintenance_report_policy(spark, sf_correct):
    """The report battery: one row per (store, job), every signal
    measured, and the due flag exactly (value vs threshold). Fresh
    session stores at sf0.01 sit at their design size, so the default
    thresholds flag NOTHING; tightening every threshold below the
    measured values must flag EVERYTHING — the due arithmetic, not the
    store state, is what's under test."""
    from databricks_incremental_lakehouse_spark.llmdata.maintenance import (
        maintenance_report,
    )

    rep = maintenance_report(spark, sf_correct).collect()
    jobs = {(r.store, r.job) for r in rep}
    assert jobs == {
        ("dedup_band_index", "rebucket"),
        ("dedup_band_index", "compact"),
        ("dedup_band_index", "vacuum"),
        ("shingle_pair_index", "rebucket"),
        ("shingle_pair_index", "compact"),
        ("shingle_pair_index", "vacuum"),
        ("ivf_append_index", "recluster"),
        ("ivf_append_index", "compact"),
        ("ivf_append_index", "vacuum"),
    }
    assert all(not r.due for r in rep), [
        (r.store, r.job, r.value, r.threshold) for r in rep if r.due
    ]
    # the recluster signal is the actual arrival split, not zero
    frac = {r.job: r.value for r in rep if r.store == "ivf_append_index"}[
        "recluster"
    ]
    assert 0.05 < frac < 0.25  # ~1/9 arrivals over the 90% trained base

    tight = maintenance_report(
        spark,
        sf_correct,
        thresholds={
            "rebucket_rows_per_bucket": 0,
            "recluster_arrival_fraction": 0.0,
            "compact_files_per_dir": 0,
            "vacuum_debris_dirs": 0,
        },
    ).collect()
    assert all(r.due for r in tight), [
        (r.store, r.job, r.value) for r in tight if not r.due
    ]


def test_maintenance_recluster_resets_arrival_fraction(spark, sf_correct):
    """recluster_ivf_store retrains on the full corpus and restamps
    trained_rows, so the policy's recluster signal returns to zero —
    the cadence loop a deployment actually runs. Restores the
    frozen-codebook append store afterwards (the registered contract)."""
    from databricks_incremental_lakehouse_spark.llmdata.maintenance import (
        maintenance_report,
    )
    from databricks_incremental_lakehouse_spark.llmdata.similarity import (
        _IVF_APPEND,
        recluster_ivf_store,
    )

    recluster_ivf_store(spark, sf_correct)
    try:
        rep = maintenance_report(spark, sf_correct).collect()
        frac = {
            r.job: r.value for r in rep if r.store == "ivf_append_index"
        }["recluster"]
        assert frac == 0.0
    finally:
        memo.drop(spark, (_IVF_APPEND, sf_correct))


def test_run_due_maintenance_executes_and_clears(spark, sf_smoke):
    """VERDICT r12 #3 — the executor consumes the report's due rows and
    runs the matching lifecycle job per store: drive every signal past
    its threshold, run the executor once (all jobs SUCCESS), re-query the
    report at the SAME thresholds (nothing due — every job resets its own
    signal), and run the executor again (a no-op: nothing executed, all
    nine stages skipped)."""
    import os

    from databricks_incremental_lakehouse_spark.llmdata.maintenance import (
        _store_paths,
        maintenance_report,
        run_due_maintenance,
    )
    from databricks_incremental_lakehouse_spark.llmdata.similarity import _IVF_APPEND

    paths = _store_paths(spark, sf_smoke)
    try:
        # drive the signals: manufacture exactly the vacuum debris the
        # policy counts, tighten rebucket to half the measured average,
        # and make the ~11% arrival split trip the recluster fraction
        for p in paths.values():
            os.makedirs(p.rstrip("/") + "._staging", exist_ok=True)
        base = {
            (r.store, r.job): r
            for r in maintenance_report(spark, sf_smoke).collect()
        }
        avg_min = min(
            base[(s, "rebucket")].value
            for s in ("dedup_band_index", "shingle_pair_index")
        )
        assert avg_min > 1.0  # a strictly tighter integer threshold exists
        thr = {
            "rebucket_rows_per_bucket": max(1, int(avg_min // 2)),
            "recluster_arrival_fraction": 0.01,
            "compact_files_per_dir": 1,
            "vacuum_debris_dirs": 1,
        }

        first = run_due_maintenance(spark, sf_smoke, thresholds=thr)
        ran = set(first["executed"])
        for stage in (
            "dedup_band_index:rebucket",
            "shingle_pair_index:rebucket",
            "ivf_append_index:recluster",
            "dedup_band_index:vacuum",
            "shingle_pair_index:vacuum",
            "ivf_append_index:vacuum",
        ):
            assert stage in ran, f"{stage} was due but not executed"
        for stage, cap in first["executed"].items():
            assert cap["status"] == "SUCCESS", (stage, cap)

        # every executed job reset its signal: nothing due at the same
        # thresholds...
        rep2 = maintenance_report(spark, sf_smoke, thresholds=thr).collect()
        assert all(not r.due for r in rep2), [
            (r.store, r.job, r.value, r.threshold) for r in rep2 if r.due
        ]
        # ...so the second call is a no-op over all nine stages
        second = run_due_maintenance(spark, sf_smoke, thresholds=thr)
        assert second["executed"] == {}
        assert len(second["skipped"]) == 9
    finally:
        memo.drop(spark, (_IVF_APPEND, sf_smoke))


def test_profile_guided_nprobe_both_regimes(spark, sf_correct):
    """VERDICT r11 #6 — the store picks its own serving width from
    build-time calibration: the CLUSTERED corpus self-selects sqrt
    (recall >= the 0.8 bar at the sub-linear width), the STRUCTURELESS
    sf0.1 corpus keeps the swept 5/8 fraction (recall tracks scan
    fraction there), and the explicit env dial wins over both. The
    policy must also be non-vacuous where it fires: at sf0.01 the
    calibrated face serves a narrower width than the formula face and
    returns a different (oracle-checked) neighbor set."""
    import os

    import pytest as _pytest

    from databricks_incremental_lakehouse_spark.llmdata import similarity as S
    from databricks_incremental_lakehouse_spark.operators.layout import (
        read_store_meta,
    )

    clust = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".bench",
        "sfclust1x",
    )
    if not os.path.isdir(clust):
        _pytest.skip("clustered corpus not generated (scripts/make_sfclust.py)")

    _cent, cpath, cnlist = S._ivf_append_index(spark, clust)
    cmeta = read_store_meta(cpath)
    assert cmeta["nprobe_mode"] == "sqrt"
    assert cmeta["calib_recall_sqrt"] >= S.CALIB_RECALL_MIN
    assert S._store_nprobe(cnlist, cpath) == S._sqrt_nprobe(cnlist)
    assert S._store_nprobe(cnlist, cpath) < S._nprobe_for(cnlist)

    _cent1, path1, nlist1 = S._ivf_append_index(spark, "/root/testdata/sf0.1")
    meta1 = read_store_meta(path1)
    assert meta1["nprobe_mode"] == "frac", meta1
    assert meta1["calib_recall_sqrt"] < S.CALIB_RECALL_MIN
    assert S._store_nprobe(nlist1, path1) == S._nprobe_for(nlist1)

    # explicit dial beats calibration (the unchanged operator contract)
    orig = S._NPROBE_ENV
    try:
        S._NPROBE_ENV = "4"
        assert S._store_nprobe(cnlist, cpath) == min(cnlist, 4)
    finally:
        S._NPROBE_ENV = orig

    # at the driver's correctness SF the DISJOINT held-out sample
    # measures 0.733 < the bar (a leaky sample including serving query 3
    # measured 0.867 and wrongly flipped to sqrt — r12 review), so the
    # calibrated face serves the formula width and must equal the append
    # face exactly; the sqrt regime's firing is locked on the clustered
    # corpus above (serving-width assertions)
    _cent2, path2, nlist2 = S._ivf_append_index(spark, sf_correct)
    meta2 = read_store_meta(path2)
    assert meta2["nprobe_mode"] == "frac", meta2
    cal = {
        (r.query_id, r.neighbor_id)
        for r in S.sim_ivf_search_calibrated(spark, sf_correct).collect()
    }
    app = {
        (r.query_id, r.neighbor_id)
        for r in S.sim_ivf_append_search(spark, sf_correct).collect()
    }
    assert cal and cal == app


def test_calibration_sampled_regime_oracle_lockstep(spark, sf_correct):
    """VERDICT r12 #6 — above the sampling threshold the calibration's
    exact AND probe passes restrict candidates to the deterministic
    ``vec_id % s == 0`` slice (s = n // CALIB_SAMPLE_MAX), so recluster
    cost stays constant in corpus size. Locks: (a) the sidecar records
    the derived modulus; (b) the ORACLE derives the identical s in SQL —
    the calibrated face stays hash-green with the sampling ACTIVE
    (shrunk threshold so the 500-vector sf0.01 store trips it); (c) at
    the shipped threshold the test corpora measure s == 1 (selection
    bit-identical to the unsampled pass)."""
    from databricks_incremental_lakehouse_spark.llmdata import similarity as S
    from databricks_incremental_lakehouse_spark.operators.layout import (
        read_store_meta,
    )
    from tests.parity import compare

    # (c) shipped threshold: every test corpus is below it
    _cent0, path0, _n0 = S._ivf_append_index(spark, sf_correct)
    assert read_store_meta(path0).get("calib_sample_mod", 1) == 1

    orig_max = S.CALIB_SAMPLE_MAX
    try:
        S.CALIB_SAMPLE_MAX = 60
        memo.drop(spark, (S._IVF_APPEND, sf_correct))
        _cent, path, nlist = S._ivf_append_index(spark, sf_correct)
        meta = read_store_meta(path)
        n_store = spark.read.parquet(path).count()
        assert n_store // 60 > 1  # the regime under test is actually on
        assert meta["calib_sample_mod"] == n_store // 60  # (a)
        # (b) both engines replay the same sampled measurement
        compare(
            S.sim_ivf_search_calibrated(spark, sf_correct),
            S._calibrated_append_oracle(),
            sf_correct,
            name="sim_ivf_search_calibrated_sampled",
        )
    finally:
        S.CALIB_SAMPLE_MAX = orig_max
        memo.drop(spark, (S._IVF_APPEND, sf_correct))

"""Byte-Pair-Encoding vocabulary induction — tokenizer TRAINING as a
distributed job (Sennrich et al. 2016, the construction behind the
GPT-2/LLaMA tokenizer vocabularies).

``vocab_bpe_merges`` runs ``BPE_MERGES`` merge iterations and returns the
learned merge table (rank, pair, merged symbol, weighted pair count) —
the artifact a tokenizer ships. Classic BPE:

1. every word type starts as its character sequence + ``</w>`` end marker,
   weighted by corpus frequency;
2. each iteration counts adjacent symbol pairs (frequency-weighted,
   overlapping occurrences counted like the reference implementation's
   ``zip(word, word[1:])``) and merges the most frequent pair (lexical
   tiebreak) everywhere, left-to-right non-overlapping.

Scale shape: the only corpus-sized stage is the word-frequency aggregate
(vocabulary-bounded shuffle, map-side partial). The merge loop then runs
on the WORD-TYPE table — rows = |vocabulary|, not corpus size — so each
iteration is a tiny pair-explode + aggregate; the per-iteration driver
value is ONE row (the argmax pair), the same bounded-collect discipline
as the k-means centroid loop. At 100 TB the frequency table is the only
thing that grows with data, and it grows with the vocabulary, not the
token count.

Cross-engine exactness: pair statistics are integer SUMs of bigint
frequencies; the merge rewrite is plain (non-regex) ``replace`` over a
DOUBLE-SPACED copy of the symbol string — ``' x  y  x  y '`` gives every
occurrence its own boundary spaces, so one left-to-right replace pass
merges exactly the occurrences BPE's greedy scan merges (single-spaced,
back-to-back occurrences share a delimiter and the scan skips every
second one: ``' x y x y '`` -> ``' xy x y '`` — the r7 self-review
catch), then the doubles collapse back; argmax tiebreak is (count DESC,
pair ASC). The DuckDB oracle replays every iteration with the same
operations, so the learned merge table is value-hash-checked end to end.
Every iteration CTE is AS MATERIALIZED: DuckDB inlines CTEs referenced
more than once, and each s_i is consumed by both best_{i+1} and s_{i+1}
— un-materialized, the 8-deep chain re-executed exponentially (~2^8
scans, 443s at sf0.01; 4s materialized).

The reference has no text surface (its corpus is relational TPC-H,
src/extract/*); this operator belongs to the LLM-training-data extension
brief's "token counting (whitespace + a BPE-ish regex)" family — this is
the induction side of that coin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..memo import once, put, shared_frame
from .texthash import TOKENIZE_SQL
from .tokmemo import doc_token_tf

BPE_MERGES = 8  # learned merge ranks returned (rank 6+ builds on rank-1/7 output at every SF of this corpus — the iterations demonstrably compose)
END_MARK = "</w>"


def _word_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # word-type frequencies from the shared (doc, token, tf) memo frame
    # (tokmemo.py): SUM(tf) per token == COUNT(*) per exploded occurrence,
    # and the corpus scan is shared with the whole text family
    return (
        doc_token_tf(spark, sf_dir)
        .filter(F.col("token") != "")
        .groupBy(F.col("token").alias("word"))
        .agg(F.sum("tf").alias("freq"))
    )


# guard the single-symbol case: Spark's sequence(1, 0) is DESCENDING
# ([1, 0] -> element_at index 0 throws), unlike DuckDB's empty series — a
# fully-merged short word (e.g. 'a</w>') hits it from iteration 2 on
_PAIRS_EXPR = (
    "CASE WHEN size(syms) < 2 THEN array() "
    "ELSE transform(sequence(1, size(syms) - 1), "
    "i -> concat(element_at(syms, i), ' ', element_at(syms, i + 1))) END"
)


def _merge_pair_col(seq_col: str, pair: str):
    """Merge every greedy-left-to-right occurrence of ``pair`` ('L R') in
    the space-separated symbol string: double-space so back-to-back
    occurrences stop sharing a delimiter, one replace pass, collapse.
    Search/replace travel as literal Columns, never interpolated into SQL
    text (symbols may hold any characters)."""
    merged = pair.replace(" ", "")
    padded = F.concat(
        F.lit(" "), F.replace(F.col(seq_col), F.lit(" "), F.lit("  ")), F.lit(" ")
    )
    replaced = F.replace(
        padded, F.lit(f" {pair.replace(' ', '  ')} "), F.lit(f" {merged} ")
    )
    return F.trim(F.replace(replaced, F.lit("  "), F.lit(" ")))


# the learned merge table is cached per session as plain python tuples (no
# JVM handles): the ENCODE side (tokenize_bpe_apply) consumes a frozen
# trained artifact, so it must not re-pay training per call. The training
# query itself (vocab_bpe_merges) always runs the full loop — its bench row
# keeps measuring induction — but seeds the cache on the way out.
_MERGES_KEY = "bpe_merges"


def learned_merges(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """The merge table as plain rows [(rank, pair, merged, count)],
    trained on first use per (session, sf_dir) and cached thereafter."""
    return once(spark, (_MERGES_KEY, sf_dir), lambda: _train_merges(spark, sf_dir))


def vocab_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned BPE merge table after ``BPE_MERGES`` iterations:
    (merge_rank, pair, merged, pair_count)."""
    out_rows = _train_merges(spark, sf_dir)
    put(spark, (_MERGES_KEY, sf_dir), out_rows)
    return spark.createDataFrame(
        out_rows, "merge_rank int, pair string, merged string, pair_count bigint"
    )


def _train_merges(spark: SparkSession, sf_dir: str) -> list[tuple]:
    # pin the induction's one corpus-derived stage through the session
    # memo: every iteration's argmax job roots here, and without the pin
    # the vocabulary shuffle would re-run per rank (the Spark twin of the
    # oracle's AS MATERIALIZED fix). Memo-owned, so repeated calls reuse
    # it and memo.clear() releases the blocks (the bare .persist() this
    # replaces leaked for the session lifetime).
    # repartition(4): the loop table is |vocabulary| rows by construction
    # (tens of KB per partition at default parallelism), so per-iteration
    # jobs were pure task-scheduling overhead at 32 shuffle partitions —
    # 4 keeps each argmax job's task count proportional to its data
    seqs = shared_frame(
        spark,
        ("bpe_seqs", sf_dir),
        lambda: _word_freqs(spark, sf_dir)
        .select(
            "freq",
            F.concat(
                F.regexp_replace(F.col("word"), "(.)", "$1 "), F.lit(END_MARK)
            ).alias("seq"),
        )
        .repartition(4),
    )
    out_rows = []
    for rank in range(1, BPE_MERGES + 1):
        pairs = (
            seqs.withColumn("syms", F.split("seq", " "))
            .select("freq", F.explode(F.expr(_PAIRS_EXPR)).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("freq").alias("pair_count"))
        )
        best = pairs.orderBy(
            F.col("pair_count").desc(), F.col("pair").asc()
        ).first()
        if best is None:  # every word fully merged: vocabulary exhausted
            break
        merged = best.pair.replace(" ", "")
        out_rows.append((rank, best.pair, merged, int(best.pair_count)))
        seqs = seqs.select("freq", _merge_pair_col("seq", best.pair).alias("seq"))
    return out_rows


def tokenize_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE side of the tokenizer: apply the learned merge table
    (:func:`vocab_bpe_merges`) to every document, emitting one row per
    encoded token occurrence — ``(doc_id, word_pos, sym_pos, token_id,
    symbol)`` with 0-based positions. Token ids are the dense rank of the
    final symbol vocabulary (ORDER BY symbol), the deterministic id
    assignment a shipped tokenizer's vocab file fixes.

    Scale shape — the reason encode is NOT per-document work: merges are
    applied once per WORD TYPE (the vocabulary-bounded ``enc`` table,
    memo-pinned), then broadcast onto the corpus's (doc, pos, word)
    occurrences; the per-occurrence stage is a pure broadcast join + one
    codegen split/posexplode. The merge table itself is a frozen
    session-cached artifact (``learned_merges``) — training is paid once,
    exactly how a production encoder consumes a shipped tokenizer. The
    symbol-id window runs over the distinct final vocabulary only
    (bounded single-partition, the same discipline as the exact-quantile
    distinct-value windows)."""
    from ..tables import load_table
    from .texthash import tokenize

    merges = learned_merges(spark, sf_dir)

    def _build_enc() -> DataFrame:
        e = _word_freqs(spark, sf_dir).select(
            "word",
            F.concat(
                F.regexp_replace(F.col("word"), "(.)", "$1 "), F.lit(END_MARK)
            ).alias("seq"),
        )
        for _rank, pair, _merged, _cnt in merges:
            e = e.select("word", _merge_pair_col("seq", pair).alias("seq"))
        return e.repartition(4)

    enc = shared_frame(spark, ("bpe_encoded", sf_dir), _build_enc)
    vocab = (
        enc.select(F.explode(F.split("seq", " ")).alias("symbol"))
        .distinct()
        .select(
            "symbol",
            F.row_number()
            .over(Window.orderBy("symbol"))
            .cast("int")
            .alias("token_id"),
        )
    )
    occ = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(tokenize(F.col("text"))).alias("word_pos", "word"),
        )
        .filter(F.col("word") != "")
    )
    syms = occ.join(F.broadcast(enc), "word").select(
        "doc_id",
        "word_pos",
        F.posexplode(F.split("seq", " ")).alias("sym_pos", "symbol"),
    )
    return syms.join(F.broadcast(vocab), "symbol").select(
        "doc_id", "word_pos", "sym_pos", "token_id", "symbol"
    )


def _bpe_iter_cte(prev: str, nxt: str, rank: int, carry: str = "freq") -> str:
    """One oracle iteration: pair stats over ``prev`` sequences, the
    argmax row ``best{rank}``, and the merged sequences ``nxt``.
    ``carry`` lists the passthrough columns (the apply oracle also
    carries ``word`` so the final table is a word -> encoding map)."""
    return f"""
best{rank} AS MATERIALIZED (
    SELECT {rank} AS merge_rank, pair, replace(pair, ' ', '') AS merged,
           SUM(freq) AS pair_count
    FROM (
        SELECT freq, unnest(list_transform(
            generate_series(1, len(syms) - 1),
            i -> concat(syms[i], ' ', syms[i + 1]))) AS pair
        FROM (SELECT freq, string_split(seq, ' ') AS syms FROM {prev})
    )
    GROUP BY pair ORDER BY pair_count DESC, pair ASC LIMIT 1
),
{nxt} AS MATERIALIZED (
    SELECT {carry}, trim(replace(replace(
               concat(' ', replace(seq, ' ', '  '), ' '),
               concat(' ', replace((SELECT pair FROM best{rank}), ' ', '  '), ' '),
               concat(' ', (SELECT merged FROM best{rank}), ' ')),
           '  ', ' ')) AS seq
    FROM {prev}
)"""


def _bpe_oracle() -> str:
    parts = [
        f"""
WITH wf AS (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        SELECT unnest({TOKENIZE_SQL.format(c="text")}) AS word FROM documents
    ) WHERE word <> '' GROUP BY word
),
s0 AS (
    SELECT freq,
           concat(regexp_replace(word, '(.)', '\\1 ', 'g'), '{END_MARK}') AS seq
    FROM wf
)"""
    ]
    for rank in range(1, BPE_MERGES + 1):
        parts.append("," + _bpe_iter_cte(f"s{rank - 1}", f"s{rank}", rank))
    union = "\nUNION ALL\n".join(
        f"SELECT merge_rank, pair, merged, CAST(pair_count AS BIGINT) "
        f"AS pair_count FROM best{r}"
        for r in range(1, BPE_MERGES + 1)
    )
    return "".join(parts) + "\n" + union


VOCAB_BPE_ORACLE = _bpe_oracle()


def _bpe_apply_oracle() -> str:
    """Encode replay: the same training CTE chain carrying ``word``
    through every iteration (so s{BPE_MERGES} is the word -> final-seq
    map), then vocab ids + per-occurrence symbol explosion."""
    parts = [
        f"""
WITH wf AS (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        SELECT unnest({TOKENIZE_SQL.format(c="text")}) AS word FROM documents
    ) WHERE word <> '' GROUP BY word
),
s0 AS (
    SELECT word, freq,
           concat(regexp_replace(word, '(.)', '\\1 ', 'g'), '{END_MARK}') AS seq
    FROM wf
)"""
    ]
    for rank in range(1, BPE_MERGES + 1):
        parts.append(
            ","
            + _bpe_iter_cte(
                f"s{rank - 1}", f"s{rank}", rank, carry="word, freq"
            )
        )
    parts.append(
        f""",
vocab AS (
    SELECT symbol, CAST(ROW_NUMBER() OVER (ORDER BY symbol) AS INT) AS token_id
    FROM (SELECT DISTINCT unnest(string_split(seq, ' ')) AS symbol
          FROM s{BPE_MERGES})
),
occ AS (
    SELECT doc_id, CAST(s.pos - 1 AS INT) AS word_pos, s.word AS word FROM (
        SELECT doc_id, unnest(list_transform(generate_series(1, len(t)),
            i -> struct_pack(pos := i, word := t[i]))) AS s
        FROM (SELECT doc_id, {TOKENIZE_SQL.format(c="text")} AS t
              FROM documents)
    ) WHERE s.word <> ''
),
sy0 AS (
    SELECT occ.doc_id, occ.word_pos, string_split(e.seq, ' ') AS ss
    FROM occ JOIN s{BPE_MERGES} e USING (word)
),
syms AS (
    SELECT doc_id, word_pos, CAST(y.pos - 1 AS INT) AS sym_pos,
           y.sym AS symbol
    FROM (
        SELECT doc_id, word_pos,
               unnest(list_transform(generate_series(1, len(ss)),
                   i -> struct_pack(pos := i, sym := ss[i]))) AS y
        FROM sy0
    )
)
SELECT syms.doc_id, syms.word_pos, syms.sym_pos, vocab.token_id, syms.symbol
FROM syms JOIN vocab USING (symbol)"""
    )
    return "".join(parts)


TOKENIZE_BPE_APPLY_ORACLE = _bpe_apply_oracle()


def tokenize_pack_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tensor-ready LAST MILE: every document's BPE token-id stream
    concatenated in ``doc_id`` order and chunked into ``CONTEXT_LEN``
    training windows — ``(bin_id, bin_pos, doc_id, token_id)``, one row
    per encoded token occurrence. This is the artifact a pretraining
    loader memory-maps: :func:`tokenize_bpe_apply` produced the ids,
    ``pack_sequences`` proved the bin GEOMETRY (doc -> bin ranges); this
    composes them at token grain, so each token knows its exact
    (window, offset) slot.

    Scale shape: within-doc positions come from a doc-partitioned window
    (never global); the corpus-wide token offset is the ``pack_sequences``
    two-phase prefix sum over per-doc BPE LENGTHS (one small row per
    ``PACK_BUCKET`` of docs on a single partition, broadcast back) — the
    output is token-count-sized because the artifact is, but no stage
    ever serializes the corpus through one task."""
    from .curation import CONTEXT_LEN, PACK_BUCKET

    bpe = tokenize_bpe_apply(spark, sf_dir).select(
        "doc_id", "word_pos", "sym_pos", "token_id"
    )
    wd = Window.partitionBy("doc_id").orderBy("word_pos", "sym_pos")
    tok = bpe.withColumn("idx", F.row_number().over(wd) - 1)
    lens = (
        tok.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_toks"))
        .withColumn("bucket", (F.col("doc_id") / PACK_BUCKET).cast("long"))
    )
    intra_w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lens = lens.withColumn("intra_cum", F.sum("n_toks").over(intra_w))
    bucket_w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = (
        lens.groupBy("bucket")
        .agg(F.sum("n_toks").alias("bucket_tokens"))
        .withColumn(
            "offset",
            F.sum("bucket_tokens").over(bucket_w) - F.col("bucket_tokens"),
        )
        .select("bucket", "offset")
    )
    doc_off = (
        lens.join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id",
            (F.col("offset") + F.col("intra_cum") - F.col("n_toks")).alias(
                "doc_offset"
            ),
        )
    )
    gpos = F.col("doc_offset") + F.col("idx")
    return tok.join(doc_off, "doc_id").select(
        F.expr(f"(doc_offset + idx) DIV {CONTEXT_LEN}").alias("bin_id"),
        (gpos % CONTEXT_LEN).cast("long").alias("bin_pos"),
        "doc_id",
        "token_id",
    )


def _pack_ids_oracle() -> str:
    from .curation import CONTEXT_LEN, PACK_BUCKET

    return f"""
WITH bpe AS (SELECT * FROM ({TOKENIZE_BPE_APPLY_ORACLE})),
tok AS (
    SELECT doc_id, token_id,
        ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY word_pos, sym_pos
        ) - 1 AS idx
    FROM bpe
),
lens AS (
    SELECT doc_id, COUNT(*) AS n_toks, doc_id // {PACK_BUCKET} AS bucket
    FROM tok GROUP BY doc_id
),
l2 AS (
    SELECT doc_id, n_toks, bucket,
        SUM(n_toks) OVER (
            PARTITION BY bucket ORDER BY doc_id
            ROWS UNBOUNDED PRECEDING
        ) AS intra_cum
    FROM lens
),
boff AS (
    SELECT bucket,
        SUM(bucket_tokens) OVER (
            ORDER BY bucket ROWS UNBOUNDED PRECEDING
        ) - bucket_tokens AS offset
    FROM (SELECT bucket, SUM(n_toks) AS bucket_tokens FROM lens GROUP BY bucket)
),
docoff AS (
    SELECT l2.doc_id, boff.offset + l2.intra_cum - l2.n_toks AS doc_offset
    FROM l2 JOIN boff USING (bucket)
)
SELECT CAST((d.doc_offset + t.idx) // {CONTEXT_LEN} AS BIGINT) AS bin_id,
       CAST((d.doc_offset + t.idx) % {CONTEXT_LEN} AS BIGINT) AS bin_pos,
       t.doc_id, t.token_id
FROM tok t JOIN docoff d USING (doc_id)"""


def register_all(register) -> None:
    register("vocab_bpe_merges", vocab_bpe_merges, VOCAB_BPE_ORACLE)
    register("tokenize_bpe_apply", tokenize_bpe_apply, TOKENIZE_BPE_APPLY_ORACLE)
    register("tokenize_pack_ids", tokenize_pack_ids, _pack_ids_oracle())

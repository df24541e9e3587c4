"""Session-scoped shared tokenization layer (VERDICT r7 #1).

Eight text operators (BM25, BPE word frequencies, vocab_topk, TF-IDF,
unigram log-prob, CCNet buckets, language ID, CMS heavy hitters, SimHash)
each re-ran the same ``documents`` scan -> lowercase/split -> explode
chain per query — both wasted work and the amplifier behind the r7
driver-bench text-cluster slowdown (every tokenize-heavy key moved
together under host contention because each was a many-job plan rooted
in its own corpus scan).

This module memoizes the chain once per (session, sf_dir) through
:mod:`..memo`'s persist tier, at three grains:

- :func:`doc_tok_arrays` — ``(doc_id, toks array<string>)``: consumers
  that need token ORDER (bigrams/PMI, chunking).
- :func:`doc_tokens`    — ``(doc_id, token)`` exploded: consumers that
  aggregate per occurrence (unigram log-prob, language ID, SimHash).
- :func:`doc_token_tf`  — ``(doc_id, token, tf)``: the term-frequency
  aggregate most rankers start from (BM25, TF-IDF, vocabulary counts —
  occurrence counts recover as ``SUM(tf)``, document frequencies as
  ``COUNT(*)`` per token).

Each tier derives lazily from the previous, so materializing ``tf``
warms ``tokens`` and ``arrays`` as a side effect and the corpus parquet
is scanned ONCE per session however many text queries run. The frames
carry exactly the lineage each operator built inline before, so every
DuckDB oracle keeps matching unchanged.

At 100 TB this layer is the materialized ``doc_tokens`` /
``doc_token_tf`` tables a production corpus pipeline writes next to the
raw text (the same argument as memo.py's silver layer): tokenization is
the single most re-read derivation in a text-curation DAG, and caching
it turns every downstream statistic into a vocabulary- or
posting-list-bounded job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..memo import once, shared_frame
from ..tables import load_table
from .texthash import tokenize


def doc_tok_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, toks)`` — the per-document token array, memo-persisted."""
    return shared_frame(
        spark,
        ("llm_tok_arrays", sf_dir),
        lambda: load_table(spark, sf_dir, "documents").select(
            "doc_id", tokenize(F.col("text")).alias("toks")
        ),
    )


def doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, token)`` — one row per token occurrence, memo-persisted.

    NULL-text docs contribute zero rows (``explode`` of a NULL array), the
    same rows an inline ``explode(tokenize(text))`` produced."""
    return shared_frame(
        spark,
        ("llm_tokens", sf_dir),
        lambda: doc_tok_arrays(spark, sf_dir).select(
            "doc_id", F.explode("toks").alias("token")
        ),
    )


def doc_token_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, token, tf)`` — the term-frequency aggregate, memo-persisted.

    Map-side combined; downstream per-token statistics (df, occurrence
    counts, posting lists) are vocabulary-bounded reads of this frame
    instead of corpus-sized re-aggregations."""
    return shared_frame(
        spark,
        ("llm_tok_tf", sf_dir),
        lambda: doc_tokens(spark, sf_dir)
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf")),
    )


def doc_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, w1, w2)`` — one row per adjacent token pair, formed
    shuffle-free from the token-array memo (per-row ``transform``, no
    lead window), memo-persisted. Consumers: PMI collocations, the bigram
    LM. NULL/short docs contribute zero rows (``size < 2`` guard)."""
    return shared_frame(
        spark,
        ("llm_bigrams", sf_dir),
        lambda: doc_tok_arrays(spark, sf_dir)
        .filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[i-1] AS w1, toks[i] AS w2))"
                )
            ).alias("s"),
        )
        .select("doc_id", "s.w1", "s.w2"),
    )


def token_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(token, df)`` — document frequency per token (``COUNT(*)`` over
    the tf frame), memo-persisted. Vocabulary-sized; the broadcast side of
    every idf-weighted ranker."""
    return shared_frame(
        spark,
        ("llm_token_df", sf_dir),
        lambda: doc_token_tf(spark, sf_dir)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df")),
    )


def corpus_n_docs(spark: SparkSession, sf_dir: str) -> int:
    """The corpus row count — a plain int, the scalar every
    idf/normalization formula inlines as a literal; once per session."""
    return once(
        spark,
        ("llm_n_docs", sf_dir),
        lambda: load_table(spark, sf_dir, "documents").count(),
    )


def doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, dl)`` — token count per document (``SUM(tf)``),
    memo-persisted. Docs-sized; the length normalizer every
    length-sensitive ranker (BM25) joins per scoring pass."""
    return shared_frame(
        spark,
        ("llm_doc_len", sf_dir),
        lambda: doc_token_tf(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("dl")),
    )

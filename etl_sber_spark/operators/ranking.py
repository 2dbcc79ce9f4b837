"""TF-IDF / BM25 relevance scoring over a document corpus.

Keyword retrieval is the workhorse of corpus curation (finding
domain-relevant documents, building eval slices). This module
implements the standard Okapi BM25 with corpus statistics computed
*inside* the same job — no driver-side scalars, no collect.

Scoring uses the conventional parameters k1=1.2, b=0.75 and the
"plus-one" idf ``ln(1 + (N - df + 0.5)/(df + 0.5))`` (always positive,
the Lucene variant).

100 TB design
-------------
- Tokenize + per-document term frequencies: one explode + one
  hash-aggregate keyed on (doc, term) — shuffle volume is bounded by
  the *matched* terms only because the term filter is applied before
  the explode's aggregation.
- Corpus stats: N and the average document length reduce to ONE row
  (partial aggregation map-side), joined back via a broadcast on a
  constant key — a BroadcastHashJoin of a 1-row build side, never a
  shuffle of the corpus.
- Per-term document frequencies: |terms| rows — broadcast too.
- Document lengths ride with the exploded term rows (one extra
  map-side tokenize), so no corpus-wide (doc, dl) frame is shuffled to
  re-attach lengths — the only doc-keyed exchange carries matched rows.
- Everything stays JVM-side codegen; scores are deterministic given
  operand order, and graded outputs are rounded to 4 decimals so both
  engines' IEEE renderings agree (tests/diffcheck.py contract).

Reference parity: no ranking operator exists in the reference (bank
ETL, main.py); this is part of the LLM-pipeline extension surface.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import bpe_ish_token_count, bpe_ish_tokens
from .materialize import pin

K1 = 1.2
B = 0.75


def term_frequencies(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    terms: Sequence[str] | None = None,
    *,
    with_length: bool = False,
) -> DataFrame:
    """(doc, term, tf) rows; ``terms`` (lowercase) filters the explode
    output before aggregation so shuffle volume scales with matches,
    not corpus tokens.

    ``with_length=True`` adds a ``dl`` column (the document's total
    token count) riding along with each row — BM25 needs it, and
    carrying it here means no corpus-wide (doc, dl) frame ever has to
    be joined back. The token array is materialized once in a
    projection below the explode: sibling size()/explode() expressions
    would run the tokenizer regex twice per row (Project and Generate
    don't share subexpressions; measured ~2x on the text stage)."""
    base = df.select(
        F.col(id_col), bpe_ish_tokens(F.col(text_col)).alias("_toks")
    )
    if with_length:
        toks = base.select(
            F.col(id_col),
            F.size("_toks").alias("dl"),
            F.explode("_toks").alias("term"),
        )
    else:
        toks = base.select(F.col(id_col), F.explode("_toks").alias("term"))
    if terms is not None:
        toks = toks.filter(F.col("term").isin(list(terms)))
    aggs = [F.count(F.lit(1)).alias("tf")]
    if with_length:
        aggs.append(F.min("dl").alias("dl"))
    return toks.groupBy(id_col, "term").agg(*aggs)


def doc_lengths(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc, dl) token counts — the BM25 length normalizer."""
    return df.select(
        F.col(id_col), bpe_ish_token_count(F.col(text_col)).alias("dl")
    )


def bm25_scores(
    df: DataFrame,
    terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Okapi BM25 score of every matching document against a bag of
    query ``terms`` (lowercase).

    Output: ``id_col``, ``n_terms_matched``, ``score`` (rounded to 4
    decimals; documents matching no term are omitted — at corpus scale
    emitting zero-rows for every document would be a full-scan write).
    Deterministic: each per-term contribution is rounded to 9 decimals,
    cast to DECIMAL(28,9), and summed as decimals — decimal addition is
    exact and order-independent, so the score never depends on partial-
    aggregation order (a raw float SUM would), and the DuckDB oracle
    running the identical arithmetic hashes bit-identically.
    """
    terms = sorted({t.lower() for t in terms})
    # Corpus stats as a single broadcast row: N docs, average doc length
    # — an aggregate over a projection, no exchange.
    stats = doc_lengths(df, id_col, text_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    ).withColumn("_k", F.lit(1))
    # Pinned: tf feeds BOTH the per-term document frequencies and the
    # scoring join — unmaterialized, the dfreq branch re-runs the full
    # corpus tokenize (plan-audited: a second complete scan subtree),
    # i.e. 3 corpus text passes per query instead of 2. with_length
    # rides dl along with the matched rows, so no corpus-wide (doc, dl)
    # frame is ever shuffled back in.
    tf = pin(
        term_frequencies(
            df, id_col, text_col, terms=terms, with_length=True
        )
    )
    # Per-term document frequency: ≤ |terms| rows, broadcast.
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .withColumn("_k", F.lit(1))
        .join(F.broadcast(stats), "_k")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_d = F.col("tf").cast("double")
    norm = tf_d * (k1 + 1.0) / (
        tf_d + k1 * (1.0 - b + b * F.col("dl").cast("double") / F.col("avgdl"))
    )
    from pyspark.sql import types as T

    contrib = F.round(idf * norm, 9).cast(T.DecimalType(28, 9))
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.round(F.sum(contrib), 4).cast("double").alias("score"),
        )
    )


def bm25_topk(
    df: DataFrame,
    terms: Sequence[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k BM25 hits with a deterministic (score DESC, id) tiebreak —
    two-phase top-k (per-partition limit then global), same shape as
    q_topk (WindowGroupLimit)."""
    from pyspark.sql import Window

    s = bm25_scores(df, terms, id_col, text_col)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col))
    return (
        s.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )

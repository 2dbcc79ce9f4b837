"""Distributed BPE tokenizer training (byte-pair encoding merges).

Learns the *sub-word* merge table a production tokenizer ships with.
The algorithm is the classic corpus BPE of Sennrich et al. 2016
("Neural Machine Translation of Rare Words with Subword Units") —
publicly documented; re-derived here as Spark column algebra.

Shapes (the 100 TB discipline):

- The ONLY corpus-scale pass is :func:`word_frequencies` — one explode +
  one hash-aggregate to the distinct-word dictionary ``(word, n)``.
  Everything after runs on the dictionary, which is bounded by corpus
  *vocabulary* (10⁶-10⁸ rows), not corpus size. This is the standard
  scalable formulation: merge statistics over ``(word, n)`` weighted by
  ``n`` are identical to merge statistics over the raw corpus.
- Each merge iteration = ONE aggregate job over the dictionary (pair
  counts, weighted by word frequency) + a driver-side argmax of a single
  row (metadata scale) + a projection rewriting the symbol arrays. No
  joins, no corpus re-reads. The dictionary frame is re-pinned
  (localCheckpoint, operators/materialize.pin) every iteration so
  the Lloyd-style lineage does not compound across iterations.
- The merge *application* is a left-to-right fold over the symbol array
  (``F.aggregate``): greedy adjacent-pair replacement, exactly the
  reference algorithm's regex-replace semantics, but as whole-stage
  codegen over an array column — no Python in the loop.
- Determinism: counts are integers and the winning pair is the total
  order (count DESC, left ASC, right ASC), so the learned merge
  sequence is bit-identical across partitionings and engines (same
  discipline that made the IVF k-means oracle-expressible).
- :func:`bpe_encode` pays the sequential merge cost once per DISTINCT
  word (tiny frame), then broadcast-joins the encoded dictionary back
  to corpus tokens — occurrences never re-tokenize. A production
  encoder for 10⁴⁺ merges would apply the table with a linear-time
  trie per word instead of one fold per merge; the per-distinct-word
  join-back shape stays the same.

Reference parity: no tokenizer surface in the reference (bank ETL,
main.py); extends the text stack (functions/text.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import tokens_expr
from .materialize import pin
from .spread import spread

#: End-of-word marker appended as a standalone symbol (Sennrich 2016).
EOW = "</w>"


def word_frequencies(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct-word dictionary ``(word, n)`` — the one corpus-scale pass.

    Words are lowercased whitespace tokens — the SHARED
    ``dedup.tokens_expr`` (one definition, so a BPE vocab, a word vocab
    and the dedup shingles trained on the same corpus agree on what a
    "word" is by construction, not by copy-paste — review finding).
    """
    return (
        spread(df)
        .select(F.explode(tokens_expr(text_col)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _symbols_expr() -> F.Column:
    """word → its initial symbol sequence: characters plus the
    end-of-word marker (one definition — training's `_initial_symbols`
    and `encode_words` must agree on it exactly)."""
    return F.concat(F.split(F.col("word"), ""), F.array(F.lit(EOW)))


def _initial_symbols(words: DataFrame) -> DataFrame:
    """(word, n, symbols): characters plus the end-of-word marker."""
    return words.select("word", "n", _symbols_expr().alias("symbols"))


def _pair_counts(words: DataFrame) -> DataFrame:
    """(left, right, cnt): adjacent-symbol pair counts weighted by word
    frequency — one explode + one aggregate over the dictionary."""
    pairs = words.select(
        F.col("n"),
        F.expr(
            "transform(slice(symbols, 1, size(symbols) - 1),"
            " (s, i) -> struct(s AS left, element_at(symbols, i + 2) AS right))"
        ).alias("pairs"),
    ).select(F.col("n"), F.explode("pairs").alias("p"))
    return pairs.groupBy(
        F.col("p.left").alias("left"), F.col("p.right").alias("right")
    ).agg(F.sum("n").alias("cnt"))


def _merge_expr(left: str, right: str) -> F.Column:
    """Greedy left-to-right replacement of adjacent (left, right) with
    their concatenation, as a fold over the symbol array.

    ``aggregate`` visits symbols in order; the accumulator is the
    rewritten prefix. A symbol equal to ``right`` following an
    accumulator tail equal to ``left`` collapses into the merged symbol —
    and the merged symbol then participates in FURTHER merges only on
    later iterations, exactly like the reference regex semantics
    ("aaaa" under (a,a) -> ["aa", "aa"], not ["aaa", "a"]).
    """
    l_lit = F.lit(left)
    r_lit = F.lit(right)
    merged = F.lit(left + right)
    return F.aggregate(
        F.col("symbols"),
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == l_lit)
            & (s == r_lit),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(merged)
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def train_bpe(
    words: DataFrame,
    n_merges: int,
    min_count: int = 2,
) -> list[tuple[str, str, int]]:
    """Learn up to ``n_merges`` BPE merges from a ``(word, n)`` dictionary.

    Returns the ordered merge table ``[(left, right, pair_count), ...]``
    — driver-side by design (metadata scale: the merge table IS the
    trained artifact a tokenizer ships). Stops early when the best
    remaining pair occurs fewer than ``min_count`` times.

    Each iteration: one dictionary aggregate (pair counts), one
    single-row driver argmax, one projection applying the merge. The
    winning pair is the total order (cnt DESC, left ASC, right ASC) —
    deterministic across partitionings.
    """
    if n_merges <= 0:
        raise ValueError(f"n_merges must be positive, got {n_merges}")
    current = pin(_initial_symbols(words))
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        best = (
            _pair_counts(current)
            .orderBy(F.col("cnt").desc(), F.col("left"), F.col("right"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["cnt"] < min_count:
            break
        left, right, cnt = best[0]["left"], best[0]["right"], int(best[0]["cnt"])
        merges.append((left, right, cnt))
        current = pin(
            current.select(
                "word", "n", _merge_expr(left, right).alias("symbols")
            )
        )
    return merges


def encode_words(
    words: DataFrame, merges: list[tuple[str, str, int]], chunk: int = 32
) -> DataFrame:
    """Apply a merge table to a ``(word, ...)`` frame → adds ``subwords``.

    One fold per merge, pinned every ``chunk`` merges so the plan depth
    stays bounded (the same lineage-truncation discipline as the k-means
    loop). Cost is O(|dictionary| x merges) — paid on the distinct-word
    dictionary, never on the corpus.
    """
    out = words.withColumn("symbols", _symbols_expr())
    for i, (left, right, _) in enumerate(merges):
        out = out.withColumn("symbols", _merge_expr(left, right))
        if (i + 1) % chunk == 0:
            out = pin(out)
    return out.withColumnRenamed("symbols", "subwords")


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize documents with a trained merge table.

    Output: (``id_col``, subwords array<string>) — the document's
    sub-word sequence in order, ``EOW``-terminated per word.

    Shape: encode the DISTINCT words of this corpus once (tiny frame),
    broadcast-join the encoded dictionary to the corpus's positional
    word stream, then reassemble per document (one shuffle). Documents
    with no words yield an empty array.
    """
    toks = spread(df).select(
        F.col(id_col),
        F.posexplode_outer(
            F.filter(tokens_expr(text_col), lambda w: w != "")
        ).alias("pos", "word"),
    )
    dictionary = encode_words(
        toks.filter(F.col("word").isNotNull()).select("word").distinct(),
        merges,
    ).select("word", "subwords")
    joined = toks.join(F.broadcast(dictionary), "word", "left")
    return joined.groupBy(id_col).agg(
        F.flatten(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("word").isNotNull(),
                        F.struct(F.col("pos"), F.col("subwords")),
                    )
                )
            ).getField("subwords")
        ).alias("subwords")
    )


def save_merges(wh, merges: list[tuple[str, str, int]], name: str = "bpe_merges") -> None:
    """Persist a trained merge table as a VERSIONED warehouse artifact
    (sinks/warehouse.py swap layout): the tokenizer that produced a
    training run is then itself time-travelable (``wh.read(name,
    version=n)``) — retrain drift between corpus versions is a diff of
    two tiny tables, and a delivery pipeline reloads the exact
    tokenizer its data was encoded with. ``rank`` preserves merge
    order (the table IS order-sensitive)."""
    spark = wh.spark
    rows = [
        (i, left, right, int(cnt)) for i, (left, right, cnt) in enumerate(merges)
    ]
    wh.overwrite_versioned(
        spark.createDataFrame(
            rows, "rank int, left string, right string, pair_count bigint"
        ),
        name,
    )


def load_merges(wh, name: str = "bpe_merges", version: int | None = None) -> list[tuple[str, str, int]]:
    """Reload a merge table saved by :func:`save_merges`, in training
    order — the exact shape :func:`encode_words` / :func:`bpe_encode`
    consume."""
    return [
        (r["left"], r["right"], int(r["pair_count"]))
        for r in sorted(
            wh.read(name, version=version).collect(), key=lambda r: r["rank"]
        )
    ]

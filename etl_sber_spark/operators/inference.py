"""Batched model inference over a corpus: the embedding-generation stage.

Every similarity/semantic operator in this repo CONSUMES an embedding
column (semdedup, cosine top-k, IVF); this module is the stage that
PRODUCES it — running a text encoder over the corpus as Arrow-batched
``mapInPandas``, the one place model inference can live in a Spark
pipeline (a model call is opaque Python/C++; there is no Catalyst
expression for it).

The encoder itself is pluggable and STUBBED by default: no ML runtime
exists in this container, so the default encoder is a deterministic
md5-derived fake (same text → same vector, distinct texts →
hash-independent vectors, unit-normalized) — exactly the properties the
downstream dedup/ANN machinery needs for testing. A real deployment
passes ``encoder=`` a callable that loads the model once per PROCESS
(lazy module/global inside the callable — executors reuse Python
workers across batches, so the load amortizes) and returns one vector
per text.

Production shape, deliberately kept:

- **Only (id, text) crosses the Arrow boundary.** The operator projects
  the two columns it needs before ``mapInPandas``; the caller joins the
  returned (id, embedding) frame back by id — or, at scale, writes it
  as its own table (embeddings are reused by many consumers; gluing
  them to the corpus row would copy them through every downstream
  shuffle).
- **The model-memory bound is the operator's own re-slice.** Arrow hands
  the UDF whole-partition-sized record batches by default
  (``spark.sql.execution.arrow.maxRecordsPerBatch`` caps them globally,
  but that is session config a library cannot assume); the encoder is
  invoked on slices of at most ``max_batch_rows`` texts regardless, so
  a GPU worker's activation memory is bounded by the call site that
  knows the model, not by cluster config.
- **NULL text → NULL embedding.** A failed/absent document is a routine
  artifact; NULL propagates through cosine (vectors.cosine_similarity)
  and ranks last, never crashes the job. The encoder is never shown
  NULLs.
- **spread() before the map**: a single-split corpus scan would run the
  whole model pass on one task (operators/spread.py's round-robin
  guard, no-op when the scan already has parallelism).

Determinism: the stub is pure md5 — bit-identical across partitionings,
Python versions, and runs; nothing uses RNG (repo-wide differential
rule). Reference parity: the reference has no inference surface (its
only out-of-SQL compute is driver-side pandas reshaping, main.py:214);
this extends the LLM-pipeline surface per SURVEY §7.5.
"""

from __future__ import annotations

from typing import Callable, Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .spread import spread

#: stub encoder width — a compact test default, NOT a property of any
#: fixture (the testdata embeddings table is 64-dim). Mixing widths in
#: one consumer fails SILENTLY in Spark: zip_with pads the shorter
#: array with NULLs, so dot products and cosines go NULL and threshold
#: filters drop everything — keep one width per embedding space
#: (embedding_coverage's n_distinct_dims is the gate for this).
DEFAULT_DIMS = 16


def hash_encoder(n_dims: int = DEFAULT_DIMS):
    """The deterministic stub: md5-expanded, unit-normalized vectors.

    Each float is carved from ``md5(text ":" block)`` (4 uint32s per
    digest, mapped to [-1, 1]); the vector is then L2-normalized.
    Self-contained closure — safe to ship to executors that do not have
    this repo on sys.path.
    """

    def encode(texts: Sequence[str]) -> list[list[float]]:
        import hashlib as _hashlib
        import math as _math

        out = []
        for t in texts:
            raw: list[float] = []
            for block in range((n_dims + 3) // 4):
                d = _hashlib.md5(
                    t.encode("utf-8", "surrogatepass")
                    + b":"
                    + str(block).encode()
                ).digest()
                for j in range(4):
                    u = int.from_bytes(d[4 * j : 4 * j + 4], "big")
                    raw.append(u / 2147483647.5 - 1.0)
            raw = raw[:n_dims]
            norm = _math.sqrt(sum(x * x for x in raw))
            out.append([x / norm for x in raw] if norm > 0 else raw)
        return out

    return encode


def auto_encoder(model_name: str = "all-MiniLM-L6-v2"):
    """Best-available REAL text encoder for :func:`embed_texts`'s
    ``encoder=`` plug point, or ``None`` when no embedding runtime is
    importable (this container — callers then keep the md5 stub).

    Detection is a DRIVER-side import probe of sentence-transformers;
    the returned closure loads the model lazily ONCE PER EXECUTOR
    PROCESS (cached in a closure dict each pickled copy owns) so the
    multi-second model load amortizes across every Arrow batch a
    worker sees — the batched-inference discipline embed_texts
    documents. Output follows the embed_texts contract exactly: one
    vector per input text, fixed width, raise (never drop) on failure.
    Contract parity when the library exists: tests/test_autodetect.py.
    """
    try:
        __import__("sentence_transformers")
    except ImportError:
        return None
    _cache: dict = {}

    def encode(texts: Sequence[str]) -> list[list[float]]:
        if "model" not in _cache:
            from sentence_transformers import SentenceTransformer

            _cache["model"] = SentenceTransformer(model_name)
        vecs = _cache["model"].encode(list(texts), show_progress_bar=False)
        return [[float(x) for x in v] for v in vecs]

    return encode


def embed_texts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    encoder: Callable[[Sequence[str]], Iterable[Sequence[float]]]
    | None = None,
    n_dims: int = DEFAULT_DIMS,
    max_batch_rows: int = 256,
    out_col: str = "embedding",
) -> DataFrame:
    """(id, embedding array<float>): run the encoder over every document.

    ``encoder`` maps a list of non-NULL texts (length ≤
    ``max_batch_rows``) to one float vector each; default is the
    :func:`hash_encoder` stub. The id column keeps its input type;
    rows with NULL ``text_col`` yield NULL embeddings.
    """
    if max_batch_rows < 1:
        raise ValueError(f"max_batch_rows must be >= 1, got {max_batch_rows}")
    enc = encoder if encoder is not None else hash_encoder(n_dims)
    id_type = df.schema[id_col].dataType
    projected = spread(df.select(id_col, text_col))
    _id, _text, _out = id_col, text_col, out_col
    _cap = max_batch_rows

    def batches(it):
        import numpy as _np
        import pandas as _pd

        for pdf in it:
            texts = pdf[_text]
            vecs: list = [None] * len(pdf)
            # present-text positions only, re-sliced to the model bound
            idx = [i for i, t in enumerate(texts) if t is not None]
            for s in range(0, len(idx), _cap):
                chunk = idx[s : s + _cap]
                encoded = list(enc([texts.iloc[i] for i in chunk]))
                # loud, not truncated: an encoder that drops a failed
                # item (or is off by one) would otherwise leave the
                # tail NULL, indistinguishable from the NULL-text case
                if len(encoded) != len(chunk):
                    raise ValueError(
                        f"encoder returned {len(encoded)} vectors for "
                        f"{len(chunk)} texts — one vector per text is "
                        "the contract (raise inside the encoder for "
                        "failed items instead of dropping them)"
                    )
                for i, v in zip(chunk, encoded):
                    vecs[i] = _np.asarray(v, dtype=_np.float32)
            yield _pd.DataFrame({_id: pdf[_id], _out: vecs})

    schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField(out_col, T.ArrayType(T.FloatType())),
        ]
    )
    return projected.mapInPandas(batches, schema)


def embedding_coverage(
    df: DataFrame,
    embeddings: DataFrame,
    id_col: str = "doc_id",
    emb_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One-row operational check of an embedding table against its
    corpus: total docs, embedded docs, duplicate-row / NULL-vector /
    zero-vector counts, and distinct dims observed (a healthy table has
    exactly one dim and zero of each anomaly count).

    Shape: a per-id pre-aggregate on the embedding side, one LEFT join
    on the id, one final aggregate — the coverage gate a pipeline runs
    before trusting semdedup/ANN results (docs without an embedding row
    silently skip those stages — curate_corpus's stated contract — so
    coverage must be MEASURED, not assumed). The pre-aggregate is what
    keeps the corpus counts honest: joining raw embedding rows would
    fan out on duplicate ids and inflate ``n_docs``/``n_embedded``
    exactly when the table is anomalous (review finding);
    ``n_dup_rows`` surfaces those duplicates instead.
    """
    is_zero = F.aggregate(
        F.col(vec_col).cast("array<double>"),
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    ) == F.lit(0.0)
    per_id = embeddings.groupBy(F.col(emb_id_col).alias(id_col)).agg(
        F.count(F.lit(1)).alias("_n_rows"),
        F.sum(F.col(vec_col).isNull().cast("long")).alias("_n_null"),
        F.sum(
            F.when(F.col(vec_col).isNotNull() & is_zero, 1).otherwise(0)
        ).alias("_n_zero"),
        F.collect_set(F.size(F.col(vec_col))).alias("_dims"),
    )
    joined = df.select(id_col).join(per_id, id_col, "left")
    return joined.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("_n_rows") >= 1).cast("long")).alias("n_embedded"),
        F.sum(
            F.greatest(F.col("_n_rows") - 1, F.lit(0)).cast("long")
        ).alias("n_dup_rows"),
        F.sum("_n_null").alias("n_null_vec"),
        F.sum("_n_zero").alias("n_zero_vec"),
        F.size(
            F.array_distinct(F.flatten(F.collect_list("_dims")))
        ).alias("n_distinct_dims"),
    )

"""End-to-end trainer-delivery integration: the composition
curate → leakage-guarded split → BPE tokenize → pack → export.

Each stage is differentially tested on its own; this test guards the
COMPOSITION — column contracts, survivor flow, and conservation laws
across operator boundaries — so a signature change in any stage fails
here before it fails in a real pipeline.
"""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from etl_sber_spark.operators.bpe import bpe_encode, train_bpe, word_frequencies
from etl_sber_spark.operators.curate import curate_corpus
from etl_sber_spark.operators.decontam import leakage_guarded_split
from etl_sber_spark.operators.packing import pack_documents
from etl_sber_spark.sinks.export import export_jsonl

from .conftest import SF_SMALL



#: r12 suite tiering (VERDICT r11 #3): full e2e flow; every stage fast-covered by its operator tests.
pytestmark = pytest.mark.slow

def test_full_delivery_pipeline(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    n_docs = docs.count()

    # 1. curation: annotated one-row-per-doc, keepers flow on
    curated = curate_corpus(docs)
    keepers = curated.filter(F.col("drop_reason").isNull()).select(
        "doc_id", "text"
    )
    n_keep = keepers.count()
    assert 0 < n_keep < n_docs  # the gates really fire on this corpus

    # 2. split with the leakage guard; train = split 0 minus leaks
    split = leakage_guarded_split(keepers, [0.8, 0.1, 0.1], n=8)
    assert split.count() == n_keep  # annotation, not destruction
    train = split.filter(
        (F.col("split") == 0) & (~F.col("leaks_holdout"))
    ).select("doc_id", "text")
    n_train = train.count()
    assert 0 < n_train < n_keep

    # 3. tokenizer: train on the TRAIN split only, encode train docs
    merges = train_bpe(word_frequencies(train), n_merges=20)
    assert len(merges) > 0
    enc = bpe_encode(train, merges)
    assert enc.count() == n_train
    assert enc.filter(F.size("subwords") == 0).count() == 0

    # 4. packing under a token budget: every doc placed, offsets legal
    budget = 256
    packed = pack_documents(train, budget=budget, n_buckets=4)
    assert packed.count() == n_train
    assert packed.filter(
        (F.col("bin_offset") < 0) | (F.col("bin_offset") >= budget)
    ).count() == 0
    # conservation: packing's token total equals the same tokenizer
    # run directly over the train split — packing neither drops nor
    # double-counts tokens
    from etl_sber_spark.functions.text import bpe_ish_tokens

    t_packed = packed.agg(F.sum("n_tokens")).collect()[0][0]
    t_direct = train.agg(
        F.sum(F.size(bpe_ish_tokens(F.col("text"))))
    ).collect()[0][0]
    assert t_packed == t_direct

    # 5. export shards + manifest, shuffled training order
    out = str(tmp_path / "delivery")
    with_tokens = train.withColumn(
        "n_tokens", F.size(F.split(F.trim("text"), r"\s+"))
    )
    manifest = export_jsonl(
        with_tokens, out, n_shards=4, token_col="n_tokens", order="shuffled"
    )

    assert manifest["n_rows"] == n_train
    # the manifest's token total is the exported column's sum
    assert manifest["n_tokens"] == with_tokens.agg(
        F.sum("n_tokens")
    ).collect()[0][0]
    assert os.path.exists(os.path.join(out, "manifest.json"))
    back = spark.read.json(out)
    assert back.count() == n_train

"""Round-9 batch-10 equivalence pins: the optimization round rewired
several per-row text expressions onto the shared materialized token
array (`_tokenized_docs`' `_toks`) and widened single-split inputs.  Each
change claims VALUE IDENTITY with the original expression — these tests
pin that claim on corpora the fixed testdata never exercises (empty
text, punctuation-only, stopword-only, marker-word ties, short tokens,
every PII pattern).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

TRICKY_TEXTS = [
    None,                                      # NULL text (advisor: rlike(NULL) is NULL, not false)
    "",
    "   ",
    "...!!!---",
    "the the the and of in is to",            # pure stopwords/markers
    "der die das und ist nicht",              # de markers
    "the der le el",                           # 4-way marker tie
    "a b c d e f",                             # all len<3 tokens
    "Contact me at bob@example.com today",     # email
    "ssn 123-45-6789 here",                    # ssn
    "call 555-123-4567 now",                   # phone
    "ping 10.0.0.1 then 999.999.999.999",      # ipv4 (loose)
    "No pii in this perfectly normal sentence about engines.",
    "x" * 600,                                 # length saturation branch
    "word " * 200,                             # long, repetitive
    "The quick brown fox jumps over the lazy dog and runs away fast",
]


@pytest.fixture(scope="module")
def tricky(spark):
    pdf = pd.DataFrame(
        {"doc_id": range(len(TRICKY_TEXTS)), "text": TRICKY_TEXTS}
    )
    df = spark.createDataFrame(pdf)
    # the _tokenized_docs definition of the materialized token array
    return df.select(
        "doc_id",
        "text",
        F.filter(
            F.split(F.lower("text"), "[^a-z0-9]+"), lambda t: F.length(t) > 0
        ).alias("_toks"),
    )


def test_lang_id_toks_param_is_value_identical(tricky):
    from sparkdiff.functions.textstats import lang_id

    rows = tricky.select(
        lang_id("text").alias("a"),
        lang_id("text", toks=F.col("_toks")).alias("b"),
    ).collect()
    assert all(r.a == r.b for r in rows), [
        (r.a, r.b) for r in rows if r.a != r.b
    ]


def test_quality_score_toks_param_is_value_identical(tricky):
    from sparkdiff.functions.textstats import quality_score

    rows = tricky.select(
        quality_score("text").alias("a"),
        quality_score("text", toks=F.col("_toks")).alias("b"),
    ).collect()
    # bit-identical, not approximately equal: the rewrite only changes
    # WHICH column feeds the counts, never the arithmetic order
    assert all(r.a == r.b for r in rows), [
        (r.a, r.b) for r in rows if r.a != r.b
    ]


def test_pii_alternation_equals_per_pattern_count_sum(tricky):
    from sparkdiff.functions.pii import PII_PATTERNS, pii_count

    pii_total = sum(
        (pii_count("text", pat) for _, pat, _ in PII_PATTERNS), F.lit(0)
    )
    pii_any = F.col("text").rlike(
        "|".join(f"(?:{pat})" for _, pat, _ in PII_PATTERNS)
    )
    # the production form (queries._funnel_flags) coalesces to false on
    # NULL text; the Σ-counts form is NULL there (size(NULL) is NULL
    # unless the legacy sizeOfNull setting is on), so the NULL row is
    # pinned on its own and the two forms are compared on the rest
    rows = tricky.select(
        "text",
        (pii_total == 0).alias("a"),
        F.coalesce(~pii_any, F.lit(False)).alias("b"),
    ).collect()
    assert [r.b for r in rows if r.text is None] == [False]
    assert all(r.a == r.b for r in rows if r.text is not None), [
        (r.a, r.b) for r in rows if r.text is not None and r.a != r.b
    ]


def test_simhash64_parallelism_hook_is_value_identical(tricky):
    # a widened (repartitioned) input gives the same fingerprints
    from sparkdiff.operators.dedup import simhash64

    base = simhash64(tricky, "doc_id", F.col("_toks")).collect()
    wide = simhash64(tricky.repartition(4), "doc_id", F.col("_toks")).collect()
    assert sorted((r.doc_id, r.simhash) for r in base) == sorted(
        (r.doc_id, r.simhash) for r in wide
    )


def test_incremental_near_dup_parallelism_hook_is_value_identical(spark):
    from sparkdiff.operators.dedup import incremental_near_dup_pairs

    texts = [
        f"alpha beta gamma delta epsilon zeta eta theta iota kappa doc{i}"
        for i in range(40)
    ]
    corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(40), "text": texts})
    )
    batch = corpus.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat("text", F.lit(" revised")).alias("text"),
    )

    def pairs(corpus, batch):
        rows = incremental_near_dup_pairs(
            corpus, batch, "doc_id", "text", threshold=0.5
        ).collect()
        return sorted((r.corpus_id, r.batch_id, round(r.jaccard, 9)) for r in rows)

    # widened (repartitioned) inputs find the same pairs
    assert pairs(corpus, batch) == pairs(corpus.repartition(4), batch.repartition(4))

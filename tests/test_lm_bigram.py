"""Semantic pins for the bigram-LM curation family (round 9).

The load-bearing claim: a bigram model separates fluent text from
shuffled-token text, which a unigram model scores IDENTICALLY (same
token multiset). That discrimination is what the family adds over
``unigram_surprisal_scores``.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from event_data_etl_gcs_spark.queries.lm_bigram import (
    _DOMAIN_CAP,
    bigram_rows,
    bigram_scores,
    interp_scores,
    score_bigram_with_model,
)
from event_data_etl_gcs_spark.queries.registry import get_query

SF = "/root/testdata/sf0.001"

# A tiny corpus where docs 1 and 2 hold the SAME token multiset: doc 1
# in the dominant fluent order, doc 2 shuffled into transitions that
# never occur elsewhere. Docs 3-6 are background repeating the fluent
# pattern so its bigrams are high-count.
_FLUENT = "the cat sat on the mat"
_SHUFFLED = "mat the on sat cat the"
_DOCS = [
    (1, _FLUENT),
    (2, _SHUFFLED),
    (3, _FLUENT),
    (4, _FLUENT),
    (5, _FLUENT),
    (6, "the cat sat on the mat again"),
    (7, "solo"),  # < 2 tokens: no bigram rows
    (8, ""),  # empty text: no rows at all
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(_DOCS, "doc_id long, text string")


def test_bigram_separates_shuffled_from_fluent(docs):
    rows = {r.doc_id: r for r in bigram_scores(docs).collect()}
    assert rows[1].mean_inv_p < rows[2].mean_inv_p
    # same multiset -> same token count surface; the separation is
    # purely conditional-probability signal
    assert rows[1].n_bigrams == rows[2].n_bigrams
    # fluent doc's transitions all repeat across the corpus; the
    # shuffled doc contains corpus-unique transitions
    assert rows[1].min_bigram_count > rows[2].min_bigram_count
    assert rows[2].min_bigram_count == 1


def test_short_and_empty_docs_are_excluded(docs):
    ids = {r.doc_id for r in bigram_scores(docs).collect()}
    assert 7 not in ids and 8 not in ids
    two = bigram_scores(
        docs.sparkSession.createDataFrame(
            [(1, "a b"), (2, "x")], "doc_id long, text string"
        )
    ).collect()
    assert len(two) == 1 and two[0].n_bigrams == 1


def test_interp_bounded_by_twice_bigram(docs):
    """Per transition 1/(.5*pb+.5*pu) <= 2/pb, and the bigram query's
    val IS 1/pb — so doc means obey interp <= 2 * bigram (ulp slack)."""
    b = {r.doc_id: r.mean_inv_p for r in bigram_scores(docs).collect()}
    i = {r.doc_id: r.mean_inv_p for r in interp_scores(docs).collect()}
    assert set(b) == set(i)
    for d in b:
        assert i[d] <= 2.0 * b[d] * (1 + 1e-12)
    # interp also separates fluent from shuffled
    assert i[1] < i[2]


def test_ccnet_buckets_are_exact_terciles(spark):
    out = get_query("ccnet_quality_buckets").fn(spark, SF).collect()
    assert out, "no bucketed docs"
    by_lang: dict[str, dict[str, int]] = {}
    for r in out:
        by_lang.setdefault(r.lang, {"head": 0, "middle": 0, "tail": 0})
        by_lang[r.lang][r.bucket] += 1
    for lang, c in by_lang.items():
        sizes = sorted(c.values())
        assert sizes[-1] - sizes[0] <= 1, (lang, c)
    # head scores <= tail scores within each language
    for lang in by_lang:
        hs = [r.score for r in out if r.lang == lang and r.bucket == "head"]
        ts = [r.score for r in out if r.lang == lang and r.bucket == "tail"]
        assert max(hs) <= min(ts)


def test_v6_keep_counts_bounded_by_v3(spark):
    """v6's LM stage only SHRINKS each source pool before DSIR, and
    DSIR keeps ceil(n_src/5) — so v6's per-source keep count can never
    exceed v3's; and every source v6 keeps, v3 also keeps from."""
    v3 = get_query("training_corpus_v3_select").fn(spark, SF).collect()
    v6 = get_query("training_corpus_v6_select").fn(spark, SF).collect()
    assert v6, "v6 kept nothing"
    c3: dict[str, int] = {}
    c6: dict[str, int] = {}
    for r in v3:
        c3[r.source] = c3.get(r.source, 0) + 1
    for r in v6:
        c6[r.source] = c6.get(r.source, 0) + 1
    assert set(c6) <= set(c3)
    for src, n in c6.items():
        assert n <= c3[src], (src, n, c3[src])


def test_domain_cap_keeps_longest_per_source(spark):
    out = get_query("domain_frequency_cap").fn(spark, SF).collect()
    kept: dict[str, list] = {}
    for r in out:
        kept.setdefault(r.source, []).append(r)
    from event_data_etl_gcs_spark.sources.catalog import load_table

    all_docs = load_table(spark, SF, "documents").select(
        "doc_id", "source", "n_chars"
    ).collect()
    total_by_source: dict[str, int] = {}
    for r in all_docs:
        total_by_source[r.source] = total_by_source.get(r.source, 0) + 1
    for src, rows in kept.items():
        assert len(rows) <= _DOMAIN_CAP
        assert len(rows) == min(_DOMAIN_CAP, total_by_source[src])
        floor = min(r.n_chars for r in rows)
        dropped = [
            r.n_chars
            for r in all_docs
            if r.source == src and r.doc_id not in {k.doc_id for k in rows}
        ]
        assert all(c <= floor for c in dropped)


def test_score_with_model_keeps_unseen_bigrams(spark):
    """Bigrams absent from the model score per add-one smoothing
    ((c(v)+V)/1, c(v)=0 for an unseen context) under the default left
    joins, instead of vanishing from the per-doc mean."""
    corpus = spark.createDataFrame(
        [(1, "a b c")], "doc_id long, text string"
    )
    tk, bg = bigram_rows(corpus)
    bgc = bg.groupBy("prev", "cur").agg(F.count("*").alias("cvw"))
    ctx = bgc.groupBy("prev").agg(F.sum("cvw").cast("long").alias("cv"))
    tot = tk.agg(
        F.count("*").alias("n_total"), F.countDistinct("tok").alias("vsz")
    )
    # model: bigrams (a,b):1 (b,c):1; c(a)=c(b)=1; V=3
    frame = spark.createDataFrame(
        [(99, "x y"), (100, "a b x")], "doc_id long, text string"
    )
    _, frame_bg = bigram_rows(frame)
    got = {
        r["doc_id"]: r
        for r in score_bigram_with_model(frame_bg, ctx, bgc, tot).collect()
    }
    # doc 99: single bigram (x,y), context x unseen -> 1/p = (0+3)/(0+1)
    assert 99 in got, "doc with only unseen bigrams vanished from output"
    assert got[99]["n_bigrams"] == 1
    assert got[99]["mean_inv_p"] == 3.0
    assert got[99]["min_bigram_count"] == 0
    # doc 100: (a,b) seen -> (1+3)/(1+1)=2.0; (b,x) unseen, c(b)=1 ->
    # (1+3)/(0+1)=4.0; mean=3.0 with BOTH transitions counted
    assert got[100]["n_bigrams"] == 2
    assert got[100]["mean_inv_p"] == 3.0
    assert got[100]["min_bigram_count"] == 0


def test_self_trained_scores_unchanged_by_left_joins(spark):
    """When the model is trained on the scored corpus itself (the
    oracle queries' shape), every bigram is in the model and the left
    joins must be row-identical to the old inner joins."""
    from event_data_etl_gcs_spark.sources.catalog import load_table

    docs = load_table(spark, SF, "documents").limit(50)
    out = bigram_scores(docs)
    assert out.count() > 0
    # self-trained: every scored transition is in the model, so the
    # coalesced cvw floor of 0 is never reached
    assert out.filter(F.col("min_bigram_count") < 1).count() == 0

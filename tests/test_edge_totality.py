"""Totality on degenerate inputs: every new operator must return a sane
empty/zero result on empty or token-free tables instead of crashing —
the property that matters when a 100 TB pipeline hits an empty partition
or a filtered-to-nothing source."""

from __future__ import annotations

from pyspark.sql import functions as F


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


def _blank_docs(spark):
    return spark.createDataFrame([(0, ""), (1, "!!!")], "doc_id long, text string")


def test_substring_report_total(spark):
    from pandemic_knowledge_spark.operators.substrings import duplication_report

    assert duplication_report(_empty_docs(spark)).collect() == []
    rows = duplication_report(_blank_docs(spark)).collect()
    assert len(rows) == 2 and all(r.dup_spans == 0 and r.dup_frac == 0.0 for r in rows)


def test_lm_and_pmi_total(spark):
    from pandemic_knowledge_spark.operators.lm import collocations_pmi, lm_score

    assert lm_score(_empty_docs(spark), _empty_docs(spark)).collect() == []
    assert lm_score(_blank_docs(spark), _blank_docs(spark)).collect() == []
    assert collocations_pmi(_empty_docs(spark)).collect() == []


def test_bpe_total_on_tokenless_corpus(spark):
    from pandemic_knowledge_spark.operators.bpe import bpe_encode_report, bpe_learn

    merges, vocab = bpe_learn(_blank_docs(spark))
    assert merges.collect() == [] and vocab.collect() == []
    rep = bpe_encode_report(_blank_docs(spark)).collect()
    assert len(rep) == 2 and all(r.n_subwords == 0 for r in rep)


def test_pagerank_empty_edges(spark):
    from pandemic_knowledge_spark.operators.graph import pagerank

    e = spark.createDataFrame([], "src long, dst long, w long")
    assert pagerank(e).collect() == []


def test_quantile_rollup_empty_and_out_of_range(spark):
    from pandemic_knowledge_spark.operators.sketches import (
        daily_quantile_rollup,
        quantiles_over,
    )

    ev = spark.createDataFrame([], "value double, ts timestamp")
    rollup = daily_quantile_rollup(ev, "value", "ts")
    assert quantiles_over(rollup, "2024-01-01", "2024-01-31").collect() == []


def test_epidemic_empty_signal(spark):
    import datetime as dt

    from pandemic_knowledge_spark.operators.epidemic import (
        daily_counts_dense,
        rt_cori,
    )

    ev = spark.createDataFrame(
        [(0, dt.datetime(2024, 1, 1), "click")],
        "event_id long, ts timestamp, event_type string",
    )
    # signal filter matches nothing -> dense zero series, rt all NULL
    daily = daily_counts_dense(ev, "ts", where=F.col("event_type") == "error")
    rows = rt_cori(daily).collect()
    assert len(rows) == 1 and rows[0].cases == 0 and rows[0].rt is None


def test_phrase_and_privacy_total(spark):
    from pandemic_knowledge_spark.operators.privacy import k_anonymize
    from pandemic_knowledge_spark.operators.search import (
        build_positional_postings,
        phrase_search_from_postings,
    )

    pp = build_positional_postings(_empty_docs(spark), "doc_id", "text")
    assert phrase_search_from_postings(pp, "a b").collect() == []
    empty = spark.createDataFrame([], "id long, q string")
    assert k_anonymize(empty, ["q"], 3).collect() == []


def test_near_dup_mark_total(spark):
    from pandemic_knowledge_spark.operators.dedup import near_dup_mark

    assert near_dup_mark(_empty_docs(spark), "doc_id", "text").collect() == []
    # token-free docs produce no shingles -> no verdicts, not a crash
    assert near_dup_mark(_blank_docs(spark), "doc_id", "text").collect() == []


def test_ann_multi_lsh_total(spark):
    from pandemic_knowledge_spark.operators.similarity import rp_lsh_topk_multi

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    q = [0.5] * 8
    assert rp_lsh_topk_multi(
        empty, "embedding", "vec_id", q, k=5, n_bits=4, n_tables=4
    ).collect() == []


def test_ivf_kmeans_fails_loudly_on_empty(spark):
    import pytest

    from pandemic_knowledge_spark.operators.similarity import ivf_kmeans_topk

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty input"):
        ivf_kmeans_topk(empty, "embedding", "vec_id", [0.5] * 8).collect()


def test_r6_search_family_total(spark):
    """MLT, suggester, significant terms, RRF and both index-probe tiers:
    empty/token-free corpora return empty frames (or empty rankings),
    never crash."""
    from pandemic_knowledge_spark.operators.aggregates import significant_terms
    from pandemic_knowledge_spark.operators.search import (
        SearchIndex,
        bm25_from_postings,
        bm25_from_postings_small,
        more_like_this,
        rrf_fuse,
        term_suggest,
    )

    for d in (_empty_docs(spark), _blank_docs(spark)):
        idx = SearchIndex.build(d, "doc_id", "text", cache=False)
        for probe in (bm25_from_postings, bm25_from_postings_small):
            assert probe(idx.postings, idx.stats, "stream").collect() == []
        assert more_like_this(d, "doc_id", "text", 0).collect() == []
        assert term_suggest(d, "doc_id", "text", "stream").collect() == []
        assert (
            significant_terms(
                d, "doc_id", "text", F.col("doc_id") == 0
            ).collect()
            == []
        )
    empty_rank = spark.createDataFrame([], "doc_id long, score double")
    assert rrf_fuse([(empty_rank, "doc_id", "score")]).collect() == []


def test_r6_containment_and_dsir_total(spark):
    from pandemic_knowledge_spark.operators.dedup import ngram_containment_pairs
    from pandemic_knowledge_spark.operators.sampling import dsir_rank

    blank = spark.createDataFrame(
        [(0, "en", ""), (1, "en", "!!!")], "doc_id long, lang string, text string"
    )
    empty = spark.createDataFrame([], "doc_id long, lang string, text string")
    for d in (empty, blank):
        assert ngram_containment_pairs(d, "doc_id", "text", "lang").collect() == []
        assert dsir_rank(d, "doc_id", "text", F.col("lang") == "de").collect() == []


def test_r6_matrix_and_pct_ranks_total(spark):
    """Empty input: percentile_ranks yields 0/0 → NULL pct (no crash, one
    row per probe); matrix_stats yields NULL moments for every pair."""
    from pandemic_knowledge_spark.operators.aggregates import matrix_stats
    from pandemic_knowledge_spark.operators.ranks import percentile_ranks

    e = spark.createDataFrame([], "x long, y long")
    pr = percentile_ranks(e.select(F.col("x").alias("v")), "v", (1.0, 2.0)).collect()
    assert len(pr) == 2 and all(r.pct_rank is None for r in pr)
    ms = matrix_stats(e, (("x", F.col("x")), ("y", F.col("y")))).collect()
    assert len(ms) == 3 and all(
        r.covariance is None and r.correlation is None for r in ms
    )

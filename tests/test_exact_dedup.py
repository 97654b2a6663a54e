from __future__ import annotations

from genome_deduplication_spark.fixtures.pages import (
    fx_exact,
    fx_unique,
    pages_df,
)
from genome_deduplication_spark.operators.exact_dedup import exact_dup_clusters


def test_exact_clusters_match_truth(spark):
    corpus = fx_exact(seed=42, groups=10, copies=3)
    df = pages_df(spark, corpus)
    out = exact_dup_clusters(df).select("url", "canonical_id").collect()
    got = {r["url"]: r["canonical_id"] for r in out}
    want = {r["url"]: r["cluster_id"] for r in corpus.truth_clusters}
    assert got == want


def test_unique_docs_are_singletons(spark):
    corpus = fx_unique(seed=42, docs=50)
    df = pages_df(spark, corpus)
    out = exact_dup_clusters(df)
    assert out.where("cluster_size > 1").count() == 0


def test_keep_first_retains_one_per_cluster(spark):
    corpus = fx_exact(seed=42, groups=8, copies=4)
    df = pages_df(spark, corpus)
    kept = exact_dup_clusters(df).where("url = canonical_id")
    assert kept.count() == 8
    kept_urls = {r["url"] for r in kept.select("url").collect()}
    canon_urls = {r["cluster_id"] for r in corpus.truth_clusters}
    assert kept_urls == canon_urls


def test_null_text_rows_are_their_own_clusters(spark):
    """A NULL-text row has a NULL content hash: it must come back as a
    singleton canonical of itself, not vanish from the cluster table."""
    rows = [
        (1, "u://a", "same words here"),
        (2, "u://b", "same words here"),
        (3, "u://c", None),
        (4, "u://d", None),
        (5, "u://e", "other words"),
    ]
    df = spark.createDataFrame(rows, "warc_ts long, url string, text string")
    got = {
        r["url"]: (r["canonical_id"], r["cluster_size"])
        for r in exact_dup_clusters(df).collect()
    }
    assert got == {
        "u://a": ("u://a", 2),
        "u://b": ("u://a", 2),
        "u://c": ("u://c", 1),
        "u://d": ("u://d", 1),
        "u://e": ("u://e", 1),
    }

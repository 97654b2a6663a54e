"""Tiered webtext dedup attribution: url-canonical -> exact -> near.

A production crawl dedup stack applies cheap identity tiers before
expensive similarity tiers: (1) canonical-URL fold (recrawls of the same
resource under fragment/port/tracker/case variants), (2) exact content
dedup over normalized text, (3) MinHash/LSH near-dup closed under
connected components. Each tier sees only the previous tier's survivors
(first-match-wins), and every document is attributed to exactly one
removal tier — or ``kept`` — together with the id of the representative
that shadows it. Reference analogue: the reference's fixed pass order
with first-occurrence-wins deferred commit (code/dedup2.py:13-15,420-421),
re-expressed as one declarative report instead of sequential file scans.

Scale shape (100 TB):
  - tiers 1-2 are first-occurrence elections (exact_dedup.first_of_group)
    on uniform keys (canonical url / normalized-text value): a hash
    aggregate with a co-partitioned join-back — AQE reuses the grouping
    exchange for the join, and a 10^8-recrawl URL collapses to one group
    row (star join-back, never a collect_list);
  - tier 3 inherits lsh.py's count-guarded bucket caps and the O(log n)
    star CC — no all-pairs stage anywhere;
  - the output is one fixed-width row per input doc; normalized text is
    shuffled once per identity tier and never after.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig
from ..functions.signatures import signature_table
from ..functions.text import normalize_text
from ..functions.urls import canonicalize_url
from .connected_components import connected_components
from .exact_dedup import first_of_group
from .lsh import candidate_pairs
from .verify import verify_pairs

__all__ = ["tier_dedup_report"]


def tier_dedup_report(
    docs: DataFrame,
    cfg: DedupConfig,
    *,
    id_col: str = "doc_id",
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """(numeric id, raw url, text) -> (doc_id, tier, kept_by).

    ``tier`` is one of ``url`` / ``exact`` / ``near`` / ``kept``;
    ``kept_by`` is the numeric-min id of the fold group that shadows the
    doc (NULL for kept docs). Exactly one output row per input doc.

    Tier semantics (first match wins):
      url    same canonical URL as a lower-id doc (content irrelevant —
             a recrawl of the same resource). NULL/empty urls never fold
             at this tier: unknown resource identity is not evidence of
             duplication, so their key is NULL and the election keeps
             each such doc as its own group; they fall through to the
             content tiers
      exact  same normalized text as a lower-id url-survivor (empty/NULL
             text never folds: unknown content is not evidence of
             duplication)
      near   in the same LSH/verify/CC near-dup component as a lower-id
             exact-survivor (docs shorter than one shingle are ineligible
             and pass through, mirroring the pipeline's ambiguous split)
      kept   survived every tier
    """
    # empty url / empty text -> NULL key: the election keeps a NULL-key doc
    # as its own group, so unknown identity folds with nothing and still
    # gets its output row
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.nullif(canonicalize_url(F.col(url_col)), F.lit("")).alias("cu"),
        normalize_text(F.col(text_col)).alias("s"),
    )

    # -- tier 1: canonical-url identity fold --------------------------------
    t1 = first_of_group(base, "cu", ("doc_id",))
    url_removed = t1.where(F.col("doc_id") != F.col("first")).select(
        "doc_id", F.lit("url").alias("tier"), F.col("first").alias("kept_by")
    )
    surv1 = t1.where(F.col("doc_id") == F.col("first")).select(
        "doc_id", "s", F.nullif(F.col("s"), F.lit("")).alias("sk")
    )

    # -- tier 2: exact normalized-content fold among url-survivors ----------
    t2 = first_of_group(surv1, "sk", ("doc_id",))
    exact_removed = t2.where(F.col("doc_id") != F.col("first")).select(
        "doc_id", F.lit("exact").alias("tier"), F.col("first").alias("kept_by")
    )
    # multi-consumer cut: surv2 feeds the signature path AND the
    # ineligible-kept branch; without materialization each consumer
    # re-runs normalize + both identity-tier elections. Eager, not lazy —
    # lazy localCheckpoint marks are silently not persisted under AQE
    # (the round-4 recompute bug, plans/pipeline.py stage()).
    surv2 = (
        t2.where(F.col("doc_id") == F.col("first"))
        .select("doc_id", "s")
        .localCheckpoint(eager=True)
    )

    # -- tier 3: near-dup among exact-survivors ------------------------------
    # same machinery as the flagship pipeline (signatures -> capped LSH
    # buckets -> verify -> CC); survivors have pairwise-distinct text, so
    # no exact short-circuit stage is needed here
    eligible = F.length("s") >= F.lit(cfg.shingle_k)  # NULL-safe: NULL -> filtered
    # int64 ids end to end: a bigint id IS the fixed-width shuffle key, so
    # candidate_pairs skips its hash128 compact-key mapping, and the CC
    # label (min doc_id of the component) IS the near-tier representative.
    # The Arrow signature kernel has ~5 downstream consumers (bucket
    # counts, pairs, verify a/b, CC universe) — run it exactly once
    sigs = signature_table(
        surv2.where(eligible).select(F.col("doc_id").alias("url"), "s"),
        cfg,
        text_col="s",
        fields=("minhash", "simhash"),
    ).localCheckpoint(eager=True)
    pairs = candidate_pairs(sigs, cfg)
    t3 = connected_components(
        verify_pairs(pairs, sigs, cfg).where("is_dup").select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        ),
        sigs.select(F.col("url").alias("node")),
    ).select(F.col("node").alias("doc_id"), F.col("component").alias("rep"))
    near_removed = t3.where(F.col("doc_id") != F.col("rep")).select(
        "doc_id", F.lit("near").alias("tier"), F.col("rep").alias("kept_by")
    )
    kept_ids = t3.where(F.col("doc_id") == F.col("rep")).select("doc_id").unionByName(
        surv2.where(~F.coalesce(eligible, F.lit(False))).select("doc_id")
    )
    kept = kept_ids.select(
        "doc_id",
        F.lit("kept").alias("tier"),
        F.lit(None).cast("long").alias("kept_by"),
    )

    return (
        url_removed.unionByName(exact_removed)
        .unionByName(near_removed)
        .unionByName(kept)
    )

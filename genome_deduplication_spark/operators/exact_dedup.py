"""First-occurrence election and exact-duplicate clustering.

Semantics transplanted from the reference: a document whose content was seen
before is a duplicate, and the *first* occurrence wins
(first-occurrence-wins deferred commit, code/dedup2.py:13-15,420-421).
"First" for web pages = min (warc_ts, url) — the election rule replacing the
reference's sequential file/scan order (code/dedup2.py:549-554).

Every "keep the first of each group" step of the engine (pipeline stages
3 and 7, the tier report's identity tiers, the incremental exact star,
media dedup) calls :func:`first_of_group`: one hash aggregate on the key
(map-side partial min) and one star join back on it, never a
collect_list. Both shuffle on the key; the only skew is true
mega-duplicates, which is exactly what we want to group.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from genome_deduplication_spark.functions.hashing import hash128
from genome_deduplication_spark.functions.text import normalize_text


def content_key(text: Column) -> Column:
    """128-bit content hash of normalized text (BINARY(16), unhex'd md5):
    at the 10^12-doc design point a 60/64-bit key silently false-merges
    tens of thousands of unrelated documents (birthday bound); 128 bits
    puts the expectation at ~1e-12. A FLAT binary key, not a struct —
    struct group keys fall off the fast hash-aggregate path (measured
    2.7x pipeline regression with struct<hi,lo>). Oracle-facing queries
    keep the 60-bit hash60 where DuckDB must recompute the value;
    collisions are impossible at oracle scale."""
    return hash128(normalize_text(text))


def first_of_group(df: DataFrame, key: str, order: Sequence[str]) -> DataFrame:
    """``df``'s rows plus ``first`` (the last ``order`` column of the
    group's minimum-``order`` row; ties on one order column are broken by
    the next) and ``group_size``. A NULL key is unknown identity, not a
    shared one: such a row is its own group (``first`` = its own value,
    ``group_size`` = 1) and is never dropped. A one-column ``order`` takes
    a plain ``min`` (numeric ids stay on HashAggregate); only a multi-column
    order needs ``min(struct)``, over the key and order columns alone.
    """
    last = order[-1]
    if len(order) == 1:
        pick, picked = F.min(last), F.col("_first")
    else:
        pick, picked = F.min(F.struct(*order)), F.col(f"_first.{last}")
    groups = (
        df.where(F.col(key).isNotNull())
        .groupBy(key)
        .agg(pick.alias("_first"), F.count(F.lit(1)).alias("_size"))
        .select(key, picked.alias("_first"), "_size")
    )
    return df.join(groups, key, "left").select(
        *df.columns,
        F.coalesce("_first", last).alias("first"),
        F.coalesce("_size", F.lit(1)).alias("group_size"),
    )


def exact_dup_clusters(
    pages: DataFrame,
    id_cols: tuple[str, ...] = ("warc_ts", "url"),
    text_col: str = "text",
) -> DataFrame:
    """(id..., cluster table): every row gets the content-hash cluster key and
    the canonical (first-occurrence) member of its cluster. A row with NULL
    text has a NULL hash and is a cluster of its own.

    Output: content_hash, id_cols..., canonical_id, cluster_size.
    """
    keyed = pages.select(*id_cols, content_key(F.col(text_col)).alias("content_hash"))
    return first_of_group(keyed, "content_hash", id_cols).select(
        "content_hash",
        *id_cols,
        F.col("first").alias("canonical_id"),
        F.col("group_size").alias("cluster_size"),
    )

"""Exact long-common-substring pass over candidate pairs.

The masked-region analogue (reference: duplicate k-mer positions become
masked spans, code/dedup2.py:18,235-246): two documents that share one long
verbatim substring are duplicates-in-part even when whole-document Jaccard
is below threshold (a press release quoted inside distinct articles).

Physical shape: the candidate pair list joins back to text once per side,
is hash-spread on (id_a, id_b) over ``spark.sql.shuffle.partitions``
partitions, and a per-row ``mapInPandas`` kernel runs an O(n log^2 n)
suffix array (prefix doubling, pure numpy) over the concatenation of the
two docs and scans adjacent suffix pairs from different docs for the
longest cross-document LCP. The pair rows are small (ids plus text) but
each costs a numpy suffix-array build, so the spread is a fixed-count
repartition that adaptive execution may not coalesce: every core runs the
kernel instead of one merged task. The candidate pairs come from
:func:`pairs_from_anchor_rows` over the anchor hashes the signature kernel
emits (functions.signatures.make_doc_signature_udf).

The same kernel, run on a single document against itself, finds internal
repeats — the reference's internal-vs-global repeat discrimination
(code/dedup2.py:177-195).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from genome_deduplication_spark.functions.hashing import (
    compact_key,
    key_pairs_to_ids,
)


# symbols packed into the first sort key: 7 x 9 bits fit a non-negative
# int64, so one sort ranks 7-symbol prefixes and the doubling starts there
_PACK = 7


def _suffix_array_ranks(
    data: np.ndarray,
) -> tuple[np.ndarray, list[tuple[int, np.ndarray]]]:
    """Prefix-doubling suffix array (O(n log^2 n)) + rank history.

    ``data`` holds symbols in [0, 511): UTF-8 bytes plus out-of-alphabet
    separators. Returns (sa, ranks) where ranks is [(width, r)] with widths
    _PACK * 2^m ascending, r[i] == r[j] iff data[i:i+width] ==
    data[j:j+width] (windows running past the end are padded below every
    symbol), and r[n] == -1 is an end sentinel no rank equals — the sparse
    table the vectorized LCP walks consume (no per-character Python loop).
    """
    n = len(data)
    if n == 0:
        return np.empty(0, dtype=np.int64), []
    padded = np.zeros(n + _PACK - 1, dtype=np.int64)
    padded[:n] = data + 1
    key = np.zeros(n, dtype=np.int64)
    for t in range(_PACK):
        key = (key << 9) | padded[t : t + n]
    ranks: list[tuple[int, np.ndarray]] = []
    k = _PACK
    while True:
        # no stable sort: a rank depends only on the key value and the loop
        # stops once every rank is distinct, so tie order never shows in
        # the ranks or the suffix array
        order = np.argsort(key)
        sorted_key = key[order]
        r = np.empty(n, dtype=np.int64)
        r[order[0]] = 0
        r[order[1:]] = np.cumsum(sorted_key[1:] != sorted_key[:-1])
        table = np.empty(n + 1, dtype=np.int32)
        table[:n] = r
        table[n] = -1
        ranks.append((k, table))
        # every rank distinct; at the latest once k >= n, because padded
        # windows of different suffixes then differ in length
        if r[order[-1]] == n - 1:
            break
        key2 = np.full(n, -1, dtype=np.int64)
        key2[: n - k] = r[k:]
        key = r * (n + 1) + (key2 + 1)
        k *= 2
    sa = np.empty(n, dtype=np.int64)
    sa[r] = np.arange(n)
    return sa, ranks


def suffix_array_and_lcp(data: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(sa, lcp) from one prefix-doubling pass; lcp[k] is the LCP of the
    suffixes at sa[k - 1] and sa[k] (lcp[0] == 0).

    Classic sparse-table walk, batched over all n-1 adjacent pairs at once:
    descend widths; wherever rank_w[i] == rank_w[j] the pair shares a
    w-prefix — advance both cursors by w. The remainder below the smallest
    width is matched symbol by symbol (< _PACK steps). Matching windows
    never run past the end, so cursors stay <= n, where the sentinels
    (rank -1, symbol -1) stop them."""
    sa, ranks = _suffix_array_ranks(data)
    n = len(data)
    lcp = np.zeros(n, dtype=np.int64)
    if n < 2:
        return sa, lcp
    i = sa[1:].copy()
    j = sa[:-1].copy()
    h = lcp[1:]
    for w, r in reversed(ranks):
        eq = r[i] == r[j]
        h[eq] += w
        i[eq] += w
        j[eq] += w
    sym = np.append(data, -1)
    for _ in range(_PACK - 1):
        eq = sym[i] == sym[j]
        h[eq] += 1
        i[eq] += 1
        j[eq] += 1
    return sa, lcp


def _max_lcp(
    data: np.ndarray,
    ranks: list[tuple[int, np.ndarray]],
    i: np.ndarray,
    j: np.ndarray,
) -> int:
    """Largest LCP among the suffix pairs (i[k], j[k]).

    A binary search over the sparse table: all pairs still tied for the
    maximum share the same matched length h, so each width keeps only the
    pairs that match it (when any does) — no per-pair LCP array."""
    if not len(i):
        return 0
    h = 0
    for w, r in reversed(ranks):
        eq = r[i + h] == r[j + h]
        if eq.any():
            i, j, h = i[eq], j[eq], h + w
    sym = np.append(data, -1)
    for _ in range(_PACK - 1):
        eq = sym[i + h] == sym[j + h]
        if not eq.any():
            break
        i, j, h = i[eq], j[eq], h + 1
    return h


def _utf8_symbols(text: str) -> np.ndarray:
    return np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.int64)


def longest_common_substring_len(a: str, b: str) -> int:
    """Longest verbatim substring shared by a and b, in UTF-8 bytes
    (suffix array + max cross-document LCP)."""
    if not a or not b:
        return 0
    xa = _utf8_symbols(a)
    sep = np.array([256], dtype=np.int64)  # out-of-alphabet separator
    data = np.concatenate([xa, sep, _utf8_symbols(b)])
    na = len(xa)
    sa, ranks = _suffix_array_ranks(data)
    # adjacent suffixes from different docs (separator belongs to neither):
    # the best cross pair is adjacent to some cross pair in SA order
    from_a = sa < na
    from_b = sa > na
    cross = (from_a[1:] & from_b[:-1]) | (from_b[1:] & from_a[:-1])
    return _max_lcp(data, ranks, sa[1:][cross], sa[:-1][cross])


def longest_self_repeat_len(a: str) -> int:
    """Longest substring occurring >= twice within one document (max LCP)."""
    if not a:
        return 0
    data = _utf8_symbols(a)
    sa, ranks = _suffix_array_ranks(data)
    return _max_lcp(data, ranks, sa[1:], sa[:-1])


def pairs_from_anchor_rows(
    anchors: DataFrame,
    max_bucket_size: int,
    min_shared_anchors: int,
    id_col: str = "url",
) -> DataFrame:
    """(id, anchor) rows -> candidate (id_a < id_b) pairs.

    Boilerplate prune: an anchor present in more than `max_bucket_size`
    documents is template text (headers/footers/navigation), not a quoted
    passage — its bucket is DROPPED, not sampled. Template anchors are
    all-or-nothing (every templated doc shares the identical windows), so
    rank-sampling them would still emit cap^2 useless pairs per anchor.
    This deliberately diverges from the reference (which masks every
    duplicate k-mer regardless of frequency, code/dedup2.py:142): at
    10^12 docs, frequency IS the boilerplate/quotation signal.
    """
    # Physical shape (rewritten in round 5 after the 640k profile): the old
    # a-join-b self-join exchanged the full (anchor, id) payload twice and
    # sort-merge-joined two 10M-row string-keyed sides — ~730 CPU-s at
    # local[8], amplified by this host's flat aggregate memory-bandwidth
    # cap (BENCH.md round 5). Now: count-first drop of template anchors
    # (map-side combinable, so mega-anchors never reach a reducer), ONE
    # exchange of the kept rows keyed by compact hash128 ids, capped
    # member arrays, and pairs emitted by array transforms (the lsh.py
    # clique pattern — cap 50 bounds a row to 1225 pair structs). The
    # small surviving pair set joins back to real ids at the end.
    key = compact_key(anchors, id_col)
    if key is None:
        key_col, keyed = id_col, anchors
    else:
        key_col = "_sa_key"
        keyed = anchors.select("anchor", key.alias(key_col))
        # distinct: an id has many anchor rows (group-by-only =>
        # buffer-free HashAggregate; md5 collisions make key<->id
        # effectively bijective)
        idmap = anchors.select(key.alias(key_col), F.col(id_col)).distinct()

    # df >= 2: an anchor seen in one document cannot witness a shared
    # substring — pruning singletons here (the overwhelming majority of
    # anchors) keeps them out of the member join + collect_list entirely
    small = (
        keyed.groupBy("anchor")
        .agg(F.count(F.lit(1)).alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= max_bucket_size))
        .select("anchor")
    )
    members = (
        keyed.join(small, "anchor")
        .groupBy("anchor")
        .agg(F.sort_array(F.collect_list(key_col)).alias("m"))
        .where(F.size("m") >= 2)
    )
    clique = F.flatten(
        F.transform(
            F.col("m"),
            lambda x, i: F.transform(
                F.slice(F.col("m"), i + 2, max_bucket_size),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    # require >= min_shared_anchors distinct shared anchors: a true shared
    # substring of min_len yields ~4 expected anchors; a single chance anchor
    # collision (one common phrase) is pruned before any suffix-array work
    pairs = (
        members.select(F.explode(clique).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        # duplicate (id, anchor) input rows (allowed by the public
        # contract) repeat a key inside the sorted member array, which
        # would emit self-pairs — filter them (ADVICE r5 #1); row-local,
        # runs before the aggregate so it costs nothing measurable
        .where(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_anchors"))
        .where(F.col("n_shared_anchors") >= min_shared_anchors)
        .select("id_a", "id_b")
    )
    if key is not None:
        pairs = key_pairs_to_ids(pairs, idmap, key_col, id_col)
    return pairs


def exact_substring_pairs(
    pairs: DataFrame,
    pages: DataFrame,
    min_len: int,
    id_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Candidate (id_a, id_b) pairs -> those sharing a substring >= min_len.

    Output: id_a, id_b, lcs_len, is_substring_dup.
    """
    texts = pages.select(F.col(id_col), F.col(text_col))
    joined = (
        pairs.join(texts.withColumnRenamed(id_col, "id_a")
                   .withColumnRenamed(text_col, "text_a"), "id_a")
        .join(texts.withColumnRenamed(id_col, "id_b")
              .withColumnRenamed(text_col, "text_b"), "id_b")
    )

    # ids keep their input type: string urls, int64 doc ids
    schema = T.StructType(
        [
            T.StructField("id_a", pairs.schema["id_a"].dataType),
            T.StructField("id_b", pairs.schema["id_b"].dataType),
            T.StructField("lcs_len", T.LongType()),
        ]
    )

    def _kernel(it):
        for pdf in it:
            lens = [
                longest_common_substring_len(ta or "", tb or "")
                for ta, tb in zip(pdf["text_a"], pdf["text_b"])
            ]
            yield pd.DataFrame(
                {"id_a": pdf["id_a"], "id_b": pdf["id_b"], "lcs_len": lens}
            )

    # the kernel is per-row (each pair independent), so mapInPandas with no
    # group key. The joined rows are a few MB, so adaptive execution would
    # coalesce them into one partition and run the CPU-bound kernel as one
    # task; repartition(n, cols) is a fixed-count exchange it never merges.
    n = int(pages.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    out = joined.repartition(n, "id_a", "id_b").mapInPandas(_kernel, schema)
    return out.withColumn("is_substring_dup", F.col("lcs_len") >= F.lit(min_len))

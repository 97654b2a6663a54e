"""Deterministic, engine-portable hashing.

Two hash tiers:

* ``xxhash64`` (Spark built-in, JVM-side) — the scale path for internal
  shuffles/bucketing where no external oracle needs to reproduce the value.
* ``md5``-derived 60-bit integer — the *portable* hash: the identical value
  is computable in Spark SQL, DuckDB SQL and pure Python, which is what lets
  the driver's DuckDB oracle value-hash our dedup outputs. 15 hex chars =
  60 bits, always fits in a signed int64 in every engine.

This replaces the reference's reversible 2-bit k-mer packing
(code/dedup2.py:58-63): at web-text alphabet sizes packing is impossible, so
the hash becomes the representation and collisions are accepted at 60 bits.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def hash60(col: Column) -> Column:
    """Portable 60-bit hash of a string column (Spark side)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hash60_sql(expr: str) -> str:
    """Spark-SQL text form of :func:`hash60` for use inside spark.sql()."""
    return f"CAST(conv(substr(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def hash60_duckdb_sql(expr: str) -> str:
    """DuckDB form — identical value to :func:`hash60`."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def hash60_py(s: str) -> int:
    """Pure-Python form — identical value (used by the local oracle)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def hash128(col: Column) -> Column:
    """128-bit key as BINARY(16) (unhex'd md5).

    For identity keys at the 10^12-doc design point: a single 64-bit (or
    60-bit) key expects tens of thousands of birthday collisions there,
    silently merging unrelated documents; at 128 bits the expectation is
    ~1e-12. BINARY keys stay on the fast hash-aggregate path — struct
    <hi,lo> keys fall off it (measured ~18-170% slowdowns depending on
    the operator)."""
    return F.unhex(F.md5(col))


def compact_key(df: DataFrame, id_col: str) -> Column | None:
    """The key a pair-generating operator shuffles in place of ``id_col``:
    :func:`hash128` of the id for string ids, None when the ids are not
    strings (already compact — the operator keys on them directly).

    Every row of a bucket explode, member sort and pair dedup carries the
    key. String ids (urls, ~40-80 B) would dominate those shuffled bytes,
    and a saturated host pays for shuffle/sort bytes with a hard aggregate
    memory-bandwidth cap (BENCH.md round 5: ~13-22 GB/s total regardless
    of worker count). So the operator runs on 16-byte keys and only the
    final, small pair set goes back to real ids
    (:func:`key_pairs_to_ids`)."""
    if isinstance(df.schema[id_col].dataType, T.StringType):
        return hash128(F.col(id_col))
    return None


def key_pairs_to_ids(pairs: DataFrame, idmap: DataFrame, key_col: str,
                     id_col: str) -> DataFrame:
    """(id_a, id_b) pairs of :func:`compact_key` keys -> (id_a < id_b)
    pairs of real ids, through ``idmap(key_col, id_col)``.

    One join per side; the map is one row per key, broadcastable at bench
    scale and a plain shuffle join of pair-cardinality rows at cluster
    scale. Pairs are re-oriented in id space: the operator ordered them by
    key, which is not the id order."""
    map_a = idmap.select(F.col(key_col).alias("id_a"), F.col(id_col).alias("_ia"))
    map_b = idmap.select(F.col(key_col).alias("id_b"), F.col(id_col).alias("_ib"))
    return (
        pairs.join(map_a, "id_a")
        .join(map_b, "id_b")
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
        )
    )

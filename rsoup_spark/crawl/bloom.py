"""Partitioned Bloom-filter URL-seen set, sharded by host hash.

From-scratch design (north_rule; no reference implementation exists --
rsoup has no frontier):

* The universe is sharded by ``shard_id = pmod(xxhash64(host), n_shards)``
  so every URL of a host lands in one shard: membership tests and
  updates are partition-local after one ``repartition(n_shards,
  shard_id)`` -- no cross-partition state (SURVEY.md §2.3).
* Each shard is a bitarray stored as one ``binary`` row, small enough
  to travel through Arrow.  k probe positions derive from the URL's
  single 64-bit ``xxhash64`` column (computed JVM-side) via splitmix64
  re-mixing -- the only Python work is numpy bit arithmetic.
* Scale math: at 10^10 URLs with n_shards = 65536 and m = 2^27 bits
  (16 MiB) per shard, n/shard ~ 1.5e5 ... sized for FP < 1e-6; shards
  stay independent so they spread across executors.  In the sandbox we
  default to 2^20 bits / 64 shards.
* False negatives are impossible; false positives would silently skip
  URLs.  With ``CrawlConfig.exact_backstop`` on (default), the frontier
  anti-joins the FULL candidate set against the seen table, so fp-hit
  URLs are recovered and counted (``bloom_false_positives`` metric);
  with it off (production, bloom authoritative) the fp-rate loss is
  accepted and sized away via m_bits (FP < 1e-6 above).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    ByteType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

SHARD_SCHEMA = StructType(
    [
        StructField("shard_id", IntegerType(), False),
        StructField("bloom", BinaryType(), False),
        StructField("n_items", LongType(), False),
    ]
)

_SPLITMIX_C1 = np.uint64(0x9E3779B97F4A7C15)
_SPLITMIX_C2 = np.uint64(0xBF58476D1CE4E5B9)
_SPLITMIX_C3 = np.uint64(0x94D049BB133111EB)


def _mix(x: np.ndarray) -> np.ndarray:
    x = (x + _SPLITMIX_C1).astype(np.uint64)
    x ^= x >> np.uint64(30)
    x *= _SPLITMIX_C2
    x ^= x >> np.uint64(27)
    x *= _SPLITMIX_C3
    x ^= x >> np.uint64(31)
    return x


def probe_positions(url_hash: np.ndarray, k: int, m_bits: int) -> np.ndarray:
    """(n,) int64 url hashes -> (n, k) bit positions via double hashing
    h1 + i*h2 (Kirsch-Mitzenmacher construction)."""
    h = url_hash.astype(np.uint64)
    h1 = _mix(h)
    h2 = _mix(h1) | np.uint64(1)  # odd -> full-period stride
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(m_bits)).astype(
        np.int64
    )


def _bit_test(blob: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """blob: (m/8,) uint8; pos: (n,k) -> (n,) bool all-k-bits-set."""
    byte_idx = pos >> 3
    bit = np.uint8(1) << (pos & 7).astype(np.uint8)
    return ((blob[byte_idx] & bit) == bit).all(axis=1)


def _bit_set(blob: np.ndarray, pos: np.ndarray) -> None:
    byte_idx = (pos >> 3).ravel()
    bit = (np.uint8(1) << (pos & 7).astype(np.uint8)).ravel()
    np.bitwise_or.at(blob, byte_idx, bit)


def with_shard_cols(df: DataFrame, url_col: str, host_col: str,
                    n_shards: int, salt: int = 4) -> DataFrame:
    """Adds url_hash (xxhash64, JVM-side) and shard_id columns.

    Sharding is by host-hash with ``salt`` sub-shards per host
    (north_rule: "host-hash salting handles hot-domain skew"): a hot
    host's URLs spread over ``salt`` Bloom shards instead of
    serializing one partition.  The mapping stays a pure function of
    the URL, so membership semantics are unchanged.
    """
    df = df.withColumn("url_hash", F.xxhash64(F.col(url_col)))
    return df.withColumn(
        "shard_id",
        F.pmod(
            F.xxhash64(F.col(host_col), F.pmod("url_hash", F.lit(salt))),
            F.lit(n_shards),
        ).cast("int"),
    )


def empty_shards(spark, n_shards: int, m_bits: int) -> DataFrame:
    blob = bytes(m_bits // 8)
    rows = [(i, blob, 0) for i in range(n_shards)]
    return spark.createDataFrame(rows, SHARD_SCHEMA)


def filter_and_update(
    candidates: DataFrame,
    shards: DataFrame,
    n_shards: int,
    m_bits: int,
    k: int = 5,
    persist: bool = True,
    added: Observation | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame | None]:
    """One pass per shard: test candidates against the shard's Bloom,
    keep probably-unseen ones, and emit the updated shard blob.

    ``candidates`` must carry url_hash + shard_id (``with_shard_cols``).
    Returns (unseen_candidates, new_shards, cached) where ``cached`` is
    the persisted intermediate both outputs derive from (None when
    ``persist=False``) -- the caller must unpersist it once the outputs
    are materialized, or cached shard passes pile up round over round.
    Implemented as a cogrouped applyInPandas so each shard's state is
    touched exactly once per round, partition-locally.  Every shard
    present in ``shards`` emits its state row from the same pass
    (untouched shards pass their blob through), so ``new_shards`` is a
    filter of the pass output -- no aggregation or join back onto the
    old shards.  Persist only when both outputs are consumed; with
    ``added``, the plan of ``new_shards`` records the number of
    candidates inserted (``added``) when it runs.

    Callers must pre-deduplicate: duplicate keys in one batch would all
    read as unseen, since bits are set after the whole batch is tested.
    """
    cand_fields = candidates.schema.fields
    cand_cols = [f.name for f in cand_fields]
    # the shard's state row fills every candidate column with a
    # non-null stand-in (it is told apart by its ``__blob``); a column
    # with no stand-in becomes nullable.  The state columns are set
    # only on that row.
    zero = {IntegerType: 0, LongType: 0, ShortType: 0, ByteType: 0,
            DoubleType: 0.0, FloatType: 0.0, BooleanType: False,
            StringType: "", BinaryType: b""}
    placeholders = {f.name: zero.get(type(f.dataType)) for f in cand_fields}
    out_schema = StructType(
        [
            StructField(f.name, f.dataType,
                        f.nullable or placeholders[f.name] is None)
            for f in cand_fields
        ]
        + [StructField("__unseen", IntegerType(), False),
           StructField("__blob", BinaryType(), True),
           StructField("__n_items", LongType(), True),
           StructField("__added", LongType(), True)]
    )

    def process(key, cand_iter: pd.DataFrame, shard_pdf: pd.DataFrame):
        # cogroup gives all candidate rows + the (single) shard row
        out = cand_iter[cand_cols].copy()
        out["__unseen"] = np.zeros(len(out), dtype="int32")
        if len(shard_pdf) == 0:
            # a shard missing from the state stays missing
            blob = np.zeros(m_bits // 8, dtype=np.uint8)
        elif len(out):
            blob = np.frombuffer(
                shard_pdf.iloc[0]["bloom"], dtype=np.uint8
            ).copy()
        else:
            blob = None  # untouched: pass the stored blob through
        if len(out):
            hashes = out["url_hash"].to_numpy(dtype=np.int64)
            pos = probe_positions(hashes, k, m_bits)
            seen = _bit_test(blob, pos)
            _bit_set(blob, pos[~seen])
            out["__unseen"] = (~seen).astype("int32")
        # state columns are object dtype (values or None), so a 64-bit
        # count never passes through float64
        out = out.assign(__blob=None, __n_items=None, __added=None)
        if len(shard_pdf) == 0:
            return out
        n_added = int(out["__unseen"].sum())
        old = shard_pdf.iloc[0]
        row = {**placeholders, "shard_id": int(key[0]), "__unseen": 0,
               "__blob": old["bloom"] if blob is None else blob.tobytes(),
               "__n_items": int(old["n_items"]) + n_added,
               "__added": n_added}
        return pd.concat([out, pd.DataFrame([row])], ignore_index=True)

    grouped = candidates.groupBy("shard_id").cogroup(
        shards.groupBy("shard_id")
    )
    result = grouped.applyInPandas(
        lambda key, l, r: process(key, l, r), out_schema
    )
    cached = None
    if persist:
        # both outputs derive from one pass over the shard state; cache
        # it so unseen + new_shards don't re-run the cogroup
        result = result.persist()
        cached = result

    unseen = result.where(F.col("__unseen") == 1).select(*cand_cols)
    state_rows = result.where(F.col("__blob").isNotNull())
    if added is not None:
        state_rows = state_rows.observe(
            added, F.coalesce(F.sum("__added"), F.lit(0)).alias("added")
        )
    new_shards = state_rows.select(
        "shard_id",
        F.col("__blob").alias("bloom"),
        F.col("__n_items").alias("n_items"),
    )
    return unseen, new_shards, cached

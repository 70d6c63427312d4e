"""Partitioned cuckoo-filter URL-seen set, sharded by host hash.

Sibling of ``bloom.py`` (the north rule names "bloom/cuckoo" as the
URL-seen structure; no reference implementation exists -- rsoup has no
frontier).  Same sharding contract: ``shard_id = pmod(xxhash64(host,
salt), n_shards)`` so membership tests and updates stay partition-local
after one exchange on ``shard_id``, and each shard's state is a single
``binary`` row small enough to travel through Arrow.

Why a cuckoo filter next to the Bloom (Fan et al., "Cuckoo Filter:
Practically Better Than Bloom", CoNEXT 2014 -- public paper):

* **Deletion.**  A crawl that re-visits URLs (TTL expiry, recrawl
  queues) must *remove* entries from the seen set; Bloom bits cannot be
  cleared without poisoning other keys.  ``cuckoo_delete`` removes one
  fingerprint copy exactly.
* **Lower FP at the same size** once the load factor is moderate
  (16-bit fingerprints give ~ 2b/2^f = 4.9e-4 worst-case per lookup at
  b=4 slots), and lookups touch exactly 2 buckets = 2 cache lines vs
  k scattered bits.
* **Bounded capacity is explicit.**  A full Bloom silently degrades to
  all-positives; a full cuckoo filter *refuses* the insert.  Failures
  are counted per shard (``n_failed``) and surface in crawl metrics --
  with the exact backstop on, correctness is unaffected; without it,
  the failed URL is simply eligible to be rediscovered (a re-crawl,
  never a loss).

Layout per shard: ``n_buckets`` (power of two) buckets x 4 slots of
16-bit fingerprints, fingerprint 0 = empty slot, stored little-endian
as one ``binary`` blob (8 bytes/bucket).  Scale math: at 10^10 URLs
over 65536 shards, ~1.5e5 URLs/shard fit in 2^16 buckets x 4 slots =
262144 slots at load ~0.58 (safe: 2-choice + 4-way buckets sustains
~0.95) = 512 KiB/shard.  Sandbox default is 2^12 buckets (32 KiB).

Vectorization: membership, fingerprinting and first-choice/second-
choice placement are bulk numpy (sort + rank-into-free-slot); only the
*eviction chains* -- which at sane load factors touch a vanishing
fraction of inserts -- walk a bounded per-item loop, with full rollback
on failure so the filter never acquires a false negative.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from .bloom import (
    _mix,
    shard_pass_schema,
    shard_row_placeholders,
    with_shard_row,
)

SLOTS = 4  # slots per bucket (b=4: the paper's sweet spot)

CUCKOO_SHARD_SCHEMA = StructType(
    [
        StructField("shard_id", IntegerType(), False),
        StructField("cuckoo", BinaryType(), False),
        StructField("n_items", LongType(), False),
        StructField("n_failed", LongType(), False),
    ]
)


def _fingerprints(url_hash: np.ndarray, n_buckets: int):
    """(n,) int64 -> (fp uint16 nonzero, i1, i2) with i2 = i1 ^ h(fp).

    The alt-bucket xor uses a re-mix of the fingerprint so it is
    computable from (bucket, fp) alone -- the property the eviction
    walk needs (the paper's partial-key cuckoo hashing).  n_buckets
    must be a power of two for the xor to stay in range.
    """
    mask = np.uint64(n_buckets - 1)
    h = url_hash.astype(np.uint64)
    fp = (_mix(h ^ np.uint64(0xA076_1D64_78BD_642F)) & np.uint64(0xFFFF))
    fp = np.where(fp == 0, np.uint64(1), fp).astype(np.uint16)
    i1 = (_mix(h) & mask).astype(np.int64)
    i2 = (i1 ^ (_mix(fp.astype(np.uint64)) & mask).astype(np.int64))
    return fp, i1, i2


def _alt_bucket(bucket: int, fp: int, n_buckets: int) -> int:
    mask = np.uint64(n_buckets - 1)
    return int(bucket ^ int(_mix(np.array([fp], np.uint64))[0] & mask))


def cuckoo_new(n_buckets: int) -> np.ndarray:
    return np.zeros((n_buckets, SLOTS), dtype=np.uint16)


def cuckoo_contains(table: np.ndarray, url_hash: np.ndarray) -> np.ndarray:
    """(n,) bool: fingerprint present in either candidate bucket.
    Fully vectorized: two gathers + compare."""
    fp, i1, i2 = _fingerprints(url_hash, table.shape[0])
    return ((table[i1] == fp[:, None]).any(axis=1)
            | (table[i2] == fp[:, None]).any(axis=1))


def _bulk_place(table: np.ndarray, buckets: np.ndarray,
                fps: np.ndarray) -> np.ndarray:
    """Place each (bucket, fp) into an empty slot of its bucket where
    possible, without conflicts, in one vectorized pass.

    Items are ranked within their bucket (stable sort) and item r takes
    the (r+1)-th currently-empty slot; distinct (bucket, slot) targets
    by construction, so the scatter write is race-free.  Returns the
    placed mask aligned to the input order.
    """
    n = len(buckets)
    if n == 0:
        return np.zeros(0, dtype=bool)
    order = np.argsort(buckets, kind="stable")
    b = buckets[order]
    f = fps[order]
    # rank of each item within its bucket run
    newgrp = np.concatenate(([True], b[1:] != b[:-1]))
    grp_id = np.cumsum(newgrp) - 1
    grp_start = np.flatnonzero(newgrp)
    rank = np.arange(n) - grp_start[grp_id]
    free = table[b] == 0               # (n, SLOTS) snapshot
    nth_free = free.cumsum(axis=1)     # 1-based index among free slots
    slot = np.full(n, -1, dtype=np.int64)
    for s in range(SLOTS):
        hit = free[:, s] & (nth_free[:, s] == rank + 1) & (slot < 0)
        slot[hit] = s
    ok = slot >= 0
    table[b[ok], slot[ok]] = f[ok]
    out = np.zeros(n, dtype=bool)
    out[order] = ok
    return out


def _evict_insert(table: np.ndarray, bucket: int, fp: int,
                  max_kicks: int = 500) -> bool:
    """Classic eviction walk with rollback: on failure every displaced
    fingerprint is restored, so a full filter refuses the insert
    without ever forgetting an existing one (no false negatives)."""
    n_buckets = table.shape[0]
    cur_b, cur_fp = bucket, int(fp)
    trail: list[tuple[int, int, int]] = []  # (bucket, slot, old_fp)
    for kick in range(max_kicks):
        row = table[cur_b]
        empty = np.flatnonzero(row == 0)
        if empty.size:
            table[cur_b, empty[0]] = cur_fp
            return True
        # deterministic victim slot (seeded by the walk, not a RNG:
        # rounds must replay identically for checkpoint resume).
        # NB: convert to Python int BEFORE the modulo -- numpy's
        # uint64 % python-int promotes to float64, which rounds 64-bit
        # values to multiples of >=4 and silently pins the slot to 0
        s = int(_mix(np.array([cur_fp ^ (kick << 17)], np.uint64))[0]) \
            % SLOTS
        victim = int(table[cur_b, s])
        trail.append((cur_b, s, victim))
        table[cur_b, s] = cur_fp
        cur_fp = victim
        cur_b = _alt_bucket(cur_b, victim, n_buckets)
    for b, s, old in reversed(trail):
        table[b, s] = old
    return False


def cuckoo_insert(table: np.ndarray, url_hash: np.ndarray,
                  max_kicks: int = 500) -> np.ndarray:
    """Bulk insert; returns per-item inserted mask (False = filter
    full).  First-choice then second-choice buckets are filled in two
    vectorized passes; only the overflow remainder walks evictions."""
    fp, i1, i2 = _fingerprints(url_hash, table.shape[0])
    n = len(url_hash)
    placed = np.zeros(n, dtype=bool)
    for target in (i1, i2):
        todo = np.flatnonzero(~placed)
        if not todo.size:
            return placed
        placed[todo] = _bulk_place(table, target[todo], fp[todo])
    for idx in np.flatnonzero(~placed):
        placed[idx] = _evict_insert(
            table, int(i1[idx]), int(fp[idx]), max_kicks
        )
    return placed


def cuckoo_delete(table: np.ndarray, url_hash: np.ndarray) -> np.ndarray:
    """Remove ONE copy of each item's fingerprint from either candidate
    bucket; returns per-item deleted mask.  The slot lookup is a
    vectorized gather; the clear itself resolves same-slot collisions
    sequentially (deletes are the rare TTL/recrawl path, batches are
    small relative to inserts)."""
    fp, i1, i2 = _fingerprints(url_hash, table.shape[0])
    n = len(url_hash)
    out = np.zeros(n, dtype=bool)
    for k in range(n):
        for b in (int(i1[k]), int(i2[k])):
            hit = np.flatnonzero(table[b] == fp[k])
            if hit.size:
                table[b, hit[0]] = 0
                out[k] = True
                break
    return out


def empty_cuckoo_shards(spark, n_shards: int, n_buckets: int) -> DataFrame:
    assert n_buckets & (n_buckets - 1) == 0, "n_buckets must be 2^k"
    blob = cuckoo_new(n_buckets).tobytes()
    rows = [(i, blob, 0, 0) for i in range(n_shards)]
    return spark.createDataFrame(rows, CUCKOO_SHARD_SCHEMA)


def delete_and_update_cuckoo(
    victims: DataFrame,
    shards: DataFrame,
    n_buckets: int,
) -> DataFrame:
    """Remove the victims' fingerprints from their shards (TTL/recrawl
    expiry -- the capability the Bloom twin cannot offer).  ``victims``
    must carry url_hash + shard_id (``with_shard_cols`` with the same
    n_shards/salt as inserts); returns the updated shards DataFrame,
    n_items decremented by the number of fingerprints actually found.
    Same partition-local cogroup shape as the insert pass: every shard
    of ``shards`` comes out of the pass (untouched ones unchanged)."""

    def process(key, vic_pdf: pd.DataFrame, shard_pdf: pd.DataFrame):
        if len(shard_pdf) == 0:
            return shard_pdf
        old = shard_pdf.iloc[:1].copy()
        if len(vic_pdf):
            table = (
                np.frombuffer(old.iloc[0]["cuckoo"], dtype=np.uint16)
                .reshape(-1, SLOTS)
                .copy()
            )
            hashes = vic_pdf["url_hash"].to_numpy(dtype=np.int64)
            gone = cuckoo_delete(table, hashes)
            old["cuckoo"] = [table.tobytes()]
            old["n_items"] = old["n_items"] - int(gone.sum())
        return old

    return victims.groupBy("shard_id").cogroup(
        shards.groupBy("shard_id")
    ).applyInPandas(
        lambda key, l, r: process(key, l, r), CUCKOO_SHARD_SCHEMA
    )


def filter_and_update_cuckoo(
    candidates: DataFrame,
    shards: DataFrame,
    n_shards: int,
    n_buckets: int,
    max_kicks: int = 500,
    persist: bool = True,
    added: Observation | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame | None]:
    """Cuckoo twin of ``bloom.filter_and_update`` -- same cogroup
    contract: one partition-local pass per shard testing candidates and
    emitting every shard's state row; returns (unseen, new_shards,
    cached), and with ``added`` records the number of unseen
    candidates when ``new_shards`` runs.

    An insert that fails (shard full after ``max_kicks`` evictions)
    still reports the URL as unseen -- the crawl proceeds, the URL is
    just not *recorded*, so it may be rediscovered later (re-crawl, not
    loss); the per-shard ``n_failed`` count makes the condition
    observable long before it matters.
    """
    state = [("__blob", BinaryType()), ("__n_items", LongType()),
             ("__n_failed", LongType()), ("__added", LongType())]
    out_schema = shard_pass_schema(candidates.schema, state)
    placeholders = shard_row_placeholders(candidates.schema)
    cand_cols = [f.name for f in candidates.schema.fields]

    def process(key, cand_pdf: pd.DataFrame, shard_pdf: pd.DataFrame):
        out = cand_pdf[cand_cols].copy()
        out["__unseen"] = np.zeros(len(out), dtype="int32")
        if len(shard_pdf):
            old = shard_pdf.iloc[0]
            table = (
                np.frombuffer(old["cuckoo"], dtype=np.uint16)
                .reshape(-1, SLOTS)
                .copy()
            )
        else:
            # a shard missing from the state stays missing
            table = cuckoo_new(n_buckets)
        n_ins = n_fail = 0
        if len(out):
            hashes = out["url_hash"].to_numpy(dtype=np.int64)
            seen = cuckoo_contains(table, hashes)
            inserted = cuckoo_insert(table, hashes[~seen], max_kicks)
            out["__unseen"] = (~seen).astype("int32")
            n_ins, n_fail = int(inserted.sum()), int((~inserted).sum())
        if len(shard_pdf) == 0:
            return out.assign(__blob=None, __n_items=None,
                              __n_failed=None, __added=None)
        return with_shard_row(out, key, placeholders, {
            "__blob": table.tobytes() if len(out) else old["cuckoo"],
            "__n_items": int(old["n_items"]) + n_ins,
            "__n_failed": int(old["n_failed"]) + n_fail,
            "__added": int(out["__unseen"].sum()),
        })

    grouped = candidates.groupBy("shard_id").cogroup(
        shards.groupBy("shard_id")
    )
    result = grouped.applyInPandas(
        lambda key, l, r: process(key, l, r), out_schema
    )
    cached = None
    if persist:
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
        F.col("__blob").alias("cuckoo"),
        F.col("__n_items").alias("n_items"),
        F.col("__n_failed").alias("n_failed"),
    )
    return unseen, new_shards, cached

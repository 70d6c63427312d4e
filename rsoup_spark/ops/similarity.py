"""Similarity search over an embedding column (array<float>).

* ``cosine_topk``      -- brute-force baseline: broadcast the (small)
                          query set against the corpus; dot products via
                          ``aggregate(zip_with(...))`` stay JVM-side.
* ``lsh_ann_topk``     -- scale path: random-hyperplane LSH buckets
                          (deterministic planes from xxhash64 of
                          (dim, plane) pairs), candidates only within a
                          bucket, then exact re-rank.  At 100TB the
                          bucket join replaces the corpus-wide cross
                          product; multi-probe = more plane sets.
* ``embedding_dup_pairs`` -- near-duplicate detection by cosine >= tau.
* ``semdedup``         -- SemDeDup (Abbas et al. 2023): cluster
                          embeddings, mark within-cluster near-dups,
                          keep one representative per duplicate set.
"""

from __future__ import annotations

import logging
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger("rsoup_spark")


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _cos_pre(a, b, na, nb):
    """Cosine with pre-factored norms: ``na``/``nb`` must hold exactly
    ``_norm(a)``/``_norm(b)`` (as a column computed once per row, or a
    Python float computed by the same sequential sum -- both are
    bit-identical to the inline fold, so dot/(na*nb) equals
    ``cosine(a, b)`` to the last ulp).  Factoring the norms out of a
    per-pair expression turns O(pairs) norm folds into O(rows)
    (guide §1.2 "per-task work"): the join-heavy rerank paths below
    compute each vector's norm once instead of once per candidate."""
    return _dot(a, b) / (na * nb)


def _py_norm(vec) -> float:
    """Driver-side twin of ``_norm``: the identical sequential
    float64 fold (+ correctly-rounded sqrt), so a literal centroid
    norm equals the JVM expression bit-for-bit."""
    acc = 0.0
    for x in vec:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbours per query (brute force, broadcast queries).

    Returns (query_id, neighbor_id, cos, rank); ties break on neighbor
    id for determinism; self-matches excluded; cos rounded to 6dp.
    """
    from pyspark.sql.window import Window

    # compute in float64: matches the DuckDB oracle's summation precision.
    # norms are pre-factored per row (O(n + q) folds instead of O(n*q);
    # _cos_pre is bit-identical to the inline cosine)
    qv = F.col(vec_col).cast("array<double>")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        qv.alias("qv"),
        _norm(qv).alias("qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        qv.alias("cv"),
        _norm(qv).alias("cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _cos_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")),
                6,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def plane_weights(
    n_planes: int, dim: int, seed: int = 42
) -> list[list[float]]:
    """Deterministic md5-derived hyperplane weights in [-1, 1].

    Derived on the driver from public md5 (no stored model, no RNG
    state) and inlined as literals, so the identical constants are
    usable from any engine -- the DuckDB oracle replays the exact same
    planes."""
    import hashlib

    out = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int(
                hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()[:15],
                16,
            )
            row.append(round((h % 20001 - 10000) / 10000.0, 4))
        out.append(row)
    return out


def _hyperplane_sig(vec_col, n_planes: int, dim: int, seed: int = 42):
    """Sign signature against the shared deterministic hyperplanes;
    per-row JVM dot products against literal weight arrays.  Kept as the
    expression-level reference for ``_sig_udf`` (equivalence pytest);
    the hot paths use the vectorized UDF."""
    bits = []
    for row in plane_weights(n_planes, dim, seed):
        w = F.array(*[F.lit(x) for x in row])
        dot = F.aggregate(
            F.zip_with(vec_col, w, lambda v, wt: v * wt),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0)))
    sig = bits[0]
    for b in bits[1:]:
        sig = sig * 2 + b
    return sig


def _sig_udf(n_planes: int, dim: int, n_tables: int, seed0: int = 42):
    """Vectorized multi-table signature: ONE numpy GEMM per Arrow batch
    against the stacked (n_tables*n_planes, dim) plane matrix, returning
    array<long> of per-table buckets.  Replaces n_tables*n_planes deep
    literal-expression dot products per row (the round-2 ann_lsh_topk
    constant-factor regression) with a single BLAS call; the bit
    semantics (dot >= 0 -> 1, first plane = MSB) are identical to
    ``_hyperplane_sig``, so the literal-plane SQL oracles replay it
    exactly.  Sequential-vs-GEMM float64 summation can only flip a bit
    when a dot product sits within ~1e-13 of zero -- never observed on
    any fixture; equivalence is pinned by pytest at three scales."""
    from pyspark.sql.functions import pandas_udf

    mats = np.concatenate(
        [
            np.array(plane_weights(n_planes, dim, seed0 + t), dtype=np.float64)
            for t in range(n_tables)
        ],
        axis=0,
    )  # (n_tables * n_planes, dim)
    pw2 = 2 ** np.arange(n_planes - 1, -1, -1, dtype=np.int64)

    @pandas_udf("array<long>")
    def sigs(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        M = np.array(v.tolist(), dtype=np.float64)
        bits = (M @ mats.T >= 0).astype(np.int64)
        buckets = bits.reshape(len(M), n_tables, n_planes) @ pw2
        return pd.Series(list(buckets))

    return sigs


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share a random-hyperplane bucket in
    ANY of ``n_tables`` independent hash tables (seeds 42+t), exact
    cosine re-rank over the deduplicated union.

    Multi-table probing is the recall lever at scale: single-table
    recall falls off a cliff for neighbours near the bucket boundary;
    each extra table multiplies candidate cost by ~1x while recall
    approaches 1 - (1 - p)^T.  Signatures are ONE vectorized numpy GEMM
    per Arrow batch (``_sig_udf``); posexplode turns the per-table
    bucket array into (tbl, bucket) join keys."""
    from pyspark.sql.window import Window

    vec_d = F.col(vec_col).cast("array<double>")
    sig = _sig_udf(n_planes, dim, n_tables)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        vec_d.alias("cv"),
        _norm(vec_d).alias("cn"),
        F.posexplode(sig(vec_d)).alias("tbl", "bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        vec_d.alias("qv"),
        _norm(vec_d).alias("qn"),
        F.posexplode(sig(vec_d)).alias("tbl", "bucket"),
    )
    scored = (
        c.join(F.broadcast(q), ["tbl", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _cos_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")),
                6,
            ).alias("cos"),
        )
        # a pair colliding in several tables must score once
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def _pick_centroids(corpus, n_cells, id_col, vec_col, centroid_stride):
    """Bounded deterministic centroid sample: the ``n_cells`` smallest
    ids with id % centroid_stride == 0 -- only ``n_cells`` rows ever
    reach the driver (never the full id set), so centroid picking stays
    O(n_cells) at any corpus size."""
    return (
        corpus.where(F.col(id_col) % centroid_stride == 0)
        .orderBy(id_col)
        .limit(n_cells)  # bounded: exactly n_cells rows to the driver
        .select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        )
        .collect()
    )


def _sql_double(x: float) -> str:
    """Exact SQL double literal: ``repr`` emits the shortest decimal
    that round-trips the IEEE value, and Spark parses double literals
    with correctly-rounded ``Double.parseDouble``, so the parsed
    constant is the identical bits.  NaN and the infinities have no
    literal form (``nanD``/``infD`` do not parse); they are casts of
    the strings Spark's double cast accepts."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        sign = "" if x > 0 else "-"
        return f"CAST('{sign}Infinity' AS DOUBLE)"
    return repr(x) + "D"


def _sql_int(x: int) -> str:
    """SQL integer literal with the same type ``F.lit(int)`` produced:
    IntegerType when it fits, LongType (L suffix) otherwise."""
    return str(int(x)) + ("" if -(2**31) <= int(x) < 2**31 else "L")


def _cent_arrays_sql(cents) -> tuple[str, str]:
    """(centroid matrix, centroid norms) as SQL array-literal text.
    Norms are Python-float literals (``_py_norm`` replays the JVM fold
    bit-for-bit)."""
    mat = "array(" + ",".join(
        "array(" + ",".join(_sql_double(v) for v in r["cv"]) + ")"
        for r in cents
    ) + ")"
    norms = "array(" + ",".join(
        _sql_double(_py_norm(r["cv"])) for r in cents
    ) + ")"
    return mat, norms


def _cell_assigner(cents):
    """argmax_centroid cosine, ties -> smallest centroid id; a per-row
    JVM expression against broadcast centroid literals (map-only).

    Centroid norms are Python-float literals (``_py_norm`` replays the
    JVM fold bit-for-bit) and the row norm is passed in pre-computed,
    so the n_cells-cosine argmax costs n_cells dots + ONE norm fold
    per row instead of 2*n_cells folds -- the produced cell ids are
    unchanged to the last ulp.

    The whole argmax is built as ONE ``F.expr`` over SQL text instead
    of per-centroid Python column algebra: the former unrolled
    construction (64 ``F.lit`` + two HOF lambdas per centroid) issued
    ~2000 driver-blocking py4j calls and cost 1.0-2.3s of QUERY
    CONSTRUCTION per ivf/semdedup invocation -- more than their
    execution; one parsed expression is ~2ms (guide §7.3: planning
    overhead is driver-side, single-threaded).  The SQL ``aggregate/
    zip_with`` lambdas lower to the identical Catalyst nodes as the
    Python HOFs, and the fold order per centroid is unchanged, so
    every cosine -- and therefore every cell id -- is bit-identical
    (asserted by tests against the unrolled form).  Takes column NAMES
    (resolved in the caller's projection scope)."""
    mat, norms = _cent_arrays_sql(cents)
    negcids = "array(" + ",".join(
        _sql_int(-int(r["cid"])) for r in cents
    ) + ")"

    def cell_of(vec_name: str, norm_name: str):
        e = (
            "-(array_max(zip_with(zip_with(" + mat + ", " + norms + ", "
            "(cv, cn) -> struct(cv as cv, cn as cn)), " + negcids + ", "
            "(cc, ncid) -> struct("
            "aggregate(zip_with(" + vec_name + ", cc.cv, (x, y) -> x * y), "
            "0.0D, (acc, w) -> acc + w) / (" + norm_name + " * cc.cn) "
            "as cos, ncid as negcid))).negcid)"
        )
        return F.expr(e).alias("cell")

    return cell_of


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_stride: int = 31,
) -> DataFrame:
    """IVF-style ANN: corpus vectors are assigned to the nearest of
    ``n_cells`` centroids; each query probes its ``n_probe`` nearest
    cells and re-ranks exactly within them.

    Centroid selection is a *bounded* deterministic sample: the
    ``n_cells`` smallest ids with id % centroid_stride == 0 -- only
    ``n_cells`` rows ever reach the driver (never the full id set), so
    centroid picking stays O(n_cells) at any corpus size.

    Assignment and probing are per-row JVM expressions against the
    broadcast centroid literals (map-only, no shuffle, no Python), so
    the whole pipeline is expressible in ANSI SQL for the oracle; the
    search join then touches only n_probe/n_cells of the corpus.
    """
    from pyspark.sql.window import Window

    cents = _pick_centroids(corpus, n_cells, id_col, vec_col,
                            centroid_stride)
    cell_of = _cell_assigner(cents)
    mat, norms = _cent_arrays_sql(cents)
    cids = "array(" + ",".join(_sql_int(int(r["cid"])) for r in cents) + ")"

    def probes_of(vec_name: str, norm_name: str):
        """n_probe nearest cells, cos desc then centroid id asc --
        one parsed SQL expression (see ``_cell_assigner`` for why)."""
        e = (
            "transform(slice(sort_array(zip_with(zip_with(" + mat + ", "
            + norms + ", (cv, cn) -> struct(cv as cv, cn as cn)), "
            + cids + ", (cc, cid) -> struct("
            "-(aggregate(zip_with(" + vec_name + ", cc.cv, (x, y) -> x * y), "
            "0.0D, (acc, w) -> acc + w) / (" + norm_name + " * cc.cn)) "
            "as negcos, cid as cid))), 1, " + str(int(n_probe)) + "), "
            "s -> s.cid)"
        )
        return F.expr(e)

    # staged projections: the norm fold is consumed by every centroid
    # cosine AND the final rerank, so it lives in its own Project
    # (CollapseProject keeps non-cheap multiply-consumed expressions
    # staged) and is computed once per row
    vd = F.col(vec_col).cast("array<double>")
    cbase = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        vd.alias("cv"),
        _norm(vd).alias("cn"),
    )
    c = cbase.select(
        "neighbor_id", "cv", "cn",
        cell_of("cv", "cn"),
    )
    qbase = queries.select(
        F.col(id_col).alias("query_id"),
        vd.alias("qv"),
        _norm(vd).alias("qn"),
    )
    q = qbase.select(
        "query_id", "qv", "qn",
        F.explode(probes_of("qv", "qn")).alias("cell"),
    )
    # each neighbor lives in exactly one cell and a query's probe cells
    # are distinct, so (query, neighbor) pairs are already unique
    scored = (
        c.join(F.broadcast(q), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _cos_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")),
                6,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def semdedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_stride: int = 31,
    cell_cap: int = 1000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by
    clustering embeddings and pruning within-cluster near-duplicates.

    Vectors are assigned to the nearest of ``n_cells`` deterministic
    centroids (the ``ivf_topk`` assignment, map-only against broadcast
    centroid literals); within each cell, a vector is a duplicate iff
    some lower-id *anchor* in the same cell has cosine >= ``threshold``
    with it, and the kept representative of every duplicate set is its
    smallest id (a deterministic stand-in for the paper's
    farthest-from-centroid choice).  Cosines compare ROUNDED to 6dp so
    the keep decision can never flip on a cross-engine float ulp.

    Scale shape: never all-pairs.  The only comparisons are cell-local
    (corpus vs the cell's ``cell_cap`` smallest-id anchors), so work is
    O(|cell| * cell_cap) per cell and the join is keyed on ``cell`` --
    co-located, skew-bounded by the cap, no broadcast of the corpus.
    A monster cell (degenerate embeddings, the LSH hot-bucket class of
    problem) degrades to capped-anchor comparison instead of going
    quadratic; vectors beyond the cap can still be *marked* duplicates,
    they just can't anchor new ones.

    Returns (vec_id, cell, keep, dup_of, max_cos): ``dup_of`` is the
    smallest anchor id that marked the vector (NULL when kept),
    ``max_cos`` its best within-cell similarity to a lower anchor.

    The assignment subtree is referenced three times (anchors, probe
    side, final left join), so it is computed ONCE and
    local-checkpointed -- the checkpoint both stops the triple
    re-scan/re-assignment and truncates the (n_cells x dim literal)
    expression tree out of the three downstream plans, which otherwise
    pay its analysis/codegen three times.
    """
    from pyspark.sql.window import Window

    cents = _pick_centroids(corpus, n_cells, id_col, vec_col,
                            centroid_stride)
    cell_of = _cell_assigner(cents)
    base = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        _norm(F.col(vec_col).cast("array<double>")).alias("nv"),
    )
    assign = base.select(
        "vec_id", "v", "nv", cell_of("v", "nv")
    ).localCheckpoint()
    anchors = (
        assign.withColumn(
            "ar",
            F.row_number().over(
                Window.partitionBy("cell").orderBy("vec_id")
            ),
        )
        .where(F.col("ar") <= cell_cap)
        .select(
            F.col("vec_id").alias("aid"),
            F.col("v").alias("av"),
            F.col("nv").alias("na"),
            "cell",
        )
    )
    hits = (
        assign.join(anchors, "cell")
        .where(F.col("aid") < F.col("vec_id"))
        .select(
            "vec_id",
            "aid",
            F.round(
                _cos_pre(F.col("v"), F.col("av"), F.col("nv"), F.col("na")),
                6,
            ).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
        .groupBy("vec_id")
        .agg(
            F.min("aid").alias("dup_of"),
            F.max("cos").alias("max_cos"),
        )
    )
    return assign.join(hits, "vec_id", "left").select(
        "vec_id",
        "cell",
        F.col("dup_of").isNull().alias("keep"),
        "dup_of",
        "max_cos",
    )


MAX_LSH_TABLES = 32


def _lsh_tables(tau: float, n_planes: int, target_recall: float) -> int:
    """Hash-table count for per-pair recall >= target_recall at cos=tau.

    Per-plane collision p1 = 1 - acos(tau)/pi; per-table p1^n_planes;
    T tables miss with (1 - p1^b)^T.  Returns the UNCAPPED requirement;
    callers compare against MAX_LSH_TABLES -- beyond that the threshold
    is too low for hyperplane LSH to filter anything and the exact
    blocked GEMM is the honest choice (embedding_dup_pairs falls back
    automatically)."""
    p1 = 1.0 - math.acos(max(min(tau, 1.0), -1.0)) / math.pi
    pt = p1 ** n_planes
    if pt >= 1.0:
        return 1
    t = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pt))
    return max(1, t)


def embedding_dup_pairs(
    vectors: DataFrame,
    tau: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 16,
    method: str = "lsh",
    n_planes: int = 12,
    n_tables: int | None = None,
    dim: int = 64,
    target_recall: float = 0.999,
) -> DataFrame:
    """Near-duplicate vector pairs: cosine >= tau, id_a < id_b.

    method="lsh" (default -- the 100TB path): candidate pairs must
    share a random-hyperplane bucket in at least one of ``n_tables``
    deterministic hash tables (auto-sized from tau for per-pair recall
    >= ``target_recall``), then survivors are re-scored with the exact
    JVM cosine at tau.  Candidate generation touches ~n*T tiny
    (id, tbl, bucket) rows instead of n^2 vector pairs, so total work
    is sub-quadratic whenever tau is high enough for the buckets to
    discriminate (tau >= ~0.8; below that hyperplane collisions stop
    filtering and the exact blocked methods are the honest choice).
    Recall is probabilistic over the plane draw but the planes are
    deterministic (md5-seeded), so a given corpus always yields the
    same pairs.

    ``n_planes`` trades candidate selectivity against table count:
    12 planes = 4096 buckets/table needs ~1.7x the tables of 8 planes
    for the same per-pair recall, but random (non-dup) collisions fall
    ~16x per table, so the exact-rerank stage -- the dominant cost, an
    interpreted 64-dim fold per candidate -- sees ~7x fewer pairs
    (measured 467k -> 65k candidates, rerank 3.5s -> 0.8s at sf0.1).
    The recall floor is still enforced by the auto-sizer at any value.

    The LSH path local-checkpoints the (id, vector, norm) projection
    and the (id, tbl, bucket) posting table, so the signature GEMM runs
    ONCE (the bucket self-join otherwise re-embeds -- and re-runs --
    the ArrowEvalPython subtree on both sides) and the vector table is
    scanned once instead of three times (sig + both rerank sides).

    Exact methods (every pair scored; quadratic FLOPs, kept as the
    verification oracle for the LSH path and for low-tau use):

    method="gemm": blocked all-pairs -- vectors hash into ``n_blocks``
    blocks and the B*(B+1)/2 unordered block pairs become cogroup keys,
    each scored as ONE numpy matmul (vectorized float64 BLAS, ~10-50x
    the per-pair JVM expression), emitting candidates at tau - 1e-6;
    survivors re-scored exactly in the JVM, so the result is
    bit-identical to method="join" (the 1e-6 margin swamps the
    GEMM-vs-sequential float64 summation difference, ~1e-15).  Work
    spreads evenly over uniform tasks with bounded shuffle (each vector
    copied (B+1)/2 times) -- never a CartesianProduct node.  At 100TB
    pick n_blocks so a block pair fits one task
    (B ~ sqrt(n*d*8 / task_mem)).
    method="join": pure-JVM equi-join scoring (no Python stage).
    """
    if method == "lsh" and n_tables is None:
        need = _lsh_tables(tau, n_planes, target_recall)
        if need > MAX_LSH_TABLES:
            # tau too low for hyperplane buckets to discriminate at the
            # requested recall -- the docstring's "honest choice" made
            # automatic instead of silently keeping a capped (and
            # recall-lossy) table count
            log.warning(
                "embedding_dup_pairs: method='lsh' needs %d hash tables "
                "at tau=%s with n_planes=%d, over MAX_LSH_TABLES=%d; "
                "running the exact method='gemm' instead",
                need, tau, n_planes, MAX_LSH_TABLES,
            )
            method = "gemm"
        else:
            n_tables = need
    if method == "lsh":
        # n_tables is always set here: explicit from the caller, or
        # assigned by the auto-sizer above (which otherwise switched
        # method to "gemm")
        T = n_tables
        sig = _sig_udf(n_planes, dim, T)
        vd = F.col(vec_col).cast("array<double>")
        v = vectors.select(
            F.col(id_col).alias("id"),
            vd.alias("v"),
            _norm(vd).alias("nv"),
        ).localCheckpoint()
        # candidates carry ids only: the (id, tbl, bucket) rows shuffled
        # by the bucket join are ~16 bytes each, T copies per vector --
        # the vectors themselves move once, in the re-rank equi-joins
        sigd = v.select(
            "id", F.posexplode(sig(F.col("v"))).alias("tbl", "bucket")
        ).localCheckpoint()
        a = sigd.select(
            F.col("id").alias("id_a"), "tbl", "bucket"
        )
        b = sigd.select(
            F.col("id").alias("id_b"), "tbl", "bucket"
        )
        cand = (
            a.join(b, ["tbl", "bucket"])
            .where(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
            .select("id_a", "id_b")
        )
        va = v.select(
            F.col("id").alias("id_a"),
            F.col("v").alias("va"),
            F.col("nv").alias("na"),
        )
        vb = v.select(
            F.col("id").alias("id_b"),
            F.col("v").alias("vb"),
            F.col("nv").alias("nb"),
        )
        return (
            cand.join(va, "id_a")
            .join(vb, "id_b")
            .select(
                "id_a",
                "id_b",
                F.round(
                    _cos_pre(
                        F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
                    ),
                    6,
                ).alias("cos"),
            )
            .where(F.col("cos") >= tau)
        )

    B = n_blocks
    spark = vectors.sparkSession
    pair_rows = [
        (a * B + b, a, b) for a in range(B) for b in range(a, B)
    ]
    # two independent tiny DataFrames (not one aliased twice): the
    # left/right joins would otherwise share lineage and trip Spark's
    # ambiguous-self-join analysis inside the cogroup
    pairs = spark.createDataFrame(pair_rows, "pk INT, ba INT, bb INT")
    pairs_r = spark.createDataFrame(
        [(pk, b) for pk, _a, b in pair_rows], "pk INT, b2 INT"
    )

    vdb = F.col(vec_col).cast("array<double>")
    v = vectors.select(
        F.col(id_col).alias("id"),
        vdb.alias("v"),
        _norm(vdb).alias("nv"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int").alias("blk"),
    )
    left = v.join(F.broadcast(pairs), v["blk"] == pairs["ba"]).select(
        F.col("id").alias("id_x"), F.col("v").alias("vx"),
        F.col("nv").alias("nx"), "pk", "ba", "bb"
    )
    right = v.join(
        F.broadcast(pairs_r), v["blk"] == pairs_r["b2"]
    ).select(F.col("id").alias("id_y"), F.col("v").alias("vy"),
             F.col("nv").alias("ny"), "pk")

    if method == "gemm":
        margin = 1e-6

        def score(key, l: pd.DataFrame, r: pd.DataFrame):
            if len(l) == 0 or len(r) == 0:
                return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
            same_block = bool(l["ba"].iloc[0] == l["bb"].iloc[0])
            A = np.array(l["vx"].tolist(), dtype=np.float64)
            Bm = np.array(r["vy"].tolist(), dtype=np.float64)
            A /= np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-300)
            Bm /= np.maximum(np.linalg.norm(Bm, axis=1, keepdims=True), 1e-300)
            sims = A @ Bm.T
            ia, ib = np.nonzero(sims >= tau - margin)
            id_x = l["id_x"].to_numpy()[ia]
            id_y = r["id_y"].to_numpy()[ib]
            if same_block:
                keep = id_x < id_y
            else:
                keep = id_x != id_y
            id_x, id_y = id_x[keep], id_y[keep]
            return pd.DataFrame(
                {
                    "id_a": np.minimum(id_x, id_y),
                    "id_b": np.maximum(id_x, id_y),
                }
            )

        cand = (
            left.groupBy("pk")
            .cogroup(right.groupBy("pk"))
            .applyInPandas(score, "id_a LONG, id_b LONG")
        )
        vd2 = F.col(vec_col).cast("array<double>")
        va = vectors.select(
            F.col(id_col).alias("id_a"),
            vd2.alias("va"),
            _norm(vd2).alias("na"),
        )
        vb = vectors.select(
            F.col(id_col).alias("id_b"),
            vd2.alias("vb"),
            _norm(vd2).alias("nb"),
        )
        return (
            cand.join(va, "id_a")
            .join(vb, "id_b")
            .select(
                "id_a",
                "id_b",
                F.round(
                    _cos_pre(
                        F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
                    ),
                    6,
                ).alias("cos"),
            )
            .where(F.col("cos") >= tau)
        )

    joined = left.join(right, "pk").where(
        # same-block pairs appear in both orientations: keep one;
        # cross-block pairs appear exactly once: keep it, order below
        (F.col("ba") != F.col("bb")) | (F.col("id_x") < F.col("id_y"))
    )
    return (
        joined.select(
            F.least("id_x", "id_y").alias("id_a"),
            F.greatest("id_x", "id_y").alias("id_b"),
            F.round(
                _cos_pre(F.col("vx"), F.col("vy"), F.col("nx"), F.col("ny")),
                6,
            ).alias("cos"),
        )
        .where(F.col("cos") >= tau)
    )

"""Deduplication operators over a documents table.

Scale design notes (the part the 100TB plan hangs on):

* exact dedup       -- one shuffle on a 32-char md5 key; map-side
                       partial agg applies; no Python.
* jaccard near-dup  -- shingle inverted-index join: explode distinct
                       shingles, self-join on shingle, count common,
                       filter by |A∩B| / (|A|+|B|-|A∩B|).  The join key
                       is the shingle, so hot shingles are the skew
                       risk: a df cap (``max_doc_freq``) drops
                       stop-shingles before the join, which is both a
                       quality and a skew fix (standard trick).
* minhash LSH       -- k minhashes from one 64-bit hash per shingle
                       (splitmix64 re-mix, no per-perm hashing), banded
                       into b buckets; candidate pairs only within a
                       band bucket -> the cross product never
                       materializes.  Verification joins back to exact
                       jaccard.
* simhash           -- 64-bit simhash per doc; near-dups = hamming
                       distance <= k, found by pigeonhole banding
                       (split 64 bits into k+1 chunks, bucket-join on
                       any equal chunk).
* dup_clusters      -- connected components over any of the pair
                       outputs above (min-label propagation, one
                       bounded shuffle per round), giving the
                       "keep one survivor per duplicate cluster"
                       assignment a training-data pipeline ends with.

Every operator returns plain DataFrames keyed by doc ids, smallest id
first, so results are deterministic and oracle-comparable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .textstats import collapsed, doc_fingerprint, ngram_join, tokens


def exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of byte-identical (after whitespace collapse) documents.

    Returns (fingerprint, n_docs, keep_id, dup_ids) for groups with >1 doc.
    """
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            doc_fingerprint(F.col(text_col)).alias("fingerprint"),
        )
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
            F.sort_array(F.collect_list("doc_id")).alias("all_ids"),
        )
        .where(F.col("n_docs") > 1)
    )


def _shingles(text_col, n: int):
    """Distinct word n-grams as an array column (JVM-side).

    n=1 -> distinct words; n>1 -> space-joined sliding windows built
    as a zip_with fold over (n-1) shifted slices of the token array:
    acc[i] = toks[i] + ' ' + toks[i+1] + ... -- exactly the strings
    ``array_join(slice(toks, i+1, n), ' ')`` produced, but with two
    string concats per position instead of a fresh n-element slice +
    join per position.  The former transform-over-indices form ran the
    non-literal slice in the interpreted evaluator once per position
    and measured ~6x slower at sf0.1 (8.4s -> 1.4s for the posting
    map stage); this construction feeds every dedup operator, so it is
    the single hottest expression in the suite (guide §1.2 step 2).
    """
    toks = tokens(text_col)
    if n == 1:
        return F.array_distinct(toks)
    return F.array_distinct(
        F.when(F.size(toks) >= n, ngram_join(toks, n)).otherwise(F.array())
    )


def jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 1,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All unordered doc pairs with shingle-set Jaccard >= threshold.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded to 6
    decimals for portable comparison.

    The (doc_id, shingle-array) table is local-checkpointed: the
    posting stream derived from it is consumed by up to three subtrees
    (the df-cap count, and both self-join sides when the planner's
    broadcast conversion duplicates them) and each otherwise
    re-tokenizes the corpus.  Checkpointing the ARRAY table (one row
    per doc) rather than the exploded posting stream keeps the barrier
    cheap -- a posting-stream checkpoint was measured SLOWER
    (4.96 -> 5.90s) while this one wins (4.06 -> 2.98s at sf0.1)."""
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        _shingles(F.col(text_col), ngram).alias("shingles"),
    ).localCheckpoint()
    # carry the full (pre-cap) shingle-set size on each posting row: +8
    # bytes per row in the shuffle buys away two doc-id joins afterwards
    # (a sizes side-table is one row per doc -- not broadcastable at 1e9
    # docs, and joining it twice re-shuffles the whole candidate stream)
    posting = base.select(
        "doc_id",
        F.size("shingles").alias("n_shingles"),
        F.explode("shingles").alias("shingle"),
    )
    if max_doc_freq is not None:
        # df cap: stop-shingles are both a quality signal (they carry no
        # dedup evidence) and THE skew bomb in the self-join below --
        # a shingle in f docs contributes f^2 join rows on one key.
        # Computed in its own subtree with map-side partial combine so a
        # planet-wide shingle is ONE reducer row and its postings are
        # dropped map-side, before any shuffle of the posting stream.
        hot = (
            posting.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") > max_doc_freq)
            .select("shingle")
        )
        posting = posting.join(F.broadcast(hot), "shingle", "left_anti")

    # NB the self-join's b side is duplicated by the planner's
    # broadcast conversion at bench scale (4 scans in the sf0.1 plan);
    # an explicit repartition("shingle") deduplicating the sides into
    # one exchange was tried in round 6 and measured NEUTRAL-to-worse
    # locally (the shuffle + SMJ sorts cost more than the duplicated
    # map-side scan/explode, which is cheap).  At cluster scale the
    # sides exceed the broadcast threshold and both shuffle to ONE
    # reused exchange automatically (canonically identical subtrees),
    # so no explicit repartition is needed there either.
    a = posting.alias("a")
    b = posting.alias("b")
    common = (
        a.join(b, "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(
            F.count("*").alias("n_common"),
            F.first(F.col("a.n_shingles")).alias("size_a"),
            F.first(F.col("b.n_shingles")).alias("size_b"),
        )
    )
    return (
        common.withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """(doc_id, sig array<long>): MinHash signature over word n-grams.

    One xxhash64 per shingle (JVM-side), then ``num_hashes`` cheap
    re-mixes h_i = splitmix-style mix(shingle_hash XOR seed_i), min per
    i -- aggregate over the exploded postings, fully codegen, no Python.

    (A round-6 experiment replaced the explode + 64-min groupBy with a
    map-only nested higher-order-function formulation -- array_min
    over per-permutation transform -- to remove the shuffle.  It was
    3-5x SLOWER despite the saved exchange: nested HOFs fall out of
    whole-stage codegen into the interpreted evaluator with per-row
    array allocation and boxing, while the 64-aggregate hash aggregate
    is primitive codegen end-to-end.  Kept the explode form; guide
    §1.1's "the ideal plan is usually slower at first because of some
    gotcha" in the flesh.)
    """
    posting = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_shingles(F.col(text_col), ngram)).alias("shingle"),
    ).select("doc_id", F.xxhash64("shingle").alias("h"))

    # deterministic per-permutation mixers: xxhash64(h, i) is itself a
    # strong 64-bit mix and stays in the JVM
    mins = [
        F.min(F.xxhash64(F.col("h"), F.lit(i))).alias(f"m{i}")
        for i in range(num_hashes)
    ]
    agg = posting.groupBy("doc_id").agg(*mins)
    return agg.select(
        "doc_id", F.array(*[f"m{i}" for i in range(num_hashes)]).alias("sig")
    )


def _capped_bucket_pairs(
    buckets: DataFrame,
    key_cols: list,
    max_bucket_size: int | None,
    payload: str | None = None,
):
    """Self-join candidate pairs within buckets, with hot buckets
    (> ``max_bucket_size`` rows) collapsed to a star on the bucket's
    min-doc_id representative.

    The bucket self-join is quadratic in bucket size, so one
    degenerate key (boilerplate-heavy web corpora routinely share a
    band) would otherwise dominate the whole job -- the same skew bomb
    ``jaccard_pairs`` defuses with its df cap.  An over-cap bucket is
    by construction a near-clique duplicate set, so emitting only the
    (representative, member) star keeps every member connected (the
    downstream ``dup_clusters`` labeling is unchanged for true
    cliques) while bounding its candidates at O(bucket) instead of
    O(bucket^2).  Pairwise output inside an over-cap bucket is the
    star subset -- acceptable precision loss exactly where exhaustive
    pair emission is the scale failure.

    One shuffle: sizes and representatives come from a window over the
    bucket key, co-partitioned with the self-join's own exchange.
    Returns (id_a, id_b [, payload_a, payload_b]) with id_a < id_b,
    NOT yet distinct (callers dedup after any verify columns).
    """
    pay = [payload] if payload else []
    if max_bucket_size is not None:
        w = Window.partitionBy(*key_cols)
        rep_struct = F.min(F.struct("doc_id", *pay)).over(w)
        # the windowed bucket table feeds THREE subtrees (both self-join
        # sides + the star path) and the planner re-embeds -- and
        # re-runs -- the explode + exchange + window per reference (3
        # Window nodes in the un-materialized plan, no ReusedExchange).
        # One eager checkpoint computes it once; the table is skinny
        # (ids + band keys + size), bands x corpus rows.
        sized = (
            buckets.withColumn("__bsz", F.count("*").over(w))
            .withColumn("__rep", rep_struct)
            .localCheckpoint()
        )
        ok = sized.where(F.col("__bsz") <= max_bucket_size).drop(
            "__bsz", "__rep"
        )
        hot = sized.where(F.col("__bsz") > max_bucket_size)
        star = hot.where(F.col("doc_id") != F.col("__rep.doc_id")).select(
            F.col("__rep.doc_id").alias("id_a"),
            F.col("doc_id").alias("id_b"),
            *[
                F.col(f"__rep.{p}").alias(f"{p}_a") for p in pay
            ],
            *[F.col(p).alias(f"{p}_b") for p in pay],
        )
    else:
        ok, star = buckets, None
    a = ok.alias("a")
    b = ok.alias("b")
    pairs = (
        a.join(b, key_cols)
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            *[F.col(f"a.{p}").alias(f"{p}_a") for p in pay],
            *[F.col(f"b.{p}").alias(f"{p}_b") for p in pay],
        )
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs


def _band_buckets(
    sig: DataFrame, num_hashes: int, bands: int, extra: list | None = None
) -> DataFrame:
    """Explode a signature table into (doc_id, band, key [, extra])
    LSH bucket rows: key = xxhash64 of the band's signature slice."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        chunk = F.slice("sig", b * rows_per_band + 1, rows_per_band)
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(chunk.cast("string")).alias("key"),
            )
        )
    return sig.select(
        "doc_id", *(extra or []),
        F.explode(F.array(*band_cols)).alias("bk"),
    ).select("doc_id", *(extra or []), "bk.band", "bk.key")


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    verify: str = "signature",
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH, then verified.

    verify="signature" (default): sim = fraction of matching minhashes
    (>= threshold); returns (id_a, id_b, sim), id_a < id_b.

    verify="jaccard": candidates are re-checked against the *exact*
    shingle-set Jaccard (array_intersect on the two shingle sets, one
    join back to the docs per side); returns (id_a, id_b, jaccard)
    with jaccard >= threshold.  This is the standard LSH-then-verify
    pipeline: the banded join bounds candidate generation at scale and
    the exact check removes LSH false positives, so the output is a
    subset of the brute-force Jaccard result that (at recall ~1 for
    sims well above threshold) equals it -- making it oracle-checkable
    against the same SQL as the exact operator.

    ``max_bucket_size`` caps the band-bucket self-join (the one
    quadratic stage): over-cap buckets emit a min-id-representative
    star instead of all pairs -- see ``_capped_bucket_pairs``.  The
    1000 default mirrors ``jaccard_pairs``' df cap; None disables.
    """
    # materialize the signature table once: the capped bucket pipeline
    # alone references it from up to three subtrees (window-sized
    # buckets, the broadcast-converted self-join side, the star path --
    # no ReusedExchange saves it, the planner re-embeds and re-runs the
    # explode + 64-min aggregate per reference), and signature verify
    # adds both join sides on top.  An eager localCheckpoint beats
    # persist here: it also truncates the signature subtree out of the
    # downstream plans (measured 3.0s -> 2.4s at sf0.1, verify=jaccard)
    sig = minhash_signatures(
        docs, id_col, text_col, ngram, num_hashes
    ).localCheckpoint()
    buckets = _band_buckets(sig, num_hashes, bands)

    cand = _capped_bucket_pairs(
        buckets, ["band", "key"], max_bucket_size
    ).distinct()

    if verify == "jaccard":
        # the shingle table feeds BOTH verify join sides; materialize it
        # once or each side re-tokenizes the corpus (two full text
        # passes for one logical computation)
        sh = docs.select(
            F.col(id_col).alias("doc_id"),
            _shingles(F.col(text_col), ngram).alias("sh"),
        ).localCheckpoint()
        ja = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
        jb = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        union = F.size("sh_a") + F.size("sh_b") - inter
        return (
            cand.join(ja, "id_a")
            .join(jb, "id_b")
            .withColumn("jaccard", F.round(inter / union, 6))
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    sa = sig.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "sim",
            F.round(
                F.size(
                    F.filter(
                        F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                        lambda eq: eq,
                    )
                )
                / F.lit(num_hashes),
                6,
            ),
        )
        .where(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def minhash_lsh_incremental(
    new_docs: DataFrame,
    index_sig: DataFrame,
    corpus_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    verify: str = "signature",
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Incremental near-dup detection: match a NEW batch of documents
    against a persisted signature index (plus itself) -- the form a
    per-crawl dedup actually runs at 100 TB, where re-self-joining all
    of history every increment is the scale failure.

    ``index_sig`` is a (doc_id, sig) table from ``minhash_signatures``
    over the historical corpus (checkpointed once, appended per crawl);
    only the batch is shingled and hashed here.  Doc ids must be
    monotone across crawls (history < batch -- what crawl-round or
    ``densify_ids`` assignment gives): pairs are emitted as
    (id_a, id_b) with id_a < id_b and id_b ALWAYS in the new batch, so
    history-history pairs (already found by previous increments) are
    never generated -- the bucket join is new-side x bucket, not a
    bucket self-join.

    Hot buckets are star-capped exactly like ``minhash_lsh_pairs``
    (min-id representative, new members only -- over-cap buckets are
    near-cliques, so the star keeps every new member attached to the
    duplicate set at O(bucket) candidates).

    verify="signature": sim = matching-minhash fraction from the two
    signatures (index docs never re-read).  verify="jaccard": the few
    candidates re-check exact shingle Jaccard against ``corpus_docs``
    (history + batch raw text -- O(candidates) point lookups, the
    standard verify-side pattern), making the output oracle-equal to
    brute-force Jaccard restricted to batch-side pairs.
    """
    sig_new = minhash_signatures(
        new_docs, id_col, text_col, ngram, num_hashes
    )
    if verify != "jaccard":
        sig_new = sig_new.persist()
    all_sig = index_sig.select(
        "doc_id", "sig", F.lit(False).alias("is_new")
    ).unionByName(
        sig_new.select("doc_id", "sig", F.lit(True).alias("is_new"))
    )
    # materialize the combined signature table ONCE: the capped bucket
    # join references it from up to three subtrees (both join sides +
    # the star path) and the planner's broadcast conversion otherwise
    # re-embeds -- and re-runs -- the whole explode + 64-min signature
    # pipeline per reference (6 copies in the round-6 sf0.1 plan).
    # This is also exactly what the operator models: a persisted
    # signature index the increment probes.
    all_sig = all_sig.localCheckpoint()
    buckets = _band_buckets(all_sig, num_hashes, bands, extra=["is_new"])

    if max_bucket_size is not None:
        w = Window.partitionBy("band", "key")
        # materialized once for the same reason as _capped_bucket_pairs:
        # the ok/star/self-join consumers otherwise re-run the band
        # explode + window three times (3 Window nodes in the plan)
        sized = buckets.withColumn(
            "__bsz", F.count("*").over(w)
        ).withColumn("__rep", F.min("doc_id").over(w)).localCheckpoint()
        ok = sized.where(F.col("__bsz") <= max_bucket_size).drop(
            "__bsz", "__rep"
        )
        star = (
            sized.where(F.col("__bsz") > max_bucket_size)
            .where(F.col("is_new") & (F.col("doc_id") != F.col("__rep")))
            .select(
                F.col("__rep").alias("id_a"),
                F.col("doc_id").alias("id_b"),
            )
        )
    else:
        ok, star = buckets, None
    pairs = (
        ok.alias("a")
        .join(ok.where("is_new").alias("b"), ["band", "key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    cand = pairs.distinct()

    if verify == "jaccard":
        if corpus_docs is None:
            raise ValueError("verify='jaccard' needs corpus_docs")
        # materialized once: both verify join sides read it (same
        # rationale as minhash_lsh_pairs' verify path)
        sh = corpus_docs.select(
            F.col(id_col).alias("doc_id"),
            _shingles(F.col(text_col), ngram).alias("sh"),
        ).localCheckpoint()
        ja = sh.select(F.col("doc_id").alias("id_a"),
                       F.col("sh").alias("sh_a"))
        jb = sh.select(F.col("doc_id").alias("id_b"),
                       F.col("sh").alias("sh_b"))
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        union = F.size("sh_a") + F.size("sh_b") - inter
        return (
            cand.join(ja, "id_a")
            .join(jb, "id_b")
            .withColumn("jaccard", F.round(inter / union, 6))
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    sa = all_sig.select(F.col("doc_id").alias("id_a"),
                        F.col("sig").alias("sig_a"))
    sb = sig_new.select(F.col("doc_id").alias("id_b"),
                        F.col("sig").alias("sig_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "sim",
            F.round(
                F.size(
                    F.filter(
                        F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                        lambda eq: eq,
                    )
                )
                / F.lit(num_hashes),
                6,
            ),
        )
        .where(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


SIMHASH_BITS = 60  # top 60 bits of md5 = portable across engines


def simhash64_expr(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, simhash long): SimHash over word hashes, computed
    relationally: explode words -> per-bit +/-1 votes -> sum -> sign.

    The token hash is the top 60 bits of md5 (15 hex digits), not
    xxhash64: md5 exists in every engine, so the whole construction --
    including the final hamming check -- is expressible in ANSI SQL and
    the gate query gets an exact DuckDB oracle.  60 bits keep the same
    near-dup behaviour as 64 (hamming thresholds are <= 4).

    MAP-ONLY (guide §2.4): per-bit votes fold over the row-local token
    hash array (one integer sum per bit), so the former token explode +
    60-aggregate groupBy shuffle is gone -- token rows were doc-local
    to begin with.  Vote totals are order-independent integer sums, so
    the simhash is bit-identical to the explode formulation; docs whose
    token array is empty/NULL produce no row, as explode dropped them.

    This is the SQL-expressible REFERENCE construction the DuckDB
    oracle replays; the hot path is the vectorized ``simhash64`` (60
    interpreted aggregate folds re-walk the token-hash array 60 times
    per row), with a pytest pinning the two equal -- the same
    expression/vectorized twin discipline as ``detect_lang``.
    """
    toks = tokens(F.col(text_col))
    base = docs.select(
        F.col(id_col).alias("doc_id"), toks.alias("__t")
    ).where(F.size("__t") > 0)
    # staged: __hs consumed by SIMHASH_BITS non-cheap folds below
    staged = base.select(
        "doc_id",
        F.transform(
            "__t",
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10)
            .cast("long"),
        ).alias("__hs"),
    )
    one = F.lit(1).cast("long")
    zero = F.lit(0).cast("long")
    votes = [
        F.aggregate(
            "__hs",
            zero,
            lambda acc, h: acc
            + F.when(h.bitwiseAND(F.shiftleft(one, i)) != 0, 1)
            .otherwise(-1),
        )
        for i in range(SIMHASH_BITS)
    ]
    bit_terms = [
        F.when(votes[i] > 0, F.shiftleft(one, i)).otherwise(zero)
        for i in range(SIMHASH_BITS)
    ]
    acc = bit_terms[0]
    for t in bit_terms[1:]:
        acc = acc.bitwiseOR(t)
    return staged.select("doc_id", acc.alias("simhash"))


def simhash64(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Vectorized SimHash (one Arrow batch stage): md5 per token in C
    (hashlib), then ONE numpy bit-matrix popcount per document instead
    of 60 interpreted per-bit aggregate folds that each re-walk the
    token-hash array (measured 2.0s -> 0.4s for the signature stage at
    sf0.1; guide §4.2 "hand whole batches to vectorized native
    libraries").

    Semantics are identical to ``simhash64_expr`` -- every value is an
    integer (hash bits, votes, sign), so equality is exact, not
    approximate.  The tokenization replays Spark's JVM semantics
    precisely: ``trim`` strips 0x20 SPACE only (not unicode
    whitespace), the split class is Java's ASCII ``\\s`` =
    ``[ \\t\\n\\x0b\\f\\r]``, and leading/trailing empty tokens follow
    Java ``split`` with limit -1 (re.split matches it).  NULL text
    produces no row (as the reference's NULL token array did); empty
    text produces the [''] token row, exactly like ``split('') ->
    ['']`` in the JVM.  Pinned equal to the reference on hostile
    fixtures (unicode whitespace, tabs, empties) by pytest.
    """
    import hashlib
    import re

    import numpy as np
    import pandas as pd

    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField("doc_id", docs.schema[id_col].dataType, True),
            StructField("simhash", LongType(), True),
        ]
    )
    java_ws = re.compile("[ \t\n\x0b\f\r]+")
    shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)

    def run(batches):
        for pdf in batches:
            ids, hs = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                toks = java_ws.split(str(text).strip(" "))
                arr = np.array(
                    [
                        int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
                        for t in toks
                    ],
                    dtype=np.uint64,
                )
                bits = (arr[:, None] >> shifts[None, :]) & np.uint64(1)
                votes = 2 * bits.sum(axis=0, dtype=np.int64) - len(toks)
                ids.append(did)
                hs.append(
                    int(((votes > 0).astype(np.uint64) << shifts).sum())
                )
            yield pd.DataFrame({"doc_id": ids, "simhash": hs})

    return docs.select(id_col, text_col).mapInPandas(run, schema)


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs with simhash hamming distance <= max_hamming.

    Pigeonhole banding: with k = max_hamming, split the SIMHASH_BITS
    bits into k+1 chunks; any pair within distance k agrees on >= 1
    whole chunk, so bucket-join per chunk and verify with
    bit_count(xor).  ``max_bucket_size`` collapses degenerate chunk
    buckets to a representative star exactly like the MinHash path
    (``_capped_bucket_pairs``); star pairs still pass the exact
    hamming check.
    """
    k = max_hamming + 1
    width = SIMHASH_BITS // k
    sh = simhash64(docs, id_col, text_col)

    # the signatures get no checkpoint of their own: with
    # max_bucket_size set, _capped_bucket_pairs local-checkpoints the
    # sized bucket table built from them, so the simhash stage runs
    # once, inside that checkpoint; with max_bucket_size=None both
    # self-join sides re-run it (~0.4s at sf0.1).  A separate eager
    # checkpoint of the signatures measured neutral (2.03s vs 2.04s).
    chunks = []
    for c in range(k):
        shift = c * width
        shifted = F.shiftrightunsigned("simhash", shift)
        if c < k - 1:
            # low chunks need masking; the top chunk is already clean
            # after the unsigned shift (mask would overflow signed 64
            # when width == 64)
            shifted = shifted.bitwiseAND(F.lit((1 << width) - 1))
        chunks.append(
            F.struct(F.lit(c).alias("chunk"), shifted.alias("key"))
        )
    buckets = sh.select(
        "doc_id", "simhash", F.explode(F.array(*chunks)).alias("bk")
    ).select("doc_id", "simhash", "bk.chunk", "bk.key")

    return (
        _capped_bucket_pairs(
            buckets, ["chunk", "key"], max_bucket_size, payload="simhash"
        )
        .select(
            "id_a",
            "id_b",
            F.bit_count(
                F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
            ).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 25,
) -> DataFrame:
    """Connected components over near-duplicate pair edges.

    Returns (doc_id, canonical_id): every doc appearing in ``pairs``
    labeled with the minimum doc id of its component -- the standard
    "keep one survivor per duplicate cluster" assignment that follows
    any pairwise dedup (exact / Jaccard / MinHash / SimHash /
    embedding), since near-dup relations are not transitive pair-wise
    but survivors must be picked per transitive cluster.

    Min-label propagation: symmetric edges plus self-loops, then each
    round every node takes the min label over its neighborhood (one
    equi-join edges-to-labels + one groupBy = one bounded shuffle per
    round).  Converges in O(component diameter) rounds; duplicate
    components are near-cliques (every member pair-matches almost
    every other), so the diameter is tiny at any corpus size.  The
    per-round convergence probe is a single count aggregate -- no
    unbounded driver data.  For adversarially chain-shaped graphs the
    alternating large-star/small-star scheme (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) bounds
    rounds by O(log n); dedup workloads never need it, so the simple
    one-join round is the right constant factor here.
    """
    # pin the edge list first: pairs is typically an expensive similarity
    # join (shingle/LSH/GEMM) and every derivation below re-reads it.
    # localCheckpoint (eager) both computes it exactly once BEFORE the
    # loop (a persist alone would let the first round's concurrent map
    # stages race to fill the cache, each replaying the upstream join)
    # and TRUNCATES the lineage: with plain persist the unrolled loop
    # plan re-embedded the whole similarity subtree once per reference
    # (324 parquet scans in the round-5 sf0.1 plan), charging the
    # driver a full re-analysis every round (guide §3.3 / §7.3).
    pairs = pairs.select(
        F.col(id_a).alias("a"), F.col(id_b).alias("b")
    ).localCheckpoint()
    nodes = (
        pairs.select(F.col("a").alias("v"))
        .unionByName(pairs.select(F.col("b").alias("v")))
        .distinct()
    )
    edges = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(
            pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
        .unionByName(nodes.select(F.col("v").alias("src"),
                                  F.col("v").alias("dst")))
        .distinct()
        .persist()
    )
    # label table keyed by dst so the per-round join needs no renames
    labels = nodes.select(
        F.col("v").alias("dst"), F.col("v").alias("label")
    ).persist()
    cached = labels
    for _ in range(max_rounds):
        # ONE join per round: the neighborhood min and the node's OLD
        # label come out of the same edges-to-labels join -- the
        # self-loop row (dst == src, always present by construction)
        # carries src's own previous label, so the former second
        # "compare new vs old" join is folded into the aggregate and
        # each round is one shuffle + one count action (guide §2.4).
        agg = (
            edges.join(labels, "dst")
            .groupBy("src")
            .agg(
                F.min("label").alias("label"),
                F.min(
                    F.when(F.col("dst") == F.col("src"), F.col("label"))
                ).alias("old"),
            )
            .persist()
        )
        changed = agg.where(F.col("label") != F.col("old")).count()
        cached.unpersist()
        cached = agg
        labels = agg.select(F.col("src").alias("dst"), "label")
        if changed == 0:
            break
    edges.unpersist()
    return labels.select(
        F.col("dst").alias("doc_id"), F.col("label").alias("canonical_id")
    )


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 5,
    delimiter: str = "\n",
) -> DataFrame:
    """``delimiter`` is a regex for the split and a literal for the
    rejoin -- keep it a regex-neutral character (the default newline).

    Corpus-level boilerplate line removal (the CCNet/RefinedWeb
    paragraph-dedup step): split each document on ``delimiter``, drop
    every line that occurs in >= ``min_df`` distinct documents
    (navigation, cookie banners, footers -- the lines that repeat
    across a site), and reassemble the survivors in original order.

    -> (id, clean_text, n_lines, n_removed); documents whose lines are
    all boilerplate stay in the output with clean_text = ''.

    Scale shape: three shuffles, none skewed --
      1. ``(doc, line) distinct`` partial-aggregates map-side, so a
         line repeated within one doc costs one row;
      2. df counting is a sum of ones per line with map-side combine
         (a planet-wide footer line is ONE reducer row, not 1e9);
      3. the anti-join back runs on the same line key the df shuffle
         just produced (co-located), and its right side holds only
         lines ABOVE the threshold -- the boilerplate set, tiny
         relative to the corpus, AQE-broadcastable.
    Per-doc reassembly is the unavoidable groupBy on the doc key.
    No Python anywhere -- split/posexplode/array_sort ride codegen.
    """
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), delimiter))
        .alias("pos", "line"),
    )
    boiler = (
        lines.select(id_col, "line").distinct()
        .groupBy("line").count()
        .filter(F.col("count") >= min_df)
        # the empty line is structure (paragraph breaks), not
        # boilerplate: classifying '' as boilerplate would strip every
        # blank line corpus-wide and collapse paragraph formatting
        .filter(F.col("line") != "")
        .select("line")
    )
    kept = lines.join(boiler, "line", "left_anti")
    survivors = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            delimiter,
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    base = docs.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), delimiter)).alias("n_lines"),
    )
    return base.join(survivors, id_col, "left").select(
        id_col,
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.col("n_lines"),
        (F.col("n_lines") - F.coalesce("n_kept", F.lit(0)))
        .cast("int").alias("n_removed"),
    )


def duplicate_substrings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_len: int = 16,
) -> DataFrame:
    """ExactSubstr-style duplicated-span detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): find
    maximal runs of >= ``min_len`` whitespace tokens that appear in at
    least two distinct documents.  The granularity between
    ``line_dedup`` (whole repeated lines) and doc-level MinHash (whole
    near-dup docs): quoted passages, syndicated paragraphs, licence
    blocks embedded mid-document.

    Method: every ``k``-token gram is keyed by a 16-hex-char md5 slice;
    a gram occurring in >= 2 distinct docs is "duplicated"; per doc,
    consecutive duplicated gram start positions merge into maximal
    runs (gaps-and-islands), and a run of grams [p..q] covers tokens
    [p .. q+k-1].  A run is reported when its token span >= min_len.
    Cross-doc only by construction (distinct-doc df); intra-doc
    repetition is ``repetition_stats``'s job.

    -> (doc_id, start_tok, end_tok, n_tokens, dup_text), one row per
    maximal duplicated run, token offsets 0-based inclusive.

    Scale shape (no all-pairs anywhere, none of the shuffles skewed):
      1. gram df: ``(gkey, doc) distinct`` partial-aggregates map-side,
         then a count per gkey with map-side combine -- a planet-wide
         boilerplate gram is ONE reducer row;
      2. the left-semi join back runs on the gkey the df shuffle just
         produced (co-located), and occurrence rows per doc are
         bounded by the doc's own token count -- a hot gram can NOT
         fan out (semi-join keeps, never multiplies);
      3. run merge is one window shuffle on the doc key; the
         reassembly join for dup_text rides the same doc-key exchange.
    Suffix arrays (the paper's single-node structure) don't shard;
    gram-df + island-merge is the same detector in shuffle algebra.
    """
    if k < 1 or min_len < k:
        raise ValueError("need k >= 1 and min_len >= k")
    toked = docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    grams = toked.where(F.size("__toks") >= k).select(
        id_col,
        F.posexplode(
            F.transform(
                ngram_join(F.col("__toks"), k, "\x1f"),
                lambda g: F.substring(F.md5(g), 1, 16),
            )
        ).alias("pos", "gkey"),
    )
    dup_keys = (
        grams.select("gkey", id_col).distinct()
        .groupBy("gkey").count()
        .filter(F.col("count") >= 2)
        .select("gkey")
    )
    hits = grams.join(dup_keys, "gkey", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    runs = (
        hits.withColumn(
            "__brk",
            F.when(
                F.lag("pos").over(w).isNull()
                | (F.col("pos") > F.lag("pos").over(w) + 1),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "__run",
            F.sum("__brk").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy(id_col, "__run")
        .agg(
            F.min("pos").alias("start_tok"),
            (F.max("pos") + k - 1).alias("end_tok"),
        )
        .withColumn(
            "n_tokens",
            (F.col("end_tok") - F.col("start_tok") + 1).cast("int"),
        )
        .filter(F.col("n_tokens") >= min_len)
    )
    return runs.join(toked, id_col).select(
        id_col,
        F.col("start_tok").cast("int"),
        F.col("end_tok").cast("int"),
        "n_tokens",
        F.array_join(
            F.slice("__toks", F.col("start_tok") + 1, F.col("n_tokens")),
            " ",
        ).alias("dup_text"),
    )

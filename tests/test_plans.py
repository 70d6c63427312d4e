"""Physical-plan regression tests: the plan properties the engine
promises at scale (SURVEY.md §4) must survive refactors."""

import pytest

from tests.conftest import SF_SMALL


def _record_checkpointed_plans(monkeypatch) -> list:
    """Record the physical plan of every subtree local-checkpointed
    from here on, taken just before the barrier materializes it: the
    shape a declarative plan would have embedded downstream."""
    from pyspark.sql.classic.dataframe import DataFrame

    from rsoup_spark.plans.review import plan_text

    plans = []
    checkpoint = DataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        plans.append(plan_text(self))
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", recording)
    return plans


@pytest.mark.spark
def test_no_row_at_a_time_python_anywhere(spark):
    """input_hint: vectorized UDFs only -- BatchEvalPython (per-row
    Python) must never appear in any shipped query plan."""
    import __spark_entry__ as e
    from rsoup_spark.plans.review import plan_text

    for name, fn in e.queries().items():
        assert "BatchEvalPython" not in plan_text(fn(spark, SF_SMALL)), name


@pytest.mark.spark
def test_no_cartesian_product_anywhere(spark):
    """All-pairs ops must use blocked equi-joins / bucket joins -- a
    CartesianProduct or unkeyed BroadcastNestedLoopJoin over two large
    inputs dies at 100TB (the broadcast NLJ against the bounded
    centroid/pair literals is keyed and fine, but none appear either)."""
    import __spark_entry__ as e
    from rsoup_spark.plans.review import plan_text

    for name, fn in e.queries().items():
        assert "CartesianProduct" not in plan_text(fn(spark, SF_SMALL)), name


def test_no_unbounded_driver_collect():
    """`.collect()` in library code must be bounded by construction:
    every occurrence sits under a `.limit(` in the same statement or is
    a test-only surface.  Guards against driver-side materialization of
    unbounded inputs (the IVF centroid bug class)."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1] / "rsoup_spark"
    offenders = []
    for py in root.rglob("*.py"):
        src = py.read_text()
        for m in re.finditer(r"\.collect\(\)", src):
            stmt_start = src.rfind("\n\n", 0, m.start())
            stmt = src[stmt_start : src.find("\n", m.end())]
            if ".limit(" in stmt or "# bounded" in stmt or "test-only" in stmt:
                continue
            line = src[: m.start()].count("\n") + 1
            offenders.append(f"{py.name}:{line}")
    assert not offenders, offenders


@pytest.mark.spark
def test_ann_ivf_probes_broadcast(spark):
    """IVF search joins the (tiny, exploded-probe) query side as a
    broadcast -- a shuffle join on the 16-value cell key would be the
    wrong plan at any scale."""
    import __spark_entry__ as e
    from rsoup_spark.plans.review import has_broadcast_join

    assert has_broadcast_join(e.q_ann_ivf(spark, SF_SMALL))


@pytest.mark.spark
def test_emb_dup_gemm_is_cogrouped_python(spark):
    """The blocked GEMM scorer (the exact verification path) must be ONE
    cogrouped Arrow stage (FlatMapCoGroupsInPandas), not per-row Python
    and not a pair-level join that materializes n^2 rows."""
    from rsoup_spark.ops.similarity import embedding_dup_pairs
    from rsoup_spark.plans.review import plan_text

    import __spark_entry__ as e

    emb = e.load_table(spark, SF_SMALL, "embeddings")
    plan = plan_text(embedding_dup_pairs(emb, tau=0.4, method="gemm"))
    assert "FlatMapCoGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.spark
def test_emb_dup_lsh_gate_is_bucketed(spark, monkeypatch):
    """The LSH default must be bucket-join shaped: one vectorized
    Arrow signature stage (ArrowEvalPython), no cogrouped all-pairs
    scorer, no Cartesian anywhere.  The signature table is eagerly
    checkpointed, so its shape is asserted on the checkpointed
    subtree; the downstream plan shows checkpoint scans instead --
    asserted too, because that is exactly the point (the
    ArrowEvalPython subtree must NOT be re-embedded into both sides of
    the bucket self-join)."""
    from pyspark.sql import functions as F

    import __spark_entry__ as e
    from rsoup_spark.ops.similarity import embedding_dup_pairs
    from rsoup_spark.plans.review import plan_text

    emb = e.load_table(spark, SF_SMALL, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    checkpointed = _record_checkpointed_plans(monkeypatch)
    plan = plan_text(embedding_dup_pairs(emb, tau=0.95))
    sig = [p for p in checkpointed if "ArrowEvalPython" in p]
    assert len(sig) == 1, checkpointed
    for p in (sig[0], plan):
        assert "FlatMapCoGroupsInPandas" not in p
        assert "BatchEvalPython" not in p
        assert "CartesianProduct" not in p
    # gate default: the signature stage is materialized once -- no
    # Python evaluation (and no duplicated GEMM) left in the final plan
    plan_gate = plan_text(e.q_emb_dup_pairs(spark, SF_SMALL))
    assert "ArrowEvalPython" not in plan_gate
    assert "FlatMapCoGroupsInPandas" not in plan_gate
    assert "CartesianProduct" not in plan_gate


@pytest.mark.spark
def test_small_dims_broadcast(spark):
    import __spark_entry__ as e
    from rsoup_spark.plans.review import has_broadcast_join, has_sort_merge_join

    df = e.q_rel_region_revenue(spark, SF_SMALL)
    assert has_broadcast_join(df)
    assert not has_sort_merge_join(df)


@pytest.mark.spark
def test_filter_pushdown_reaches_scan(spark):
    import __spark_entry__ as e
    from rsoup_spark.plans.review import pushed_filters

    df = e.q_rel_pricing_summary(spark, SF_SMALL)
    assert any("l_shipdate" in f for f in pushed_filters(df))


@pytest.mark.spark
def test_column_pruning_reaches_scan(spark):
    """A 3-column aggregate over events must not read props/user_id."""
    import __spark_entry__ as e
    from rsoup_spark.plans.review import read_schemas

    df = e.q_rel_events_hourly(spark, SF_SMALL)
    schemas = read_schemas(df)
    assert schemas and all("props" not in s for s in schemas)


@pytest.mark.spark
def test_extraction_prunes_unused_columns(spark):
    """The span-extraction scan must not read n_chars (unused)."""
    import __spark_entry__ as e
    from rsoup_spark.plans.review import read_schemas

    df = e.q_ext_spans(spark, SF_SMALL)
    assert all("n_chars" not in s for s in read_schemas(df))


@pytest.mark.spark
def test_pack_chunks_two_level_scan(spark):
    """The heavy packing window must be partitioned by bucket (never a
    global single-partition sort over all chunks), with the tiny
    bucket-offset table broadcast back."""
    import __spark_entry__ as e
    from rsoup_spark.plans.review import plan_text

    plan = plan_text(e.queries()["pack_chunks"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    # the heavy cumsum window is PARTITIONED by the range bucket (its
    # windowspec leads with __bucket), never an unpartitioned global
    # sort over all chunks
    assert "windowspecdefinition(__bucket" in plan
    assert "hashpartitioning(__bucket" in plan


@pytest.mark.spark
def test_emb_dup_low_tau_falls_back_to_gemm(spark, monkeypatch):
    """When the auto-sizer needs more than MAX_LSH_TABLES hash tables
    (tau too low for hyperplane buckets to discriminate at the target
    recall), method='lsh' must fall back to the exact blocked GEMM
    instead of silently running a recall-lossy capped table count."""
    import __spark_entry__ as e
    from rsoup_spark.ops.similarity import (
        MAX_LSH_TABLES,
        _lsh_tables,
        embedding_dup_pairs,
    )
    from rsoup_spark.plans.review import plan_text

    assert _lsh_tables(0.3, 8, 0.999) > MAX_LSH_TABLES
    emb = e.load_table(spark, SF_SMALL, "embeddings")
    plan = plan_text(embedding_dup_pairs(emb, tau=0.3, method="lsh"))
    assert "FlatMapCoGroupsInPandas" in plan  # the GEMM cogroup stage
    assert "CartesianProduct" not in plan
    # an explicit n_tables still means what it says (no fallback): the
    # checkpointed signature stage is the Arrow hyperplane UDF
    checkpointed = _record_checkpointed_plans(monkeypatch)
    plan2 = plan_text(
        embedding_dup_pairs(emb, tau=0.3, method="lsh", n_tables=4)
    )
    assert "FlatMapCoGroupsInPandas" not in plan2
    assert any("ArrowEvalPython" in p for p in checkpointed), checkpointed


@pytest.mark.spark
def test_emb_dup_gemm_fallback_is_logged(spark, caplog):
    """The LSH -> GEMM switch is never silent: one WARNING on the
    library logger names tau, n_planes, the tables needed and the cap;
    an LSH run within the cap logs nothing."""
    import logging

    from rsoup_spark.ops.similarity import (
        MAX_LSH_TABLES,
        _lsh_tables,
        embedding_dup_pairs,
    )

    need = _lsh_tables(0.9, 12, 0.999)
    assert need > MAX_LSH_TABLES
    emb = spark.createDataFrame(
        [(i, [float(i + 1)] * 64) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    with caplog.at_level(logging.WARNING, logger="rsoup_spark"):
        embedding_dup_pairs(emb, tau=0.9, n_planes=12)
    rec = [r for r in caplog.records if r.name == "rsoup_spark"]
    assert len(rec) == 1 and rec[0].levelno == logging.WARNING
    msg = rec[0].getMessage()
    for part in ("tau=0.9", "n_planes=12", f"needs {need} hash tables",
                 f"MAX_LSH_TABLES={MAX_LSH_TABLES}", "method='gemm'"):
        assert part in msg, msg
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="rsoup_spark"):
        embedding_dup_pairs(emb, tau=0.95, n_planes=12)
    assert not [r for r in caplog.records if r.name == "rsoup_spark"]


@pytest.mark.spark
def test_decontaminate_broadcasts_eval_side(spark):
    """The deduped eval-gram side is broadcast-by-construction (eval
    sets are small by definition), not left to AQE statistics: the
    training corpus never shuffles on the gram key."""
    import __spark_entry__ as e
    from rsoup_spark.plans.review import has_sort_merge_join, plan_text

    df = e.queries()["decontaminate"](spark, SF_SMALL)
    plan = plan_text(df)
    assert "BroadcastHashJoin" in plan
    assert not has_sort_merge_join(df)


@pytest.mark.spark
def test_lsh_hot_bucket_cap_single_window_pass(spark, monkeypatch):
    """The band-bucket cap must ride the self-join's own (band, key)
    partitioning: sizes/representatives come from a window over the
    bucket key -- no Python stage and no Cartesian product appear."""
    from rsoup_spark.ops.dedup import (
        _band_buckets,
        _capped_bucket_pairs,
        minhash_lsh_pairs,
        minhash_signatures,
    )
    from rsoup_spark.plans.review import plan_text
    from rsoup_spark.sources.docs import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    # gate path (sized bucket table eagerly materialized): still no
    # Cartesian and no Python pair stage anywhere
    plan = plan_text(minhash_lsh_pairs(docs, max_bucket_size=100))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # cap shape, read from the checkpointed sized bucket table:
    # sizes/representatives from ONE window over the bucket key,
    # co-partitioned with the self-join
    buckets = _band_buckets(minhash_signatures(docs), 64, 16)
    checkpointed = _record_checkpointed_plans(monkeypatch)
    plan2 = plan_text(_capped_bucket_pairs(buckets, ["band", "key"], 100))
    assert len(checkpointed) == 1, checkpointed
    sized = checkpointed[0]
    assert "CartesianProduct" not in sized
    assert "CartesianProduct" not in plan2
    assert "windowspecdefinition(band" in sized
    assert "hashpartitioning(band" in sized


@pytest.mark.spark
def test_densify_ids_two_level_rank(spark):
    """The id rank must be computed per range-partition (windowspec
    leads with __p) with the tiny per-partition offset table broadcast
    back -- never one global unpartitioned window over all ids."""
    import __spark_entry__ as e
    from rsoup_spark.plans.review import plan_text

    plan = plan_text(e.queries()["densify_ids"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "windowspecdefinition(__p" in plan
    # the heavy rank window is partitioned; no windowspec runs
    # directly over the raw id column
    assert "windowspecdefinition(__id," not in plan


@pytest.mark.spark
def test_quality_classifier_map_only_single_split(spark):
    """The hashed classifier must stay map-only (no shuffle beyond the
    test-data spread repartition) and tokenize each row exactly once
    (the staged-projection contract in its docstring)."""
    import __spark_entry__ as e
    from rsoup_spark.plans.review import plan_text

    p = plan_text(e.queries()["quality_classifier"](spark, SF_SMALL))
    assert p.count("split(lower") == 1, "text must be split exactly once"
    # the only exchange is load_table's round-robin spread of the tiny
    # test file; no aggregation/join shuffle may appear
    assert "hashpartitioning" not in p


@pytest.mark.spark
def test_crawl_traps_no_multi_distinct_expand(spark):
    """Template admission counts distinct urls by deduping first; the
    multi-distinct Expand (a 4x map-side row blowup) must not appear."""
    import __spark_entry__ as e
    from rsoup_spark.plans.review import plan_text

    p = plan_text(e.queries()["crawl_traps"](spark, SF_SMALL))
    assert "Expand" not in p


@pytest.mark.spark
def test_resolve_aliases_logarithmic_joins(spark):
    """Alias-chain resolution is pointer doubling: the plan for
    max_hops=16 must carry ~log2(16) composition joins, never one join
    per hop (16+).  Counted on the optimized plan's join nodes."""
    import re

    from rsoup_spark.ops.graph import resolve_aliases
    from rsoup_spark.plans.review import plan_text

    edges = spark.createDataFrame(
        [(f"u{i}", f"u{i+1}") for i in range(20)], "src STRING, dst STRING"
    )
    p = plan_text(resolve_aliases(edges, max_hops=16))
    # the formatted detail section lists each operator once as
    # "(N) <kind>Join"; count those, not every mention of "join"
    joins = len(re.findall(r"^\s*\(\d+\)\s+\w*Join", p, re.MULTILINE))
    # 4 doubling rounds + the terminal-classification join, with one
    # node each; per-hop walking would show >= 16
    assert 0 < joins <= 8, f"{joins} join nodes:\n{p}"


@pytest.mark.spark
def test_mix_sources_broadcasts_thresholds(spark):
    """The per-source threshold table (rows = |sources|) is broadcast
    back by construction -- the corpus never shuffles on the source
    key -- and the keep filter is pure JVM (no Python stage)."""
    import __spark_entry__ as e
    from rsoup_spark.plans.review import has_sort_merge_join, plan_text

    df = e.queries()["mix_sources"](spark, SF_SMALL)
    plan = plan_text(df)
    assert "BroadcastHashJoin" in plan
    assert not has_sort_merge_join(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

"""SemDeDup (ops/similarity.py:semdedup) unit behavior: scale
invariance, cluster locality, representative choice, and the
cell_cap anchor degradation the gate fixture never reaches.
"""

import pytest

from rsoup_spark.ops.similarity import semdedup


def _run(spark, rows, **kw):
    df = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    return {r["vec_id"]: r.asDict() for r in semdedup(df, **kw).collect()}


# ids 0 and 31 are the deterministic centroid picks (stride 31)
CLUSTERED = [
    (0, [1.0, 0.0]),     # centroid/anchor of cell 0
    (1, [0.99, 0.1]),    # near 0 -> dup of 0
    (2, [1.98, 0.2]),    # 2x vector 1: scale-invariant dup
    (31, [0.0, 1.0]),    # centroid/anchor of cell 31
    (40, [0.1, 0.99]),   # near 31 -> dup of 31
]


@pytest.mark.spark
def test_scale_invariance_and_cluster_locality(spark):
    got = _run(spark, CLUSTERED, threshold=0.95)
    assert got[0]["keep"] and got[31]["keep"]
    assert not got[1]["keep"] and got[1]["dup_of"] == 0
    assert not got[2]["keep"] and got[2]["dup_of"] == 0
    assert not got[40]["keep"] and got[40]["dup_of"] == 31
    # duplicates never cross cells
    assert got[40]["cell"] == 31 and got[1]["cell"] == 0


@pytest.mark.spark
def test_threshold_is_rounded_boundary(spark):
    # cos(v0, v1) = 0.8 exactly -> kept at 0.95, dropped at 0.8
    rows = [(0, [1.0, 0.0]), (1, [0.8, 0.6]), (31, [0.0, 1.0])]
    hi = _run(spark, rows, threshold=0.95)
    lo = _run(spark, rows, threshold=0.8)
    assert hi[1]["keep"] and not lo[1]["keep"]
    assert lo[1]["max_cos"] == 0.8


CAPPED = [
    (0, [1.0, 0.0]),    # cell-0 anchor
    (2, [0.8, 0.6]),    # cos to 0 is 0.8 < 0.95 -> kept
    (3, [0.8, 0.6]),    # exact copy of 2
    (31, [0.0, 1.0]),
]


@pytest.mark.spark
def test_cell_cap_bounds_anchors(spark):
    # cap 1: only id 0 anchors, so 3's twin (id 2) cannot mark it --
    # the documented degraded-not-quadratic behavior of a capped cell
    got = _run(spark, CAPPED, threshold=0.95, cell_cap=1)
    assert got[2]["keep"] and got[3]["keep"]
    # cap 2: id 2 anchors and marks its copy
    got = _run(spark, CAPPED, threshold=0.95, cell_cap=2)
    assert got[2]["keep"]
    assert not got[3]["keep"] and got[3]["dup_of"] == 2


@pytest.mark.spark
def test_sql_assigner_bitwise_matches_python_fold(spark):
    """The cell argmax is built as one parsed SQL expression (round-6
    construction-cost fix); its cosines must equal the sequential
    float64 fold bit-for-bit, so cell choice can never drift from the
    documented semantics.  Python floats ARE IEEE doubles and the
    reference below replays the exact fold order (dot left-fold over
    dims, norm fold + sqrt, one divide), so equality is exact, not
    approximate."""
    import math

    from pyspark.sql import functions as F

    from rsoup_spark.ops.similarity import (
        _cell_assigner,
        _norm,
        _pick_centroids,
        _py_norm,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = _pick_centroids(emb, 16, "vec_id", "embedding", 31)
    cell_of = _cell_assigner(cents)
    vd = F.col("embedding").cast("array<double>")
    got = {
        r["vec_id"]: r["cell"]
        for r in emb.select(
            "vec_id", vd.alias("v"), _norm(vd).alias("nv")
        )
        .select("vec_id", cell_of("v", "nv"))
        .collect()
    }

    cmat = [(int(r["cid"]), [float(x) for x in r["cv"]]) for r in cents]
    cnorms = {cid: _py_norm(cv) for cid, cv in cmat}
    for row in emb.collect():
        v = [float(x) for x in row["embedding"]]
        acc = 0.0
        for x in v:
            acc = acc + x * x
        nv = math.sqrt(acc)
        best_cos, best_cid = None, None
        for cid, cv in cmat:
            dot = 0.0
            for x, w in zip(v, cv):
                dot = dot + x * w
            cos = dot / (nv * cnorms[cid])
            # array_max picks max (cos, negcid) -> ties to smaller cid
            if (
                best_cos is None
                or cos > best_cos
                or (cos == best_cos and cid < best_cid)
            ):
                best_cos, best_cid = cos, cid
        assert got[row["vec_id"]] == best_cid, row["vec_id"]


def test_sql_double_literals():
    """Finite values keep their exact round-trip literal; NaN and the
    infinities become casts the SQL parser accepts."""
    from rsoup_spark.ops.similarity import _sql_double

    assert _sql_double(0.1) == "0.1D"
    assert _sql_double(-2.5e-300) == "-2.5e-300D"
    assert _sql_double(float("nan")) == "CAST('NaN' AS DOUBLE)"
    assert _sql_double(float("inf")) == "CAST('Infinity' AS DOUBLE)"
    assert _sql_double(float("-inf")) == "CAST('-Infinity' AS DOUBLE)"


@pytest.mark.spark
def test_non_finite_centroid_builds_a_plan(spark):
    """A NaN or infinite centroid component used to emit ``nanD`` /
    ``infD``, which the parser rejects at plan construction.  The cell
    assigner now builds and runs, and each literal parses to its value."""
    import math

    from pyspark.sql import functions as F

    from rsoup_spark.ops.similarity import _cell_assigner, _sql_double

    values = [float("nan"), float("inf"), float("-inf"), 1.5]
    got = spark.range(1).select(
        *[F.expr(_sql_double(v)).alias(f"c{i}") for i, v in enumerate(values)]
    ).first()
    assert math.isnan(got["c0"])
    assert [got["c1"], got["c2"], got["c3"]] == values[1:]

    cents = [
        {"cid": 0, "cv": [float("nan"), 1.0]},
        {"cid": 1, "cv": [float("inf"), 0.0]},
        {"cid": 2, "cv": [1.0, 0.0]},
    ]
    cell_of = _cell_assigner(cents)
    rows = (
        spark.createDataFrame([([1.0, 0.0], 1.0)], "v array<double>, nv double")
        .select(cell_of("v", "nv"))
        .collect()
    )
    assert len(rows) == 1

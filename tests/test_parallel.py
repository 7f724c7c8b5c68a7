"""Adaptive kernel fan-out (operators/parallel.py, round 13).

The helper must (1) widen an input that has fewer partitions than the
size-aware target width, (2) be a NO-OP on an input that is already
at least that wide — the at-scale case, so production plans never
gain an exchange — and (3) never change operator output (the winnow
Arrow kernel is the heaviest consumer — its fingerprint set must be
partitioning-invariant). Tests that need the at-scale plan shape on
the narrow local fixtures substitute ``_target_width`` with a
constant 1.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blackroad_data_pipeline_spark.operators import apply_operator as op
from blackroad_data_pipeline_spark.operators import parallel
from blackroad_data_pipeline_spark.operators.parallel import fan_out

SF = "/root/testdata/sf0.001"


def test_fan_out_widens_starved_input(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert docs.rdd.getNumPartitions() == 1  # single-row-group fixture
    # default width: session parallelism, capped at the measured knee
    target = min(spark.sparkContext.defaultParallelism, 8)
    assert fan_out(docs).rdd.getNumPartitions() == target


def test_fan_out_noop_on_wide_input(spark):
    target = spark.sparkContext.defaultParallelism
    wide = spark.range(1000, numPartitions=target + 3)
    out = fan_out(wide)
    assert out is wide  # not just same width — the same plan object


def test_fan_out_target_width_one_keeps_plan(spark, monkeypatch):
    """The seam the plan gates use: a target width of 1 leaves the
    input untouched, the at-scale plan shape."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    monkeypatch.setattr(parallel, "_target_width", lambda df: 1)
    assert fan_out(docs) is docs


def test_winnow_output_partitioning_invariant(spark):
    """The heaviest fan_out consumer must produce the identical
    fingerprint SET fanned out or not (winnowing is doc-local): the
    1-partition fixture is widened, a pre-widened copy is left as is."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    target = parallel._target_width(docs)
    assert docs.rdd.getNumPartitions() < target
    wide = docs.repartition(target + 3)
    assert fan_out(wide) is wide
    cfg = {"field": "text", "id_field": "doc_id", "k": 5, "window": 4}
    fanned = op("winnow", docs, cfg).collect()
    prewide = op("winnow", wide, cfg).collect()
    key = lambda r: (r["doc_id"], r["pos"], r["fp"])  # noqa: E731
    assert sorted(map(key, fanned)) == sorted(map(key, prewide))
    assert len(fanned) > 0


def test_fan_out_streaming_passthrough(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs.write.mode("overwrite").parquet(str(tmp_path / "src"))
    stream = (spark.readStream.schema(docs.schema)
              .option("recursiveFileLookup", "true")
              .parquet(str(tmp_path / "src")))
    assert fan_out(stream) is stream


def test_fan_out_rows_survive(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n = docs.count()
    out = fan_out(docs.select("doc_id"))
    assert out.count() == n
    assert out.agg(F.countDistinct("doc_id")).first()[0] == n


def test_arrow_local_frame_exact_and_local(spark):
    """lit_frame's Arrow path must (1) build a LocalRelation — no
    pickled-RDD scan on consuming jobs — (2) preserve values EXACTLY
    on the safe type set (big int64s, NaN, NULLs, float32 arrays,
    binary), and (3) fall back (None) on unsafe schemas."""
    from blackroad_data_pipeline_spark.operators.parallel import (
        arrow_local_frame,
        lit_frame,
    )

    rows = [
        (2**63 - 1, "a", [1.5, 2.5], b"\x00\xff", float("nan"), True),
        (-(2**63), None, None, None, -0.0, None),
    ]
    schema = ("id long, t string, v array<float>, b binary, "
              "f double, ok boolean")
    df = arrow_local_frame(spark, rows, schema)
    assert df is not None
    assert "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString()
    ref = spark.sparkContext.parallelize(rows, 1)
    ref_df = spark.createDataFrame(ref, schema)
    assert df.schema == ref_df.schema
    got, want = df.collect(), ref_df.collect()
    import math

    for g, w in zip(got, want):
        for a, b in zip(g, w):
            if isinstance(a, float) and isinstance(b, float) \
                    and math.isnan(a):
                assert math.isnan(b)
            else:
                assert a == b
    # lit_frame routes through the same path for small lists
    lf = lit_frame(spark, rows, schema)
    assert "LocalRelation" in lf._jdf.queryExecution().optimizedPlan().toString()
    # timestamps are excluded (host-zone vs UTC naive-datetime
    # semantics differ between the RDD and Arrow paths)
    assert arrow_local_frame(spark, [(1,)], "ts timestamp") is None


@pytest.mark.parametrize("rows", [
    [(1, "a"), (2,)],          # short row: zip would NULL-fill t
    [(1, "a", "extra")],       # long row: zip would drop "extra"
], ids=["short", "long"])
def test_arrow_local_frame_rejects_wrong_arity(spark, rows):
    """A row whose arity differs from the schema must fall back to the
    pickled-RDD path, which raises, instead of being silently
    reshaped."""
    schema = "id long, t string"
    assert parallel.arrow_local_frame(spark, rows, schema) is None
    with pytest.raises(Exception):
        parallel.lit_frame(spark, rows, schema).collect()

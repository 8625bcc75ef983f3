"""The one literal-relation builder (sources/local.py ``values_df``):
values round-trip exactly against ``createDataFrame``, ``${...}`` in
data is never substituted, the package builds no other literal
frames, and the callers that moved onto it keep their behavior."""

import math
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from trial_submission_studio_spark.sources.local import values_df

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: strings that broke or rewrote data in hand-rolled SQL literals
TRICKY = [
    "'", "it's", "\\", "end\\", "back\\slash", "\\'", "\\${y}",
    "${env:HOME}", "${undefined}", "${spark.app.name}", "$", "$$",
    "\\u0041", "\\n", "a\nb", "\r\t", "%_", "\\%", "`", '"', "",
]

ROW_SCHEMA = (
    "s string, d double, b bigint, i int, f boolean, y binary, "
    "a array<string>"
)


def _norm(v):
    """NaN-safe comparison key (NaN != NaN in tuple equality)."""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


_text = st.one_of(
    st.text(),
    st.sampled_from(TRICKY),
    st.lists(st.one_of(st.text(max_size=4), st.sampled_from(TRICKY)), max_size=5).map(
        "".join
    ),
)
_row = st.tuples(
    st.none() | _text,
    st.none()
    | st.floats(allow_nan=True, allow_infinity=True)
    | st.sampled_from([math.nan, math.inf, -math.inf, -0.0, 5e-324, 1.7976931348623157e308]),
    st.none()
    | st.integers(-(2**63), 2**63 - 1)
    | st.sampled_from([-(2**63), 2**63 - 1, 0]),
    st.none() | st.integers(-(2**31), 2**31 - 1),
    st.none() | st.booleans(),
    st.none() | st.binary(max_size=8),
    st.none() | st.lists(st.none() | _text, max_size=3),
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(rows=st.lists(_row, min_size=1, max_size=100))
def test_values_df_round_trips_like_create_dataframe(spark, rows):
    got = values_df(spark, rows, ROW_SCHEMA)
    # one slice: one Python task per example keeps the test fast
    ref = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), ROW_SCHEMA)
    assert got.dtypes == ref.dtypes
    assert [_norm(tuple(r)) for r in got.collect()] == [
        _norm(tuple(r)) for r in ref.collect()
    ]


def test_values_df_never_substitutes_variables(spark):
    from trial_submission_studio_spark.sources.local import sql_string

    rows = [(s,) for s in TRICKY]
    assert [r.s for r in values_df(spark, rows, "s string").collect()] == TRICKY
    # the shared quoter is what SQL text embeds: same guarantee there
    got = spark.range(1).select(*[F.expr(sql_string(s)) for s in TRICKY]).first()
    assert list(got) == TRICKY


def test_values_df_schema_and_empty_frames(spark):
    ddl = "`odd name` decimal(10,2), pt struct<a:int,b:int>, d date"
    df = values_df(spark, [("1.25", None, "2024-02-29")], ddl)
    assert df.dtypes == [
        ("odd name", "decimal(10,2)"),
        ("pt", "struct<a:int,b:int>"),
        ("d", "date"),
    ]
    row = df.first()
    assert str(row[0]) == "1.25" and row.pt is None
    assert str(row.d) == "2024-02-29"

    empty = values_df(spark, [], ddl)
    assert empty.dtypes == df.dtypes
    assert empty.collect() == []
    plan = empty._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ExistingRDD" not in plan


def test_no_other_literal_frame_builders():
    """Literal frames come from ``values_df`` only: the one remaining
    ``createDataFrame(`` is io/xpt.py's decode of an Arrow batch of
    file rows, which is not a literal list."""
    hits = {}
    paths = [os.path.join(REPO, "__spark_entry__.py")]
    for d, _, files in os.walk(os.path.join(REPO, "trial_submission_studio_spark")):
        paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            n = fh.read().count("createDataFrame(")
        if n:
            hits[os.path.relpath(p, REPO)] = n
    assert hits == {os.path.join("trial_submission_studio_spark", "io", "xpt.py"): 1}


def test_codelist_lookup_dedup_agrees_across_paths(spark):
    """Two terms of one codelist share a synonym: the lookup is
    deduped on the driver (first term wins), so the constant-map path
    and the join path (provenance dropped by ``select('*')``) return
    identical values."""
    from trial_submission_studio_spark.operators.ct_lookup import (
        apply_ct_normalization,
        ct_violations,
    )
    from trial_submission_studio_spark.standards.ct import (
        Codelist,
        Term,
        codelist_lookup_df,
    )

    cl = Codelist(
        "CL1",
        "Route",
        False,
        [
            Term("C1", "ORAL", ["PO", "MOUTH"]),
            Term("C2", "BUCCAL", ["MOUTH", "CHEEK"]),
        ],
    )
    lk = codelist_lookup_df(spark, {"CL1": cl})
    keys = [(r[0], r[1]) for r in lk._tss_local_rows]
    assert len(keys) == len(set(keys))
    assert ("CL1", "MOUTH", "ORAL", False) in lk._tss_local_rows
    assert lk.count() == len(keys)

    src = values_df(
        spark,
        [(v,) for v in ["mouth", "Cheek", "po", "c2", "nasal", None, ""]],
        "v string",
    )
    fast = apply_ct_normalization(src, "v", "d", lk, "CL1")
    slow = apply_ct_normalization(src, "v", "d", lk.select("*"), "CL1")
    plan = fast._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan  # the constant-map path really ran
    key = lambda rows: sorted((r.v or "", r.d or "") for r in rows)  # noqa: E731
    assert key(fast.collect()) == key(slow.collect())
    assert dict((r.v, r.d) for r in fast.collect())["mouth"] == "ORAL"
    assert (
        ct_violations(src, "v", lk, "CL1").first()
        == ct_violations(src, "v", lk.select("*"), "CL1").first()
    )


def test_catalog_bucketed_snapshot_root_round_trips(spark, tmp_path):
    """``tss.snapshot_root`` goes through the shared quoter: a root
    holding ``${x}`` and a quote reads back verbatim, so the re-sync
    is recognised as a no-op."""
    import uuid

    from trial_submission_studio_spark.io import bucketed_table as bt

    root = str(tmp_path / "r${x}'s")
    bt.publish_bucketed(
        spark, spark.range(0, 20).selectExpr("id AS k", "id * 2 AS v"), root, "k", 2
    )
    table = f"snap_{uuid.uuid4().hex[:8]}"
    cat = str(tmp_path / "cat")
    assert bt.sync_catalog_bucketed(spark, root, table, path=cat)["refreshed"]
    props = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    }
    assert props["tss.snapshot_root"] == os.path.abspath(root)
    assert not bt.sync_catalog_bucketed(spark, root, table, path=cat)["refreshed"]
    spark.sql(f"DROP TABLE {table}")


def test_versioned_table_at_glob_named_root_round_trips(spark, tmp_path):
    """A root whose name is Hadoop glob syntax reads back: the literal
    file paths handed to ``spark.read`` are escaped, in
    ``read_version`` and in the append's CHECK-constraint read."""
    from trial_submission_studio_spark.io import versioned as ver

    root = str(tmp_path / "r{x}[1]")
    os.makedirs(root)

    def run(lo, hi):
        d = ver.new_data_dir(root)
        spark.range(lo, hi).selectExpr("id AS k").write.parquet(d, mode="append")
        return d

    ver.publish_version(root, run(0, 5))
    assert sorted(r.k for r in ver.read_version(spark, root).collect()) == list(range(5))
    ver.set_table_constraints(spark, root, {"k_nonneg": "k >= 0"})
    ver.publish_version(root, run(5, 8), base_version=ver.current_version(root), spark=spark)
    assert sorted(r.k for r in ver.read_version(spark, root).collect()) == list(range(8))


def test_rule_rejects_unknown_transform():
    from trial_submission_studio_spark.operators.normalize import Rule

    with pytest.raises(ValueError, match="unknown transform 'typo'"):
        Rule(target="X", transform="typo")


@pytest.mark.parametrize("where", ["setup", "first_fetch"])
def test_xpt_fast_fetch_falls_back_to_public_path(spark, tmp_path, monkeypatch, where):
    """When the pyspark-internal fetch helpers fail (at setup, or on
    the first fetch before any OBS byte is written), the export
    switches to the public ``sc.runJob`` path and writes the same
    bytes."""
    import pyspark.rdd
    import pyspark.serializers
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    from trial_submission_studio_spark.io.xpt import XptVariable, write_xpt

    cols = [XptVariable("USUBJID", "Subject", False, 10), XptVariable("XSEQ", "Seq", True)]
    df = spark.range(0, 500, 1, 3).select(
        F.concat(F.lit("S"), F.col("id")).alias("USUBJID"),
        (F.col("id") % 9).cast("double").alias("XSEQ"),
    )

    def export(name):
        path = str(tmp_path / name)
        assert write_xpt(df, path, cols, "XX", "Test") == 500
        with open(path, "rb") as fh:
            return fh.read()

    public_jobs = []
    run_job = SparkContext.runJob

    def counting(self, *a, **k):
        public_jobs.append(1)
        return run_job(self, *a, **k)

    monkeypatch.setattr(SparkContext, "runJob", counting)
    fast = export("fast.xpt")
    assert not public_jobs

    def boom(*a, **k):
        if where == "setup":
            raise AttributeError("relocated helper")
        raise Py4JError("changed signature")

    if where == "setup":
        monkeypatch.setattr(pyspark.serializers, "BatchedSerializer", boom)
    else:
        monkeypatch.setattr(pyspark.rdd, "_load_from_socket", boom)
    assert export("fallback.xpt") == fast
    assert public_jobs

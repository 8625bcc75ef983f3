"""The flow at tiny size, end to end, and the checker's failure modes."""

import os
import shutil

import pytest

import check
import flow
import gen


@pytest.fixture(scope="module", params=[("wide", "xpt"), ("tall", "xml")], ids=["wide_xpt", "tall_xml"])
def exported(request, spark, tmp_path_factory):
    shape, fmt = request.param
    base = tmp_path_factory.mktemp(f"{shape}_{fmt}")
    manifest = gen.generate(str(base / "data"), shape, 5, scale=0.02)
    res = flow.run_flow(spark, str(base / "data"), manifest, str(base / "out"), fmt)
    return manifest, res, base, fmt


def test_tiny_flow_passes_every_check(exported):
    manifest, res, base, fmt = exported
    assert res.failed == 0, res.errors
    assert set(res.stage_s) == {"import", "preview", "validate", "export"}
    attempted, failed, msgs = check.check_outputs(str(base / "out"), manifest, fmt, res.issues, res.preview_rows)
    assert failed == 0, msgs
    # every dataset is checked twice (preview rows, exported file),
    # plus define.xml and the issue counts
    assert attempted == 2 * len(manifest["datasets"]) + 2


def _copy(base, name):
    dst = base / name
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(base / "out", dst)
    return dst


def test_checker_rejects_truncated_dataset(exported):
    manifest, res, base, fmt = exported
    out = _copy(base, "truncated")
    path = out / f"ae.{fmt}"
    data = path.read_bytes()
    # XPT: drop the last 80-byte records (rows); XML: cut mid-document
    path.write_bytes(data[: len(data) - 160] if fmt == "xpt" else data[: len(data) // 2])
    _, failed, msgs = check.check_outputs(str(out), manifest, fmt, res.issues, res.preview_rows)
    assert failed >= 1 and any(m.startswith("AE") for m in msgs), msgs


def test_checker_rejects_missing_dataset(exported):
    manifest, res, base, fmt = exported
    out = _copy(base, "missing")
    os.remove(out / f"dm.{fmt}")
    _, failed, msgs = check.check_outputs(str(out), manifest, fmt, res.issues, res.preview_rows)
    assert failed == 1 and msgs[0].startswith("DM"), msgs


def test_xpt_rows_ending_in_blank_words_are_counted(spark, tmp_path):
    """pandas' own XPT row count treats blank 8-byte words in the last
    80-byte record as padding: five 16-byte rows whose second field is
    blank fill that record, and pandas reports 2 rows."""
    import pandas as pd

    from trial_submission_studio_spark.io.xpt import XptVariable, write_xpt

    df = spark.createDataFrame([(f"R{i}", "") for i in range(5)], "A string, B string")
    path = str(tmp_path / "t.xpt")
    write_xpt(df, path, [XptVariable("A", length=8), XptVariable("B", length=8)], "T")
    assert len(pd.read_sas(path, format="xport", encoding="utf-8")) == 2
    assert check.read_xpt(path)["A"].str.strip().tolist() == [f"R{i}" for i in range(5)]


def test_checker_rejects_wrong_issue_counts(exported):
    manifest, res, base, fmt = exported
    issues = [dict(r) for r in res.issues if r["category"] != "CrossReference"]
    _, failed, msgs = check.check_outputs(str(base / "out"), manifest, fmt, issues, res.preview_rows)
    assert failed == 1 and "CrossReference" in msgs[0], msgs

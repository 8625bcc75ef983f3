import csv
import hashlib
from pathlib import Path

import pytest

import gen


def _digests(d: Path) -> dict[str, str]:
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest() for p in sorted(d.iterdir())}


@pytest.mark.parametrize("shape", sorted(gen.SHAPES))
def test_same_seed_gives_identical_files(tmp_path, shape):
    gen.generate(str(tmp_path / "a"), shape, 7, scale=0.05)
    gen.generate(str(tmp_path / "b"), shape, 7, scale=0.05)
    gen.generate(str(tmp_path / "c"), shape, 8, scale=0.05)
    a, b, c = (_digests(tmp_path / x) for x in "abc")
    assert a == b
    assert a.keys() == c.keys() and a != c


@pytest.mark.parametrize("shape", sorted(gen.SHAPES))
def test_manifest_matches_files(tmp_path, shape):
    m = gen.generate(str(tmp_path), shape, 3, scale=0.05)
    for code, name in m["files"].items():
        with open(tmp_path / name, newline="", encoding="utf-8") as fh:
            rows = list(csv.reader(fh))
        labels, names, body = rows[0], rows[1], rows[2:]
        assert len(labels) == len(names)
        assert len(body) == m["datasets"][code]["rows"]
        assert set(m["mappings"][code].values()) <= set(names)
    assert m["source_rows"] == sum(
        v["rows"] for k, v in m["datasets"].items() if not k.startswith("SUPP")
    )
    planted = m["planted"]
    assert planted["bad_dates"]["AE"]["AESTDTC"] >= 1
    assert planted["orphans"]["AE"] >= 1
    assert planted["ct_invalid"]["DM"]["SEX"] >= 1


def test_mapped_variables_exist_in_registry():
    """A variable the registry lacks would be silently dropped by the
    build, so the generator's fixed specs are pinned to the registry."""
    from trial_submission_studio_spark.standards.sdtm_domains import DOMAINS

    specs = {"DM": gen.DM_WIDE, **gen.WIDE_SPECS}
    for code, spec in specs.items():
        known = {v["name"] for v in DOMAINS[code]["variables"]}
        missing = {v.rstrip("#") for v in spec.split()} - known
        assert not missing, (code, missing)
        num = {v["name"] for v in DOMAINS[code]["variables"] if v.get("data_type") == "Num"}
        marked = {v.rstrip("#") for v in spec.split() if v.endswith("#")}
        assert marked == num & {v.rstrip("#") for v in spec.split()}, code


def test_planted_ct_values_lie_outside_shipped_codelists():
    from trial_submission_studio_spark.standards.ct_catalog import builtin_ct_versions

    versions = builtin_ct_versions()
    catalog = versions[max(versions)]
    for code, valid in (("C66731", gen.SEX_VALID), ("C66769", gen.SEV_VALID)):
        values = {t.submission_value for t in catalog[code].terms}
        assert set(valid) == values
        assert "OTHER" not in values and "MEDIUM" not in values

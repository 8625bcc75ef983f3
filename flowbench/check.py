"""Output checker for the submission-flow benchmark, independent of
the package: it reads what the flow wrote with pandas and the
standard library and compares it to the generator's manifest.

Per dataset it checks row count and subject set, the planted CT
outliers (kept as-is, never remapped), the planted duplicate records
(kept, each with its own --SEQ) and --SEQ uniqueness; it matches
define.xml's ItemGroupDefs to the datasets, and the validation
report's counts to the planted malformed dates, orphan subjects and
invalid RELREC references. Each check is one attempted operation; a
mismatch or an exception is one failed operation.
"""

from __future__ import annotations

import hashlib
import os
import xml.etree.ElementTree as ET

import pandas as pd


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def read_dataset_xml(path: str, dataset: str) -> pd.DataFrame:
    """Rows of a Dataset-XML file as strings, one per ItemGroupData."""
    prefix = f"IT.{dataset}."
    rows: list[dict] = []
    for _, el in ET.iterparse(path, events=("end",)):
        if _local(el.tag) != "ItemGroupData":
            continue
        row = {}
        for item in el:
            oid = item.get("ItemOID", "")
            if oid.startswith(prefix):
                row[oid[len(prefix):]] = item.get("Value")
        rows.append(row)
        el.clear()
    return pd.DataFrame(rows)


def read_xpt(path: str) -> pd.DataFrame:
    """An XPT dataset with its row count taken from the file layout.

    pandas infers the count by treating every all-blank 8-byte word in
    the last 80-byte record as padding, so it drops real rows whose
    trailing fields are blank. Here the count is the data length over
    the record length, less trailing records that are entirely blank
    (a dataset row always carries a non-blank STUDYID)."""
    with pd.read_sas(path, format="xport", encoding="utf-8", iterator=True) as reader:
        start, length = reader.record_start, reader.record_length
        n = (os.path.getsize(path) - start) // length
        with open(path, "rb") as fh:
            while n:
                fh.seek(start + (n - 1) * length)
                if fh.read(length).strip(b" "):
                    break
                n -= 1
        reader.nobs = n
        return reader.read(n) if n else pd.DataFrame(columns=reader.columns)


def _text(s: pd.Series) -> pd.Series:
    return s.fillna("").astype(str).str.strip()


def _digest(values) -> str:
    return hashlib.sha256("\n".join(sorted(set(values))).encode()).hexdigest()


def check_dataset(df: pd.DataFrame, code: str, manifest: dict) -> list[str]:
    """Mismatches between one exported dataset and the manifest."""
    facts = manifest["datasets"][code]
    bad: list[str] = []
    if len(df) != facts["rows"]:
        bad.append(f"{code}: {len(df)} rows, expected {facts['rows']}")
    if "USUBJID" not in df.columns:
        return bad + [f"{code}: no USUBJID column"]
    subjects = _text(df["USUBJID"])
    subjects = subjects[subjects != ""]
    if _digest(subjects) != facts["subjects_sha256"]:
        bad.append(f"{code}: subject set differs ({subjects.nunique()} vs {facts['subjects']})")
    for key, allowed in manifest["ct_allowed"].items():
        ds, var = key.split(".")
        if ds != code:
            continue
        want = manifest["planted"]["ct_invalid"].get(ds, {}).get(var, 0)
        got = int((~_text(df[var]).isin(allowed)).sum()) if var in df.columns else -1
        if got != want:
            bad.append(f"{code}.{var}: {got} values outside the codelist, planted {want}")
    seq = f"{code}SEQ"
    if seq in df.columns:
        keys = pd.DataFrame({"u": subjects, "s": _text(df[seq].astype(str))})
        if keys.duplicated().any():
            bad.append(f"{code}: duplicate (USUBJID, {seq})")
    spid = f"{code}SPID"
    if code in manifest["planted"]["dup_keys"] and spid in df.columns:
        dups = int(pd.DataFrame({"u": _text(df["USUBJID"]), "k": _text(df[spid])}).duplicated().sum())
        want = manifest["planted"]["dup_keys"][code]
        if dups != want:
            bad.append(f"{code}: {dups} duplicate records, planted {want}")
    return bad


def check_define(path: str, datasets) -> list[str]:
    names = set()
    for _, el in ET.iterparse(path, events=("end",)):
        if _local(el.tag) == "ItemGroupDef":
            names.add(el.get("Name"))
    if names != set(datasets):
        return [f"define.xml ItemGroupDefs {sorted(names)} != datasets {sorted(datasets)}"]
    return []


def check_issues(issues: list[dict], manifest: dict) -> list[str]:
    """Planted-defect issue counts against the validation report."""
    got: dict[tuple, int] = {}
    for r in issues:
        k = (r["domain"], r["variable"], r["category"])
        got[k] = got.get(k, 0) + int(r["count"] or 0)
    want: dict[tuple, int] = {}
    for ds, per_var in manifest["planted"]["bad_dates"].items():
        for var, n in per_var.items():
            want[(ds, var, "Format")] = n
    for ds, n in manifest["planted"]["orphans"].items():
        want[(ds, "USUBJID", "CrossReference")] = n
    if manifest["planted"]["relrec_invalid"]:
        want[("RELREC", "RDOMAIN=AE", "CrossReference")] = manifest["planted"]["relrec_invalid"]
    bad = [
        f"issue {k}: reported {got.get(k, 0)}, planted {n}"
        for k, n in sorted(want.items())
        if got.get(k, 0) != n
    ]
    bad += [f"unexpected issue {k}: {n}" for k, n in sorted(got.items()) if k[2] == "Consistency"]
    return bad


def check_outputs(out_dir: str, manifest: dict, fmt: str, issues: list[dict], preview_rows: dict) -> tuple[int, int, list[str]]:
    """Check a finished flow; returns (attempted, failed, messages)."""
    attempted = failed = 0
    messages: list[str] = []

    def record(bad: list[str]) -> None:
        nonlocal attempted, failed
        attempted += 1
        if bad:
            failed += 1
            messages.extend(bad)

    for code in sorted(manifest["datasets"]):
        want = manifest["datasets"][code]["rows"]
        record([] if preview_rows.get(code) == want else [f"{code}: preview counted {preview_rows.get(code)} rows, expected {want}"])
        path = os.path.join(out_dir, f"{code.lower()}.{fmt}")
        try:
            df = read_xpt(path) if fmt == "xpt" else read_dataset_xml(path, code)
            record(check_dataset(df, code, manifest))
        except Exception as e:  # noqa: BLE001 — any unreadable output is a failure
            record([f"{code}: {type(e).__name__}: {e}"])
    try:
        record(check_define(os.path.join(out_dir, "define.xml"), manifest["datasets"]))
    except Exception as e:  # noqa: BLE001
        record([f"define.xml: {type(e).__name__}: {e}"])
    record(check_issues(issues, manifest))
    return attempted, failed, messages

"""Controlled Terminology registry (SURVEY.md §1.1, §2.1 S7).

The reference models CT as Registry → Catalog → Codelist → Term with
pre-built case-insensitive synonym indexes (tss-standards/src/ct/
types.rs:62-395). In Spark the same thing is a *lookup DataFrame*

    (codelist_code, lookup_key, submission_value, extensible)

with one row per (submission value ∪ synonym ∪ term code), uppercased
— exactly the shape a broadcast hash join wants. Codelists are tiny
(≪ 10 MB), so every CT normalization/validation is a broadcast join;
no shuffle at any scale.
"""

from __future__ import annotations

import csv
import io
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Term:
    code: str
    submission_value: str
    synonyms: list[str] = field(default_factory=list)


@dataclass
class Codelist:
    code: str
    name: str
    extensible: bool
    terms: list[Term] = field(default_factory=list)


def load_ct_csv(path_or_text: str, is_text: bool = False) -> dict[str, Codelist]:
    """Two-pass CT CSV parse (reference: ct/loader.rs:90-214).

    Row kinds share one schema (FIXTURES.md F6): codelist rows have a
    blank ``Codelist Code``; term rows carry it. Synonyms are
    ';'-separated. CT files are schema-sized (thousands of rows), so
    this is a driver-side parse feeding broadcast lookup tables.
    """
    if is_text:
        fh = io.StringIO(path_or_text)
    else:
        fh = open(path_or_text, "r", encoding="utf-8-sig", newline="")
    with fh:
        rows = list(csv.DictReader(fh))
    codelists: dict[str, Codelist] = {}
    for row in rows:  # pass 1: codelist definition rows
        if not (row.get("Codelist Code") or "").strip():
            code = (row.get("Code") or "").strip()
            codelists[code] = Codelist(
                code=code,
                name=(row.get("Codelist Name") or "").strip(),
                extensible=(row.get("Codelist Extensible (Yes/No)") or "").strip().lower()
                == "yes",
            )
    for row in rows:  # pass 2: term rows
        cl_code = (row.get("Codelist Code") or "").strip()
        if not cl_code:
            continue
        cl = codelists.get(cl_code)
        if cl is None:  # orphan term: reference warns + skips
            continue
        synonyms = [
            s.strip()
            for s in (row.get("CDISC Synonym(s)") or "").split(";")
            if s.strip()
        ]
        cl.terms.append(
            Term(
                code=(row.get("Code") or "").strip(),
                submission_value=(row.get("CDISC Submission Value") or "").strip(),
                synonyms=synonyms,
            )
        )
    return codelists


def codelist_lookup_df(spark: SparkSession, codelists: dict[str, Codelist]) -> DataFrame:
    """Flatten to the broadcastable lookup shape.

    lookup_key is uppercased; submission value, synonyms, and the term
    code itself all resolve (reference: ct/types.rs:144-153).
    """
    # dedupe (codelist_code, lookup_key) here, first row wins: the
    # constant-map path (operators/ct_lookup.py) and the join path
    # then see the same rows, and the frame stays a bare VALUES
    # relation that keeps its literal-row provenance
    seen: dict[tuple[str, str], tuple] = {}
    for cl in codelists.values():
        for t in cl.terms:
            keys = {t.submission_value.upper(), t.code.upper()}
            keys.update(s.upper() for s in t.synonyms)
            for k in sorted(keys):
                if k:
                    seen.setdefault((cl.code, k), (cl.code, k, t.submission_value, cl.extensible))
    from trial_submission_studio_spark.sources.local import values_df

    return values_df(
        spark,
        list(seen.values()),
        "codelist_code string, lookup_key string, submission_value string, extensible boolean",
    )


#: catalog resolution priority (reference: ct/types.rs:377-394 — a
#: codelist is looked up in SDTM CT first, then SEND, then any other
#: catalog alphabetically)
CATALOG_PRIORITY = ("SDTM", "SEND", "ADAM")


def resolve_codelist(
    registries: dict[str, dict[str, Codelist]], code: str
) -> Codelist | None:
    """O5: resolve a codelist code across catalogs by priority.

    ``registries``: catalog name → {codelist code → Codelist}.
    Priority catalogs first, then the rest alphabetically.
    """
    ordered = [c for c in CATALOG_PRIORITY if c in registries] + sorted(
        c for c in registries if c not in CATALOG_PRIORITY
    )
    for catalog in ordered:
        cl = registries[catalog].get(code)
        if cl is not None:
            return cl
    return None

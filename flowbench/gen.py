"""Seeded study generator for the submission-flow benchmark.

Writes mockdata-shaped double-header EDC CSVs (row 1 labels, row 2
column names) for one workload shape, plus ``manifest.json`` holding
the facts the output checker verifies: rows and subjects per dataset,
SUPP row counts, the intended mappings, and every planted defect.

The generator knows nothing of the package: the domain variables and
codelist values below are fixed data, so a change to the program can
never change the inputs. The same (shape, seed) gives byte-identical
files.

    python3 flowbench/gen.py --workload tall_xpt --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os
import random

STUDY_ID = "FLOWB"

# Mapped variables per domain ("#" marks a Num variable). SUBJID is
# always the first source column. TALL keeps <= 12 mapped columns.
DM_TALL = "SITEID AGE# AGEU SEX RACE ETHNIC COUNTRY ARMCD ARM RFSTDTC RFICDTC"
DM_WIDE = DM_TALL + " RFENDTC BRTHDTC DTHFL INVNAM ACTARMCD ACTARM DMDTC"
TALL_SPECS = {
    "AE": "AESPID AETERM AEDECOD AEBODSYS AESEV AESER AEACN AEREL AEOUT AESTDTC AEENDTC",
    "LB": "LBSPID LBTESTCD LBTEST LBCAT LBORRES LBORRESU LBSTRESN# LBSTRESU LBNRIND VISITNUM# LBDTC",
}
WIDE_SPECS = {
    "AE": "AESPID AETERM AEDECOD AECAT AEBODSYS AEBDSYCD# AELLT AEPTCD# AESOC AELOC"
    " AESEV AESER AEACN AEREL AEOUT AESTDTC AEENDTC AETOXGR",
    "CM": "CMSPID CMTRT CMDECOD CMCAT CMINDC CMCLAS CMDOSE# CMDOSTXT CMDOSU CMDOSFRM"
    " CMDOSFRQ CMDOSTOT# CMROUTE CMSTDTC CMENDTC CMSTRF CMENRF CMOCCUR",
    "LB": "LBSPID LBTESTCD LBTEST LBCAT LBORRES LBORRESU LBORNRLO LBORNRHI LBSTRESC"
    " LBSTRESN# LBSTRESU LBSTNRLO# LBSTNRHI# LBNRIND LBSPEC LBFAST VISITNUM# VISIT LBDTC",
    "VS": "VSSPID VSTESTCD VSTEST VSCAT VSORRES VSORRESU VSSTRESC VSSTRESN# VSSTRESU"
    " VSSTAT VSLOC VSLAT VSBLFL VSPOS VSCLSIG VISITNUM# VISIT VSDTC",
    "MH": "MHSPID MHTERM MHMODIFY MHDECOD MHCAT MHSCAT MHPRESP MHOCCUR MHSTAT MHBODSYS"
    " MHEVDTYP MHDTC MHSTDTC MHENDTC MHENRF MHENRTPT MHENTPT EPOCH",
    "EX": "EXSPID EXTRT EXCAT EXSCAT EXDOSE# EXDOSTXT EXDOSU EXDOSFRM EXDOSFRQ EXDOSRGM"
    " EXROUTE EXLOT EXLOC EXLAT EXFAST EXADJ EPOCH EXSTDTC EXENDTC",
    "DS": "DSSPID DSTERM DSDECOD DSCAT DSSCAT EPOCH DSDTC DSSTDTC",
    "EG": "EGSPID EGTESTCD EGTEST EGCAT EGSCAT EGORRES EGORRESU EGSTRESC EGSTRESN#"
    " EGSTRESU EGSTAT EGNAM EGMETHOD EGBLFL EGEVAL EGPOS EGLEAD VISITNUM# VISIT EGDTC",
    "QS": "QSSPID QSTESTCD QSTEST QSCAT QSSCAT QSORRES QSORRESU QSSTRESC QSSTRESN#"
    " QSSTRESU QSSTAT QSMETHOD QSBLFL QSDRVFL VISITNUM# VISIT EPOCH QSDTC QSTPT QSTPTNUM#",
    "PE": "PESPID PETESTCD PETEST PECAT PESCAT PEORRES PESTRESC PESTAT PELOC PELAT"
    " PEMETHOD PEEVAL PEMODIFY PEBODSYS PEORRESU PEBLFL VISITNUM# VISIT EPOCH PEDTC",
    "PR": "PRSPID PRTRT PRDECOD PRCAT PRSCAT PRPRESP PROCCUR PRINDC PRDOSE# PRDOSTXT"
    " PRDOSU PRDOSFRM PRDOSFRQ PRROUTE PRLOC PRLAT PRDIR PRSTDTC PRENDTC",
    "SU": "SUSPID SUTRT SUMODIFY SUDECOD SUCAT SUSCAT SUPRESP SUOCCUR SUSTAT SUCLAS"
    " SUDOSE# SUDOSTXT SUDOSU SUDOSFRQ SUDOSTOT# SUROUTE EPOCH SUSTDTC SUENDTC SUSTRF",
    "DV": "DVSPID DVTERM DVDECOD DVCAT DVSCAT EPOCH DVSTDTC DVENDTC",
    "CE": "CESPID CETERM CEDECOD CECAT CESCAT CEPRESP CEOCCUR CESTAT CEBODSYS CESEV"
    " CETOXGR CEDTC EPOCH CESTDTC CEENDTC CESTRF CEENRF",
    "FA": "FASPID FATESTCD FATEST FAOBJ FACAT FASCAT FAORRES FAORRESU FASTRESC"
    " FASTRESN# FASTRESU FASTAT FALOC FALAT FABLFL FAEVAL VISITNUM# VISIT EPOCH FADTC",
    "IE": "IESPID IETESTCD IETEST IECAT IESCAT IEORRES IESTRESC VISITNUM# VISIT EPOCH IEDTC",
    "SC": "SCSPID SCTESTCD SCTEST SCCAT SCSCAT SCORRES SCORRESU SCSTRESC SCSTRESN#"
    " SCSTRESU SCSTAT VISITNUM# VISIT EPOCH SCDTC",
    "MB": "MBSPID MBTESTCD MBTEST MBCAT MBSCAT MBORRES MBORRESU MBSTRESC MBRESCAT"
    " MBSTRESN# MBSTRESU MBSTAT MBNAM MBSPEC MBLOC MBMETHOD VISITNUM# VISIT MBDTC",
    "EC": "ECSPID ECTRT ECCAT ECSCAT ECPRESP ECOCCUR ECDOSE# ECDOSTXT ECDOSU ECDOSFRM"
    " ECDOSFRQ ECDOSTOT# ECROUTE ECLOT ECLOC ECLAT ECFAST ECMOOD ECSTDTC ECENDTC",
    "HO": "HOSPID HOTERM HODECOD HOCAT HOSCAT HOPRESP HOOCCUR HOSTAT HODTC EPOCH"
    " HOSTDTC HOENDTC HOSTRTPT HOSTTPT HOENRTPT HOENTPT",
}

#: workload shape -> generator parameters. ``tall_xml`` shares the
#: tall inputs: only the export format differs.
SHAPES = {
    "tall": {
        "subjects": 300,
        "dm": DM_TALL,
        "domains": {"AE": (TALL_SPECS["AE"], 3_000), "LB": (TALL_SPECS["LB"], 12_000)},
        "unmapped": 0,
        "relrec": 0,
    },
    "wide": {
        "subjects": 300,
        "dm": DM_WIDE,
        "domains": {"AE": (WIDE_SPECS["AE"], 2_000)},
        "unmapped": 6,
        "relrec": 200,
    },
}
WORKLOAD_SHAPE = {"tall_xpt": "tall", "tall_xml": "tall", "wide_xpt": "wide"}

# Codelist values with mixed-case synonyms (public SDTM CT). VALID is
# the submission-value set the checker counts planted outliers
# against; the pools also feed values through their synonyms.
SEX_VALID = ("M", "F", "U", "UNDIFFERENTIATED")
SEV_VALID = ("MILD", "MODERATE", "SEVERE")
POOLS = {
    "SEX": ("M", "F", "Male", "female", "MALE", "f"),
    "SEV": ("MILD", "Moderate", "severe", "Grade 1", "grade 2"),
    "NY": ("Y", "N", "Yes", "no", "y"),
    "AGEU": ("YEARS", "Years", "year"),
    "RACE": ("WHITE", "Caucasian", "ASIAN", "black or african american"),
    "ETHNIC": ("NOT HISPANIC OR LATINO", "Hispanic or Latino"),
    "COUNTRY": ("USA", "NLD", "DEU", "FRA"),
    "ROUTE": ("ORAL", "po", "IV", "By Mouth", "subcutaneous"),
    "UNIT": ("mg", "mL", "Milligram", "g/dL", "mmol/L"),
    "DOSFRM": ("TABLET", "tab", "Capsule"),
    "DOSFRQ": ("QD", "BID", "Twice Daily", "daily"),
    "NRIND": ("NORMAL", "high", "LOW"),
    "SPEC": ("BLOOD", "serum", "Plasma"),
    "EPOCH": ("SCREENING", "TREATMENT", "Follow-up"),
    "RELREF": ("BEFORE", "ONGOING", "Prior"),
    "ACN": ("DOSE NOT CHANGED", "Dose Decreased", "withdrawn"),
    "OUT": ("RECOVERED/RESOLVED", "Recovering", "not recovered"),
    "LBTESTCD": ("ALB", "ALT", "AST", "BILI", "CA", "CHOL"),
    "LBTEST": ("Albumin", "Alanine Aminotransferase", "Bilirubin", "Calcium"),
    "VSTESTCD": ("SYSBP", "DIABP", "HR", "TEMP"),
    "VSTEST": ("Systolic Blood Pressure", "Heart Rate", "Temperature"),
}
POOL_BY_SUFFIX = {
    "SEV": "SEV", "SER": "NY", "PRESP": "NY", "OCCUR": "NY", "BLFL": "NY",
    "FAST": "NY", "DRVFL": "NY", "CLSIG": "NY", "DTHFL": "NY", "ROUTE": "ROUTE",
    "DOSU": "UNIT", "ORRESU": "UNIT", "STRESU": "UNIT", "DOSFRM": "DOSFRM",
    "DOSFRQ": "DOSFRQ", "NRIND": "NRIND", "SPEC": "SPEC", "STRF": "RELREF",
    "ENRF": "RELREF", "ENRTPT": "RELREF", "STRTPT": "RELREF", "ACN": "ACN",
    "OUT": "OUT",
}
WORDS = (
    "headache nausea rash fatigue dizziness cough fever pain swelling "
    "insomnia tablet infusion clinic visit baseline screening follow review "
    "chest abdomen skin normal abnormal mild repeat oral daily weekly"
).split()


def _kind(var: str) -> str:
    """Value kind of a mapped variable, from its name alone."""
    if var.endswith("#"):
        return "num"
    if var.endswith("DTC"):
        return "date"
    if var.endswith("SPID"):
        return "spid"
    if var in POOLS:
        return "pool:" + var
    if var == "VISIT":
        return "visit"
    if var == "EPOCH":
        return "pool:EPOCH"
    suffix = var[2:]
    if suffix in POOL_BY_SUFFIX:
        return "pool:" + POOL_BY_SUFFIX[suffix]
    if suffix == "TESTCD":
        return "testcd"
    return "text"


def _label(var: str) -> str:
    return var[:-3].title() + " Date" if var.endswith("DTC") else var.title()


def _source_name(var: str) -> str:
    """EDC column name: CDASH-style ``--DAT`` for dates, else the
    variable name itself (the mockdata convention)."""
    return var[:-3] + "DAT" if var.endswith("DTC") else var


def _fmt_date(rng: random.Random, d: dt.date) -> str:
    """ISO, US, partial or blank, in fixed proportions."""
    r = rng.random()
    if r < 0.70:
        return d.isoformat()
    if r < 0.85:
        return d.strftime("%m/%d/%Y")
    if r < 0.92:
        return d.strftime("%Y-%m")
    return ""


def _value(rng: random.Random, kind: str, row: dict) -> str:
    if kind == "num":
        r = rng.random()
        if r < 0.1:
            return ""
        if r < 0.2:
            return f" {rng.randint(1, 99)} "
        if r < 0.3:
            return f"{rng.randint(1, 9)},{rng.randint(100, 999)}"
        return f"{rng.uniform(0, 500):.1f}"
    if kind == "date":
        return _fmt_date(rng, row["ref"] + dt.timedelta(days=rng.randint(0, 300)))
    if kind.startswith("pool:"):
        return rng.choice(POOLS[kind[5:]])
    if kind == "visit":
        return f"VISIT {row['visit']}"
    if kind == "testcd":
        return f"T{rng.randint(1, 12):02d}"
    if rng.random() < 0.05:
        return ""
    return f"{rng.choice(WORDS)} {rng.choice(WORDS)}"


def _csv_line(cells: list[str]) -> str:
    out = []
    for c in cells:
        if any(ch in c for ch in ',"\n'):
            c = '"' + c.replace('"', '""') + '"'
        out.append(c)
    return ",".join(out) + "\n"


def _write_csv(path: str, labels: list[str], names: list[str], rows: list[list[str]]) -> None:
    with open(path, "w", encoding="utf-8", newline="") as fh:
        fh.write(_csv_line(labels))
        fh.write(_csv_line(names))
        for r in rows:
            fh.write(_csv_line(r))


def _digest(usubjids) -> str:
    return hashlib.sha256("\n".join(sorted(set(usubjids))).encode()).hexdigest()


def generate(out_dir: str, shape: str, seed: int, scale: float = 1.0) -> dict:
    """Write the CSVs and ``manifest.json`` into ``out_dir``; return
    the manifest. ``scale`` multiplies every row count (tests run the
    shapes tiny)."""
    p = SHAPES[shape]
    rng = random.Random(f"{shape}:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    n_subj = max(4, int(p["subjects"] * scale))
    subjects = [f"{1 + i % 9:02d}-{i:05d}" for i in range(n_subj)]
    base = dt.date(2023, 1, 2)
    ref = {s: base + dt.timedelta(days=rng.randint(0, 200)) for s in subjects}
    manifest: dict = {
        "study_id": STUDY_ID,
        "shape": shape,
        "seed": seed,
        "files": {},
        "mappings": {},
        "datasets": {},
        "planted": {
            "ct_invalid": {},
            "bad_dates": {},
            "dup_keys": {},
            "orphans": {},
            "relrec_invalid": 0,
        },
    }
    manifest["ct_allowed"] = {"DM.SEX": list(SEX_VALID), "AE.AESEV": list(SEV_VALID)}

    def emit(code: str, spec: str, rows_wanted: int, is_dm: bool) -> None:
        variables = spec.split()
        names = ["SubjectId"] + [_source_name(v.rstrip("#")) for v in variables]
        labels = ["Subject"] + [_label(v.rstrip("#")) for v in variables]
        kinds = [_kind(v) for v in variables]
        extras = [] if is_dm else [f"{code}NOTE{i + 1}" for i in range(p["unmapped"])]
        names += extras
        labels += [f"{code} note {i + 1}" for i in range(len(extras))]
        mapping = {"SUBJID": "SubjectId"}
        mapping.update(
            {v.rstrip("#"): n for v, n in zip(variables, names[1:])}
        )
        rows: list[list[str]] = []
        subj_of_row: list[str] = []
        if is_dm:
            row_subjects = list(subjects)
        else:
            row_subjects = sorted(rng.choice(subjects) for _ in range(rows_wanted))
        for i, s in enumerate(row_subjects):
            ctx = {"ref": ref[s], "visit": 1 + i % 8}
            cells = [s]
            for v, k in zip(variables, kinds):
                name = v.rstrip("#")
                if is_dm and name == "RFSTDTC":
                    cells.append(ref[s].isoformat())  # study-day anchor: always ISO
                elif k == "spid":
                    cells.append(f"{code}-{i:06d}")
                else:
                    cells.append(_value(rng, k, ctx))
            for _ in extras:
                cells.append("" if rng.random() < 0.2 else f"{rng.choice(WORDS)}-{rng.randint(1, 99)}")
            rows.append(cells)
            subj_of_row.append(s)

        n_plant = max(1, len(rows) // 500)
        if not is_dm and code in ("AE", "LB"):
            # exact duplicate EDC records (same SPID): kept, and each
            # copy gets its own --SEQ
            for idx in rng.sample(range(len(rows)), n_plant):
                rows.append(list(rows[idx]))
                subj_of_row.append(subj_of_row[idx])
            manifest["planted"]["dup_keys"][code] = n_plant
        if code == "AE":
            # records of subjects absent from DM (J1 cross-reference)
            for k in range(n_plant):
                orphan = f"99-{k:05d}"
                extra = list(rows[k])
                extra[0] = orphan
                rows.append(extra)
                subj_of_row.append(orphan)
            manifest["planted"]["orphans"][code] = n_plant

        def plant(var: str, value: str, n: int, bucket: str) -> None:
            col = 1 + [v.rstrip("#") for v in variables].index(var)
            for idx in rng.sample(range(len(rows)), n):
                rows[idx][col] = value
            manifest["planted"][bucket].setdefault(code, {})[var] = n

        if code == "DM":
            plant("SEX", "Other", n_plant, "ct_invalid")
        if code == "AE":
            plant("AESEV", "MEDIUM", n_plant, "ct_invalid")
            plant("AESTDTC", "2024-13-45", n_plant, "bad_dates")
        if code == "LB":
            plant("LBDTC", "31/31/2024", n_plant, "bad_dates")
        path = os.path.join(out_dir, f"{code}.csv")
        _write_csv(path, labels, names, rows)
        manifest["files"][code] = f"{code}.csv"
        manifest["mappings"][code] = mapping
        ids = [f"{STUDY_ID}-{s}" for s in subj_of_row]
        manifest["datasets"][code] = {
            "rows": len(rows),
            "subjects": len(set(ids)),
            "subjects_sha256": _digest(ids),
        }
        if extras:
            tails = [(i, r[len(r) - len(extras):]) for i, r in zip(ids, rows)]
            supp_ids = [i for i, tail in tails if any(c.strip() for c in tail)]
            manifest["datasets"][f"SUPP{code}"] = {
                "rows": sum(1 for _, tail in tails for c in tail if c.strip()),
                "subjects": len(set(supp_ids)),
                "subjects_sha256": _digest(supp_ids),
            }

    emit("DM", p["dm"], len(subjects), True)
    for code, (spec, n_rows) in p["domains"].items():
        emit(code, spec, max(8, int(n_rows * scale)), False)

    if p["relrec"]:
        # RELREC links AE records by AESEQ; a planted share points at
        # a sequence number no subject reaches (J6 invalid reference)
        n_rel = max(8, int(p["relrec"] * scale))
        n_bad = max(1, n_rel // 20)
        rows = []
        for i in range(n_rel):
            s = rng.choice(subjects)
            seq = "9999" if i < n_bad else "1"
            rows.append([s, "AE", "AESEQ", seq, "ONE", f"R{i:05d}"])
        rng.shuffle(rows)
        _write_csv(
            os.path.join(out_dir, "RELREC.csv"),
            ["Subject", "Related Domain", "Id Variable", "Id Value", "Relation Type", "Relation Id"],
            ["SubjectId", "RDOMAIN", "IDVAR", "IDVARVAL", "RELTYPE", "RELID"],
            rows,
        )
        manifest["files"]["RELREC"] = "RELREC.csv"
        manifest["mappings"]["RELREC"] = {
            "USUBJID": "SubjectId", "RDOMAIN": "RDOMAIN", "IDVAR": "IDVAR",
            "IDVARVAL": "IDVARVAL", "RELTYPE": "RELTYPE", "RELID": "RELID",
        }
        ids = [f"{STUDY_ID}-{r[0]}" for r in rows]
        manifest["datasets"]["RELREC"] = {
            "rows": n_rel, "subjects": len(set(ids)), "subjects_sha256": _digest(ids),
        }
        manifest["planted"]["relrec_invalid"] = n_bad

    manifest["source_rows"] = sum(
        v["rows"] for k, v in manifest["datasets"].items() if not k.startswith("SUPP")
    )
    with open(os.path.join(out_dir, "manifest.json"), "w", encoding="utf-8") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_SHAPE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args()
    m = generate(a.out, WORKLOAD_SHAPE[a.workload], a.seed, a.scale)
    print(json.dumps({k: v["rows"] for k, v in m["datasets"].items()}))


if __name__ == "__main__":
    main()

"""One submission flow through the public study API, as a desktop
user drives it:

1. import: ``create_study`` on the generated CSVs, then accept the
   generator's intended mappings;
2. preview: per dataset (DM first, every other one with
   ``dm_frame=DM``) ``build_domain``, persist, materialize and fetch a
   first page; ``build_supp`` the same way wherever unmapped columns
   exist;
3. validate: ``validate_study(...).collect()``;
4. export: ``export_study(..., fmt, bypass_validation=True)``.

Every call goes through the ``study`` module's attributes, so the
traced run can wrap the functions as ``study.py`` binds them.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field

from trial_submission_studio_spark import study as study_api
from trial_submission_studio_spark.standards.sdtm_domains import DOMAINS

PAGE_ROWS = 100


@dataclass
class FlowResult:
    stage_s: dict[str, float] = field(default_factory=dict)
    issues: list[dict] = field(default_factory=list)
    preview_rows: dict[str, int] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    @property
    def submission_s(self) -> float:
        return sum(self.stage_s.values())


def no_stage(module: str, dataset: str):
    return contextlib.nullcontext()


def run_flow(spark, data_dir: str, manifest: dict, out_dir: str, fmt: str, stage=no_stage) -> FlowResult:
    """Run steps 1-4 once. ``stage(module, dataset)`` is a context
    manager the traced run uses to label the benchmark's own actions
    (materialize, page fetch, report collect) with their layer."""
    res = FlowResult()
    files = manifest["files"]
    order = ["DM"] + sorted(c for c in files if c != "DM")

    t0 = time.perf_counter()
    st = study_api.create_study(
        spark,
        manifest["study_id"],
        {c: os.path.join(data_dir, files[c]) for c in order},
        min_confidence=0.7,
    )
    for code in order:
        for var, col in manifest["mappings"][code].items():
            st.mappings[code].accept(var, col)
    t1 = time.perf_counter()
    res.stage_s["import"] = t1 - t0

    frames = {}

    def preview(code: str, build, module: str) -> None:
        res.attempted += 1
        try:
            df = build()
        except Exception as e:  # noqa: BLE001 — counted and reported
            res.failed += 1
            res.errors.append(f"build {code}: {type(e).__name__}: {e}")
            return
        if df is None:  # build_supp: no unmapped columns
            return
        res.attempted += 1
        try:
            with stage(module, code):
                df = df.persist()
                res.preview_rows[code] = df.count()
                df.take(PAGE_ROWS)
            frames[code] = df
        except Exception as e:  # noqa: BLE001
            res.failed += 1
            res.errors.append(f"preview {code}: {type(e).__name__}: {e}")

    try:
        preview("DM", lambda: study_api.build_domain(st, "DM"), "normalize")
        dm = frames.get("DM")
        for code in order[1:]:
            preview(code, lambda c=code: study_api.build_domain(st, c, dm_frame=dm), "normalize")
        for code in order:
            if code in frames and code != "RELREC":
                supp = f"SUPP{code}"
                st.domains.setdefault(supp, [dict(v) for v in DOMAINS["SUPPQUAL"]["variables"]])
                preview(supp, lambda c=code: study_api.build_supp(st, c, frames[c]), "reshape")
                if supp not in frames:
                    st.domains.pop(supp)
        t2 = time.perf_counter()
        res.stage_s["preview"] = t2 - t1

        with stage("validation", "study"):
            res.issues = [r.asDict() for r in study_api.validate_study(st, frames).collect()]
        t3 = time.perf_counter()
        res.stage_s["validate"] = t3 - t2

        res.attempted += len(frames) + 1
        try:
            study_api.export_study(st, frames, out_dir, fmt=fmt, bypass_validation=True)
        except Exception as e:  # noqa: BLE001
            res.failed += len(frames) + 1
            res.errors.append(f"export: {type(e).__name__}: {e}")
        res.stage_s["export"] = time.perf_counter() - t3
    finally:
        for df in frames.values():
            df.unpersist()
    return res

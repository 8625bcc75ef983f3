"""Zone-map data skipping for versioned snapshots: per-file column
min/max/null statistics harvested from parquet FOOTERS into the
manifest, and manifest-level file pruning before Spark ever plans a
scan.

Why this exists at 100 TB: Spark's own parquet row-group filtering
only kicks in AFTER every file has been listed, opened, and its
footer read — 100k footer round-trips per query on an object store.
The table-format answer (Delta/Iceberg data skipping) moves the stats
INTO the commit metadata: one manifest read answers "which files can
possibly contain ``ts > X``", and the query plans over the surviving
explicit file list only. Pruning cost is metadata-scale and
independent of data size.

Correctness discipline: skipping is an OPTIMIZATION with a proof
obligation — a file may be skipped only when its stats PROVE no row
can match. Unknown stats (missing column, unsupported type,
truncation-dropped string, NaN floats) always mean KEEP. And
:func:`read_pruned` re-applies the predicate as a real ``.filter``
regardless, so a stats bug can cost speed, never rows.

Stats come from ``pyarrow.parquet`` footer metadata only — no data
pages are read. For snapshots with many files,
:func:`collect_file_stats` optionally distributes the footer reads
over Spark (one task per path batch); the per-file entry is identical
either way.

Predicates are conjunctive lists of tuples, the same shapes the
filter compiles to::

    [("ts", ">=", datetime(2024, 1, 1)), ("lang", "=", "en")]
    [("score", "between", (0.5, 0.9)), ("text", "isnotnull")]

ops: ``= < <= > >= in between isnull isnotnull``.

Writer note: Spark's default parquet timestamp encoding is legacy
INT96, which carries NO footer statistics — timestamp columns in
such files are simply never skipped (safe, but no speedup). Set
``spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS`` on the
writing session to get stats'd (and non-deprecated) timestamps.
"""

from __future__ import annotations

import datetime as _dt
import math
import os
import sys
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from . import versioned

try:  # allow mapInPandas kernels to reference module helpers by value
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
except Exception:  # pragma: no cover
    pass

__all__ = [
    "collect_file_stats",
    "publish_with_stats",
    "prune_files",
    "predicate_to_column",
    "read_pruned",
    "optimize_version",
    "pruning_audit",
]

#: String min/max longer than this are dropped (entry -> unknown,
#: file never skipped on that column). Delta truncates with a
#: careful round-up of the max instead; dropping is strictly safe
#: and keeps manifests bounded without bound-rounding subtleties.
MAX_STRING_STAT = 64


def _encode(v: Any) -> tuple[str, Any] | None:
    """(type_tag, json_value) or None when the value can't carry a
    sound, JSON-stable bound."""
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            return None
        return ("float", v)
    if isinstance(v, str):
        if len(v) > MAX_STRING_STAT:
            return None
        return ("str", v)
    if isinstance(v, _dt.datetime):
        return ("timestamp", v.isoformat())
    if isinstance(v, _dt.date):
        return ("date", v.isoformat())
    return None  # bytes, Decimal, nested — unsupported, never skip


def _stats_for_file(path: str, columns: list[str] | None) -> dict:
    """Zone-map entry for one parquet file from its footer: per-column
    ``{t, min, max, nulls}`` (column absent => unknown) plus
    ``num_rows``. Row groups merge as min-of-mins / max-of-maxes /
    sum-of-nulls; any group without sound stats poisons the column to
    unknown (correct direction: keep)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    ncols = md.num_columns
    acc: dict[str, dict | None] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for i in range(ncols):
            c = g.column(i)
            name = c.path_in_schema
            if columns is not None and name not in columns:
                continue
            if name in acc and acc[name] is None:
                continue
            st = c.statistics
            if st is None or not st.has_min_max or st.null_count is None:
                acc[name] = None
                continue
            lo, hi = _encode(st.min), _encode(st.max)
            if lo is None or hi is None or lo[0] != hi[0]:
                acc[name] = None
                continue
            cur = acc.get(name)
            if cur is None:
                acc[name] = {
                    "t": lo[0], "min": lo[1], "max": hi[1],
                    "nulls": st.null_count,
                }
            elif cur["t"] != lo[0]:
                acc[name] = None
            else:
                cur["min"] = min(cur["min"], lo[1])
                cur["max"] = max(cur["max"], hi[1])
                cur["nulls"] += st.null_count
    return {
        "num_rows": md.num_rows,
        "columns": {k: v for k, v in acc.items() if v is not None},
    }


def collect_file_stats(
    root: str,
    files: list[str],
    columns: list[str] | None = None,
    *,
    spark: SparkSession | None = None,
    distribute_threshold: int = 256,
) -> dict[str, dict]:
    """rel-path -> zone-map entry for ``files`` (root-relative parquet
    paths). Footer reads only. With ``spark`` given and more than
    ``distribute_threshold`` files, the reads fan out as one Spark job
    over the path list (a 100k-file snapshot should not serialize
    100k footer round-trips on the driver); results are identical."""
    if spark is not None and len(files) > distribute_threshold:
        import pandas as pd

        def _kernel(batches):
            for b in batches:
                out = []
                for rel in b["rel"]:
                    s = _stats_for_file(os.path.join(root, rel), columns)
                    import json as _json

                    out.append((rel, _json.dumps(s)))
                yield pd.DataFrame(out, columns=["rel", "stats"])

        from trial_submission_studio_spark.sources.local import values_df

        pdf = values_df(spark, [(f,) for f in files], "rel string").repartition(
            min(len(files), 64)
        )
        rows = pdf.mapInPandas(_kernel, "rel string, stats string").collect()
        import json as _json

        return {r.rel: _json.loads(r.stats) for r in rows}
    return {
        rel: _stats_for_file(os.path.join(root, rel), columns)
        for rel in files
    }


def stats_like(
    root: str,
    base_manifest: dict,
    fresh_rel: list[str],
    *,
    spark: SparkSession | None = None,
) -> dict | None:
    """Zone-map entries for freshly written files ON THE SAME column
    set the base snapshot tracked — the continuity helper every
    rewriting commit (merge, compaction, …) uses so a table prunes
    exactly as well after the commit as before. None when the base
    tracked nothing (stats stay off rather than appearing
    surprisingly)."""
    base_stats = base_manifest.get("stats")
    if not base_stats or not fresh_rel:
        return None
    columns = sorted(
        {c for e in base_stats.values() for c in e.get("columns", {})}
    ) or None
    return collect_file_stats(root, fresh_rel, columns, spark=spark)


def publish_with_stats(
    root: str,
    run_dirs: str | list[str],
    columns: list[str] | None = None,
    *,
    base_version: int | None = None,
    metadata: dict | None = None,
    spark: SparkSession | None = None,
) -> dict:
    """`versioned.publish_version` + zone maps in one commit: stats
    are collected for the new run dirs' files and merged with the
    base version's existing stats (carried files keep their entries —
    stats are immutable alongside the immutable files). Appends onto
    a base version go through the multi-writer commit loop
    (`versioned.commit_files`)."""
    if isinstance(run_dirs, str):
        run_dirs = [run_dirs]
    fresh: list[str] = []
    for rd in run_dirs:
        rel = [
            os.path.relpath(p, root) for p in versioned.data_files(rd)
        ]
        if not rel:
            raise ValueError(f"no data files under {rd}")
        fresh.extend(rel)
    fresh_stats = collect_file_stats(root, fresh, columns, spark=spark)
    if base_version is not None:
        return versioned.commit_files(
            root,
            base_version=base_version,
            kind="append",
            add_files=fresh,
            add_stats=fresh_stats,
            metadata=metadata,
            spark=spark,
        )
    return versioned.publish_files(
        root, fresh, metadata=metadata, stats=fresh_stats
    )


def _coerce(tag: str, v: Any) -> Any:
    """Bring a predicate literal into the stat's comparison domain.
    Raises TypeError on hopeless mixes (caller treats as unknown)."""
    if tag == "timestamp":
        # normalize to NAIVE UTC: parquet stats are tz-aware when the
        # writer marked isAdjustedToUTC, predicate literals usually
        # naive; the engine pins the session TZ to UTC, so naive
        # literals MEAN UTC (matching Spark's filter semantics)
        if isinstance(v, str):
            v = _dt.datetime.fromisoformat(v)
        if isinstance(v, _dt.datetime):
            if v.tzinfo is not None:
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return v
        if isinstance(v, _dt.date):
            return _dt.datetime(v.year, v.month, v.day)
        raise TypeError(v)
    if tag == "date":
        if isinstance(v, _dt.datetime):
            return v.date()
        if isinstance(v, _dt.date):
            return v
        if isinstance(v, str):
            return _dt.date.fromisoformat(v)
        raise TypeError(v)
    if tag == "int" or tag == "float":
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            raise TypeError(v)
        return v
    if tag == "str":
        if not isinstance(v, str):
            raise TypeError(v)
        return v
    if tag == "bool":
        if not isinstance(v, bool):
            raise TypeError(v)
        return v
    raise TypeError(tag)


def _file_might_match(entry: dict, conjunct: tuple) -> bool:
    """False ONLY when the zone map proves no row in the file can
    satisfy the conjunct."""
    col, op = conjunct[0], conjunct[1]
    cols = entry.get("columns", {})
    num_rows = entry.get("num_rows")
    st = cols.get(col)
    # caller-composed entries may omit fields (nulls, even min/max):
    # a missing field is UNKNOWN, and unknown cannot prove "no match"
    nulls = st.get("nulls") if st else None
    if op == "isnull":
        return st is None or nulls is None or nulls > 0
    if op == "isnotnull":
        if st is None or num_rows is None or nulls is None:
            return True
        return nulls < num_rows
    if st is None or not all(k in st for k in ("t", "min", "max")):
        return True  # unknown stats: cannot prove anything
    tag = st["t"]
    try:
        lo = _coerce(tag, st["min"]) if tag in ("timestamp", "date") else st["min"]
        hi = _coerce(tag, st["max"]) if tag in ("timestamp", "date") else st["max"]
        if op == "in":
            vals = [_coerce(tag, x) for x in conjunct[2]]
            return any(lo <= x <= hi for x in vals)
        if op == "between":
            a, b = (_coerce(tag, x) for x in conjunct[2])
            return hi >= a and lo <= b
        v = _coerce(tag, conjunct[2])
    except (TypeError, ValueError):
        return True
    if op == "=":
        return lo <= v <= hi
    if op == "<":
        return lo < v
    if op == "<=":
        return lo <= v
    if op == ">":
        return hi > v
    if op == ">=":
        return hi >= v
    raise ValueError(f"unknown predicate op: {op!r}")


def _file_all_match(entry: dict, conjunct: tuple) -> bool:
    """True ONLY when the zone map proves EVERY row in the file
    satisfies the conjunct — the dual of :func:`_file_might_match`,
    used by retention deletes to drop whole files by metadata alone.
    NULL comparison results do not satisfy a predicate, so every op
    except ``isnull`` additionally requires a proven zero null count.
    Unknown stats prove nothing (False — the safe direction here is
    "cannot drop wholesale")."""
    col, op = conjunct[0], conjunct[1]
    cols = entry.get("columns", {})
    num_rows = entry.get("num_rows")
    st = cols.get(col)
    # a missing field is UNKNOWN, and unknown PROVES nothing here
    nulls = st.get("nulls") if st else None
    if op == "isnull":
        return (
            nulls is not None
            and num_rows is not None
            and nulls == num_rows
        )
    if st is None or nulls is None or nulls > 0:
        return False
    if op == "isnotnull":
        return True  # stats exist and nulls == 0
    if not all(k in st for k in ("t", "min", "max")):
        return False
    tag = st["t"]
    try:
        lo = _coerce(tag, st["min"]) if tag in ("timestamp", "date") else st["min"]
        hi = _coerce(tag, st["max"]) if tag in ("timestamp", "date") else st["max"]
        if op == "in":
            vals = [_coerce(tag, x) for x in conjunct[2]]
            return lo == hi and lo in vals
        if op == "between":
            a, b = (_coerce(tag, x) for x in conjunct[2])
            return lo >= a and hi <= b
        v = _coerce(tag, conjunct[2])
    except (TypeError, ValueError):
        return False
    if op == "=":
        return lo == hi == v
    if op == "<":
        return hi < v
    if op == "<=":
        return hi <= v
    if op == ">":
        return lo > v
    if op == ">=":
        return lo >= v
    raise ValueError(f"unknown predicate op: {op!r}")


def _with_partition_stats(manifest: dict) -> dict:
    """A manifest view whose stats are augmented with EXACT per-file
    entries derived from Hive-style partition directories
    (`io/partitioned_table.py`) — how partition pruning and
    directory-grain retention drops ride the ordinary zone-map
    machinery with zero footer reads. Identity for unpartitioned
    tables; partition-derived columns take precedence over footer
    stats for the same column (they are exact, not truncatable)."""
    md = manifest["metadata"]
    if not (md.get("partition_spec") or md.get("partition_spec_history")):
        # history alone still prunes: a table evolved to unpartitioned
        # keeps serving its old generations' directory stats
        return manifest
    from .partitioned_table import partition_pseudo_stats

    ps = partition_pseudo_stats(manifest)
    if not ps:
        return manifest
    stats = dict(manifest.get("stats") or {})
    for f, e in ps.items():
        cur = stats.get(f)
        if cur:
            cols = dict(cur.get("columns") or {})
            cols.update(e["columns"])
            stats[f] = {**cur, "columns": cols}
        else:
            stats[f] = e
    return dict(manifest, stats=stats)


def _physical_conjuncts(
    manifest: dict, predicate: list[tuple]
) -> list[tuple]:
    """Predicate column names translated LOGICAL -> PHYSICAL for
    zone-map lookups (stats are footer-derived, so keyed by physical
    names); identity for unmapped tables. An unknown name passes
    through untouched — its stats simply never match (safe: keep)."""
    cm = manifest.get("column_mapping")
    if not cm:
        return predicate
    return [(cm.get(c[0], c[0]),) + tuple(c[1:]) for c in predicate]


def split_files_for_delete(
    manifest: dict, predicate: list[tuple]
) -> dict:
    """Three-way split of a manifest's files for a predicate DELETE:
    ``drop`` (stats prove every row matches — remove the file, zero
    reads), ``scan`` (might hold matches — needs row-level work),
    ``keep`` (provably no matches — untouched). Files without stats
    land in ``scan``. Hive-partition dirs contribute exact entries
    (whole-directory drops with zero reads)."""
    predicate = _physical_conjuncts(manifest, predicate)
    stats = _with_partition_stats(manifest).get("stats", {})
    out = {"drop": [], "scan": [], "keep": []}
    for f in manifest["files"]:
        entry = stats.get(f)
        if entry is None:
            out["scan"].append(f)
        elif all(_file_all_match(entry, c) for c in predicate):
            out["drop"].append(f)
        elif all(_file_might_match(entry, c) for c in predicate):
            out["scan"].append(f)
        else:
            out["keep"].append(f)
    return out


def prune_files(manifest: dict, predicate: list[tuple]) -> dict:
    """Split a manifest's file list by the zone maps: ``kept`` (might
    match) vs ``skipped`` (provably cannot). Files without stats are
    always kept. Returns ``{"kept", "skipped", "rows_skipped_bound"}``
    — the bound is the sum of skipped files' row counts, i.e. rows
    the scan provably never touches."""
    predicate = _physical_conjuncts(manifest, predicate)
    stats = _with_partition_stats(manifest).get("stats", {})
    kept, skipped, rows_skipped = [], [], 0
    for f in manifest["files"]:
        entry = stats.get(f)
        if entry is not None and not all(
            _file_might_match(entry, c) for c in predicate
        ):
            skipped.append(f)
            rows_skipped += entry.get("num_rows") or 0
        else:
            kept.append(f)
    return {
        "kept": kept,
        "skipped": skipped,
        "rows_skipped_bound": rows_skipped,
    }


def prune_manifest(
    root: str, version: int | None, predicate: list[tuple]
) -> dict:
    """TWO-LEVEL pruning straight off the metadata store (the Iceberg
    manifest-list read path): on a segmented manifest, each segment's
    recorded zone-map SUMMARY (`versioned._segment_summary`) is
    checked first — a segment the predicate provably cannot match is
    skipped WITHOUT loading it, so a selective read on a 10^6-file
    table parses only the matching segments instead of resolving the
    whole store; surviving segments then prune per-file exactly like
    :func:`prune_files`. Plain manifests fall through to the classic
    path. Returns ``{"kept", "dv", "files_total", "files_skipped",
    "segments_total", "segments_skipped", "rows_skipped_bound"}`` —
    skipped segments contribute their file/row counts from the
    summary (their file NAMES are never materialized, by design).
    Soundness is the summary's contract: bounds cover every member
    file, uncertainty keeps — a summary can cost a load, never rows."""
    from .versioned import (
        _load_segment,
        _read_manifest_raw,
        current_version,
        read_manifest,
    )

    if version is None:
        version = current_version(root)
    raw = _read_manifest_raw(root, version)
    if "segments" not in raw:
        m = read_manifest(root, version)
        pr = prune_files(m, predicate) if predicate else None
        kept = pr["kept"] if pr else list(m["files"])
        dv = m.get("dv") or {}
        return {
            "kept": kept,
            "dv": {f: dv[f] for f in kept if f in dv},
            "files_total": len(m["files"]),
            "files_skipped": len(pr["skipped"]) if pr else 0,
            "segments_total": 0,
            "segments_skipped": 0,
            "rows_skipped_bound": pr["rows_skipped_bound"] if pr else 0,
        }
    pred = _physical_conjuncts(raw, predicate)
    summaries = raw.get("segment_stats") or {}
    kept: list = []
    dv: dict = {}
    files_total = raw.get("n_files", 0)
    files_skipped = 0
    segs_skipped = 0
    rows_skipped = 0
    md = raw.get("metadata") or {}
    partitioned = bool(
        md.get("partition_spec") or md.get("partition_spec_history")
    )
    for sid in raw["segments"]:
        summ = summaries.get(sid)
        if (
            pred
            and summ
            and not all(_file_might_match(summ, c) for c in pred)
        ):
            segs_skipped += 1
            files_skipped += summ.get("n_files", 0)
            rows_skipped += summ.get("num_rows") or 0
            continue
        entries = _load_segment(root, sid)
        seg_files = [e["file"] for e in entries]
        stats = {
            e["file"]: e["stats"] for e in entries if "stats" in e
        }
        if partitioned:
            # one copy of the pseudo-stat precedence rule: the same
            # helper file-level pruning uses, on a per-segment shim
            stats = _with_partition_stats(
                {"files": seg_files, "metadata": md, "stats": stats}
            ).get("stats", stats)
        for e in entries:
            f = e["file"]
            st = stats.get(f)
            if pred and st is not None and not all(
                _file_might_match(st, c) for c in pred
            ):
                files_skipped += 1
                rows_skipped += st.get("num_rows") or 0
                continue
            kept.append(f)
            if "dv" in e:
                dv[f] = e["dv"]
    return {
        "kept": sorted(kept),
        "dv": dv,
        "files_total": files_total,
        "files_skipped": files_skipped,
        "segments_total": len(raw["segments"]),
        "segments_skipped": segs_skipped,
        "rows_skipped_bound": rows_skipped,
    }


def predicate_to_column(predicate: list[tuple]) -> Column:
    """The same conjunctive predicate as a Spark Column, so the
    pruned read still FILTERS (and Spark still pushes the filter into
    the surviving scans) — correctness never rides on the stats."""
    out = F.lit(True)
    for c in predicate:
        col, op = F.col(c[0]), c[1]
        if op == "=":
            term = col == F.lit(c[2])
        elif op == "<":
            term = col < F.lit(c[2])
        elif op == "<=":
            term = col <= F.lit(c[2])
        elif op == ">":
            term = col > F.lit(c[2])
        elif op == ">=":
            term = col >= F.lit(c[2])
        elif op == "in":
            term = col.isin(list(c[2]))
        elif op == "between":
            term = (col >= F.lit(c[2][0])) & (col <= F.lit(c[2][1]))
        elif op == "isnull":
            term = col.isNull()
        elif op == "isnotnull":
            term = col.isNotNull()
        else:
            raise ValueError(f"unknown predicate op: {op!r}")
        out = out & term
    return out


def read_pruned(
    spark: SparkSession,
    root: str,
    predicate: list[tuple],
    *,
    version: int | None = None,
) -> DataFrame:
    """Read a snapshot through the zone maps: plan over the pruned
    explicit file list, then apply the predicate as a real filter.
    Result rows are always identical to
    ``read_version(...).filter(...)`` — skipping only shrinks the
    scan."""
    from .deletion_vectors import read_with_dv

    m = versioned.read_manifest(root, version)
    pruned = prune_files(m, predicate)
    if not pruned["kept"]:
        # every file provably excluded: empty frame with the right
        # (logical) schema
        return (
            read_with_dv(spark, root, m, m["files"][:1])
            .filter(predicate_to_column(predicate))
            .limit(0)
        )
    # read_with_dv presents the LOGICAL schema (column mapping) and
    # applies merge-on-read tombstones; only the surviving files'
    # sidecars are loaded. The predicate re-applies as a real filter
    # in LOGICAL names — stats may only ever cost speed.
    df = read_with_dv(spark, root, m, pruned["kept"])
    return df.filter(predicate_to_column(predicate))


def optimize_version(
    spark: SparkSession,
    root: str,
    zorder_cols: dict[str, tuple[float, float]],
    *,
    bits: int = 8,
    num_partitions: int | None = None,
    columns: list[str] | None = None,
    version: int | None = None,
    verify: bool = True,
    metadata: dict | None = None,
) -> dict:
    """Delta's ``OPTIMIZE ... ZORDER BY`` over the manifest protocol:
    rewrite a snapshot clustered on the Z-order key of ``zorder_cols``
    (pinned bucket bounds, `operators/layout.py:zorder_layout` — one
    range shuffle + partition-local sort), then publish the rewrite
    WITH fresh zone maps. Clustering is what makes zone maps tight:
    after this commit, conjunctive range predicates on any subset of
    the clustered columns prune files instead of just row groups.

    Stats columns default to the clustered columns plus whatever the
    base snapshot already tracked. Old versions stay readable (time
    travel), same as compaction — this is just another append-only
    commit; reclaim the old files later with ``retire_versions`` +
    ``vacuum``.
    """
    from ..operators.layout import zorder_layout

    m = versioned.read_manifest(root, version)
    if m["metadata"].get("bucket_spec"):
        # the two layouts compete for file placement: a Z-order
        # rewrite would scatter each hash bucket across every output
        # file, breaking key-pruned reads. Refuse loudly —
        # compact_version consolidates a bucketed table in place;
        # range-clustering wants its own (unbucketed) root.
        raise ValueError(
            "snapshot is bucket-spec'd (io/bucketed_table.py); Z-order "
            "would destroy the bucket layout - use compact_version "
            "(bucket-preserving) or republish unbucketed under a fresh "
            "root"
        )
    if m["metadata"].get("partition_spec"):
        # same competition with Hive partition dirs
        # (io/partitioned_table.py): a global Z-order rewrite would
        # strip the directory layout and its zero-read pruning
        raise ValueError(
            "snapshot is partition-spec'd (io/partitioned_table.py); "
            "Z-order would destroy the directory layout - use "
            "compact_version (layout-preserving) or republish "
            "unpartitioned under a fresh root"
        )
    from .deletion_vectors import read_with_dv
    from .table_schema import to_physical

    # LOGICAL view (a full rewrite folds every tombstone; the output
    # is DV-free); clustering expressions use logical names, the
    # write goes back under the frozen physical names
    df = read_with_dv(spark, root, m)
    clustered = zorder_layout(
        df, zorder_cols, bits=bits, num_partitions=num_partitions
    ).drop("_zkey")
    clustered = to_physical(clustered, m, context="optimize")
    run_dir = versioned.new_data_dir(root)
    clustered.write.mode("overwrite").parquet(run_dir)
    if verify:
        n_in, n_out = df.count(), spark.read.parquet(run_dir).count()
        if n_in != n_out:
            raise RuntimeError(
                f"optimize row-count mismatch: {n_in} in, {n_out} out"
            )
    if columns is None:
        cmap = m.get("column_mapping") or {}
        base_cols = {
            c
            for e in m.get("stats", {}).values()
            for c in e.get("columns", {})
        }
        # stats are keyed by PHYSICAL names: translate the (logical)
        # clustering columns before unioning
        columns = sorted(
            base_cols | {cmap.get(c, c) for c in zorder_cols}
        ) or None
    fresh = [os.path.relpath(p, root) for p in versioned.data_files(run_dir)]
    stats = collect_file_stats(root, fresh, columns, spark=spark)
    meta = {
        "optimize": {
            "zorder_by": sorted(zorder_cols),
            "base_version": m["version"],
            "files_in": len(m["files"]),
            "files_out": len(fresh),
        },
        **(metadata or {}),
    }
    # row-preserving maintenance commit: auto-rebases over concurrent
    # appends (their files simply ride along, unclustered until the
    # next OPTIMIZE); conflicts loudly with concurrent rewrites of
    # the files it replaced
    return versioned.commit_files(
        root,
        base_version=m["version"],
        kind="maintenance",
        add_files=fresh,
        remove_files=m["files"],
        add_stats=stats,
        metadata=meta,
        spark=spark,
    )


def pruning_audit(
    root: str, predicate: list[tuple], *, version: int | None = None
) -> dict:
    """Metadata-only answer to "how much does this predicate skip?":
    file and row-bound counts from the manifest alone — the planning
    tool for layout decisions (pair with `operators/layout.py`'s
    Z-order: clustering exists precisely to make these zone maps
    tight)."""
    m = versioned.read_manifest(root, version)
    pruned = prune_files(m, predicate)
    stats = m.get("stats", {})
    rows_total = sum(
        (stats.get(f) or {}).get("num_rows") or 0 for f in m["files"]
    )
    return {
        "files_total": len(m["files"]),
        "files_kept": len(pruned["kept"]),
        "files_skipped": len(pruned["skipped"]),
        "rows_total_known": rows_total,
        "rows_skipped_bound": pruned["rows_skipped_bound"],
        "skip_fraction_files": (
            len(pruned["skipped"]) / len(m["files"]) if m["files"] else 0.0
        ),
    }

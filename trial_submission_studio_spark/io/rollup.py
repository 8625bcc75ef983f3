"""Incrementally-maintained rollups (materialized aggregates) over
versioned snapshots — the OLAP-cube refresh that never re-scans the
corpus.

The idea: every commit to a versioned table (`io/versioned.py`) is a
file-list delta — appends add files, merges/deletes/compactions swap
a few. An aggregate over the table therefore decomposes into
PER-FILE partial aggregates, and a refresh only has to

1. scan the files ADDED since the last refresh (one Spark job over
   exactly those paths, tagged by ``_metadata.file_path``),
2. drop the partial rows of files REMOVED since then (a file-grain
   `io/merge.py:delete_matching` on the partial store — itself a
   versioned table, so rollup history time-travels too), and
3. re-reduce partials to the final aggregate at READ time
   (partials-grain, not corpus-grain: sum-of-sums, min-of-mins...).

Refresh cost is O(|added data| + |partials touched|); a nightly
ingest into a 100 TB table refreshes its dashboards by scanning the
night's files. This is sound because every supported measure is a
commutative monoid over rows: ``count``, ``sum``, ``min``, ``max``,
``avg`` (kept as sum+count, divided at read), and
``approx_distinct`` (a per-file HLL sketch via Spark's native
``hll_sketch_agg``; read-time ``hll_union_agg`` merges registers —
associative, so per-file partials lose nothing). EXACT distinct and
medians are refused — they don't decompose; use
`operators/sketches.py` directly for sketch-table workflows.

The measure spec is recorded in the partial store's manifests and
later refreshes must match it exactly — a silently-different spec
would merge incompatible partials.

Spec shape::

    dims     = ["lang", "source"]
    measures = {"n": ("count", None),       # count(*)
                "chars": ("sum", "length"),
                "longest": ("max", "length"),
                "mean_len": ("avg", "length")}
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import versioned
from .merge import delete_matching

__all__ = ["refresh_rollup", "read_rollup", "rollup_status"]

_OPS = ("count", "sum", "min", "max", "avg", "approx_distinct")
_FILE = "__src_file"


def _canon_spec(dims: list[str], measures: dict) -> dict:
    for name, (op, col) in measures.items():
        if op not in _OPS:
            raise ValueError(
                f"measure {name!r}: {op!r} is not decomposable here "
                f"(supported: {_OPS}; for distinct counts use "
                "operators/sketches.py)"
            )
        if op == "count" and col is not None and not isinstance(col, str):
            raise ValueError(f"measure {name!r}: count column must be str|None")
        if op != "count" and not isinstance(col, str):
            raise ValueError(f"measure {name!r}: {op} needs a column")
        if name in dims or name == _FILE:
            raise ValueError(f"measure name {name!r} collides with a dim")
    return {
        "dims": list(dims),
        "measures": {k: [op, col] for k, (op, col) in measures.items()},
    }


def _partial_aggs(measures: dict) -> list:
    aggs = []
    for name, (op, col) in measures.items():
        if op == "count":
            expr = F.count(F.lit(1)) if col is None else F.count(col)
            aggs.append(expr.alias(f"{name}__cnt"))
        elif op == "sum":
            aggs.append(F.sum(col).alias(f"{name}__sum"))
        elif op == "min":
            aggs.append(F.min(col).alias(f"{name}__min"))
        elif op == "max":
            aggs.append(F.max(col).alias(f"{name}__max"))
        elif op == "avg":
            aggs.append(F.sum(col).alias(f"{name}__sum"))
            aggs.append(F.count(col).alias(f"{name}__cnt"))
        elif op == "approx_distinct":
            aggs.append(F.hll_sketch_agg(col).alias(f"{name}__hll"))
    return aggs


def _final_aggs(measures: dict) -> list:
    aggs = []
    for name, (op, col) in measures.items():
        if op == "count":
            aggs.append(F.sum(f"{name}__cnt").alias(name))
        elif op == "sum":
            aggs.append(F.sum(f"{name}__sum").alias(name))
        elif op == "min":
            aggs.append(F.min(f"{name}__min").alias(name))
        elif op == "max":
            aggs.append(F.max(f"{name}__max").alias(name))
        elif op == "avg":
            aggs.append(
                (F.sum(f"{name}__sum") / F.sum(f"{name}__cnt")).alias(name)
            )
        elif op == "approx_distinct":
            aggs.append(
                F.hll_sketch_estimate(
                    F.hll_union_agg(f"{name}__hll", F.lit(True))
                ).cast("long").alias(name)
            )
    return aggs


def rollup_status(rollup_root: str) -> dict | None:
    """{"base_version", "spec", "pending_removed"} of the newest
    refresh, or None for a never-refreshed store. A non-empty
    ``pending_removed`` means a prior refresh appended the fresh
    partials but crashed before retiring the removed files' partials
    — the next :func:`refresh_rollup` finishes that delete first."""
    if versioned.current_version(rollup_root) is None:
        return None
    meta = versioned.read_manifest(rollup_root)["metadata"]["rollup"]
    return {
        "base_version": meta["base_version"],
        "spec": meta["spec"],
        "pending_removed": meta.get("pending_removed") or [],
    }


def refresh_rollup(
    spark: SparkSession,
    base_root: str,
    rollup_root: str,
    dims: list[str],
    measures: dict,
    *,
    base_version: int | None = None,
) -> dict:
    """Bring the partial store under ``rollup_root`` up to date with
    ``base_root``'s CURRENT (or ``base_version``) snapshot. Returns
    the rollup manifest; ``metadata.rollup`` records the refreshed
    base version plus the audit (``files_added`` — the only data
    scanned — and ``files_removed``). Idempotent: refreshing an
    already-refreshed version is a no-op returning the current
    manifest."""
    spec = _canon_spec(dims, measures)
    base_m = versioned.read_manifest(base_root, base_version)
    status = rollup_status(rollup_root)
    prev_m = None
    if status is not None:
        if status["spec"] != spec:
            raise ValueError(
                "rollup spec changed since last refresh; rebuild under a "
                f"fresh rollup_root (recorded: {status['spec']})"
            )
        if status["pending_removed"]:
            # crash recovery: a prior refresh committed the fresh
            # partials (and the target base_version) but died before
            # the delete commit; without this, the idempotency fence
            # below would skip the cleanup FOREVER and read_rollup
            # would double-count rewritten files' rows.
            _retire_partials(
                spark, rollup_root, status["pending_removed"],
                versioned.read_manifest(rollup_root)["metadata"]["rollup"],
            )
            status = rollup_status(rollup_root)
        prev_m = versioned.read_manifest(base_root, status["base_version"])
        prev_files = set(prev_m["files"])
        if status["base_version"] == base_m["version"]:
            return versioned.read_manifest(rollup_root)
    else:
        prev_files = set()

    cur_files = set(base_m["files"])
    added = sorted(cur_files - prev_files)
    removed = sorted(prev_files - cur_files)
    # merge-on-read deletes (`io/deletion_vectors.py`) change no
    # files, only the manifest's dv map — a common file whose dv grew
    # has STALE partials: retire the old generation, rescan the live
    # rows. Partials are keyed by the generation TAG (rel path, or
    # "rel@dv<hash>" with the hash derived from the dv ENTRY CONTENT
    # — the sorted sidecar list + rows count). A rows-count tag would
    # collide when a rollback to a dv-free version is followed by a
    # delete of the same NUMBER of different rows (equal count,
    # different sidecars): the retire tag would equal the fresh scan
    # tag and phase 2 would delete the just-appended partials too.
    # Content-derived tags make distinct dv generations collision-free.
    from .deletion_vectors import dv_map

    dv_prev = dv_map(prev_m) if prev_m else {}
    dv_cur = dv_map(base_m)
    dv_changed = sorted(
        f
        for f in cur_files & prev_files
        if dv_cur.get(f) != dv_prev.get(f)
    )

    def _tag(f: str, dvm: dict) -> str:
        e = dvm.get(f)
        if not e or not e.get("rows"):
            return f
        import hashlib
        import json as _json

        h = hashlib.sha256(
            _json.dumps([sorted(e["sidecars"]), e["rows"]]).encode()
        ).hexdigest()[:12]
        return f"{f}@dv{h}"

    scan_files = sorted(set(added) | set(dv_changed))
    retire_tags = sorted(
        [_tag(f, dv_prev) for f in removed]
        + [_tag(f, dv_prev) for f in dv_changed]
    )
    meta = {
        "rollup": {
            "base_version": base_m["version"],
            "base_root": os.path.abspath(base_root),
            "spec": spec,
            "files_added": len(added),
            "files_removed": len(removed),
            "files_dv_changed": len(dv_changed),
        }
    }

    if not scan_files and not retire_tags:
        if status is None:
            raise ValueError(f"base snapshot {base_root} has no files")
        # same file list under a new base version (e.g. a rollback
        # commit): partials are already exact
        return versioned.read_manifest(rollup_root)

    # 1) ONE scan over exactly the added files -> their partials,
    #    appended first (so a full-rewrite base commit — compaction,
    #    optimize — never transits through an empty partial store).
    #    A refresh with both adds and removes is TWO commits; the
    #    intermediate one records `pending_removed` so a crash
    #    between them is resumable (see rollup_status) — only the
    #    FINAL commit is pending-free, and the idempotency fence
    #    above refuses to treat a pending state as done.
    out = None
    if scan_files:
        # LIVE rows of the scan slice, each tagged with its source
        # file's generation tag. The lineage column comes from
        # `deletion_vectors.read_with_dv` (root-relative path
        # extracted positionally with column functions — never
        # string-interpolated SQL; a non-matching path fails loudly,
        # not mis-keys partials); the rel->tag mapping is
        # driver-sized (bounded by file count) and broadcast.
        from .deletion_vectors import FILE_COL, POS_COL, read_with_dv

        from trial_submission_studio_spark.sources.local import values_df

        # literal VALUES relation: pure JVM, no Python-worker task
        tags = values_df(
            spark,
            [(f, _tag(f, dv_cur)) for f in scan_files],
            f"{FILE_COL} string, {_FILE} string",
        )
        fresh = (
            read_with_dv(spark, base_root, base_m, scan_files,
                         with_lineage=True)
            .drop(POS_COL)
            .join(F.broadcast(tags), FILE_COL)
            .drop(FILE_COL)
        )
        partials = fresh.groupBy(_FILE, *spec["dims"]).agg(
            *_partial_aggs(measures)
        )
        os.makedirs(rollup_root, exist_ok=True)
        run_dir = versioned.new_data_dir(rollup_root)
        partials.write.mode("overwrite").parquet(run_dir)
        append_meta = meta
        if retire_tags and status is not None:
            append_meta = {
                "rollup": {**meta["rollup"], "pending_removed": retire_tags}
            }
        base_v = versioned.current_version(rollup_root)
        fresh_files = [
            os.path.relpath(p, rollup_root)
            for p in versioned.data_files(run_dir)
        ]
        if base_v is None:
            out = versioned.publish_files(
                rollup_root, fresh_files, metadata=append_meta
            )
        else:
            # KEYED commit, not a plain append: the partials were
            # computed against the store state read above, so two
            # refreshes racing the same base must not both land —
            # the loser gets a TableConflictError instead of
            # silently double-counting the same source files
            out = versioned.commit_files(
                rollup_root,
                base_version=base_v,
                kind="keyed",
                add_files=fresh_files,
                metadata=append_meta,
                spark=spark,
            )

    # 2) retire partials of files no longer in the snapshot (or
    #    superseded by a new dv generation) — file-grain
    #    copy-on-write on the (small) partial store. This is the
    #    FINAL (pending-free) commit of the refresh.
    if retire_tags and status is not None:
        out = _retire_partials(spark, rollup_root, retire_tags, meta["rollup"])
    return out


def _retire_partials(
    spark: SparkSession, rollup_root: str, removed: list[str], rollup_meta: dict
) -> dict:
    from trial_submission_studio_spark.sources.local import values_df

    doomed = values_df(spark, [(f,) for f in removed], f"{_FILE} string")
    clean = {k: v for k, v in rollup_meta.items() if k != "pending_removed"}
    return delete_matching(
        spark, rollup_root, doomed, _FILE, verify=False,
        metadata={"rollup": clean},
    )


def read_rollup(
    spark: SparkSession, rollup_root: str, *, version: int | None = None
) -> DataFrame:
    """The materialized aggregate: re-reduce the partial store to the
    final per-dims frame (partials-grain work). ``version`` time-
    travels the ROLLUP's own history.

    A version whose manifest carries ``pending_removed`` (a refresh
    appended the rewritten files' partials but crashed before retiring
    the removed files' rows) would naively double-count the rewritten
    data — both the old and the new partials are in the store. The
    manifest names exactly the stale files, so we anti-filter them
    here: reads are correct even mid-crash, and the next
    :func:`refresh_rollup` makes the store itself clean again."""
    m = versioned.read_manifest(rollup_root, version)
    rmeta = m["metadata"]["rollup"]
    spec = rmeta["spec"]
    measures = {k: tuple(v) for k, v in spec["measures"].items()}
    partials = versioned.read_version(spark, rollup_root, version)
    pending = rmeta.get("pending_removed") or []
    if pending:
        partials = partials.filter(~F.col(_FILE).isin(pending))
    return partials.groupBy(*spec["dims"]).agg(*_final_aggs(measures))

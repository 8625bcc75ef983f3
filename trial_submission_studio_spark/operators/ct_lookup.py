"""CT normalization as a broadcast join (SURVEY.md T8, J7).

Reference semantics (tss-submit/src/normalize/normalization/ct.rs:
78-133): case-insensitive lookup of the raw value (or any synonym)
against a codelist → canonical CDISC submission value; not found →
original value preserved; blank → passthrough; no codelist bound →
copy.

Spark-first: one broadcast left join per CT-coded column against the
(codelist_code, lookup_key → submission_value) lookup table, then
``coalesce(mapped, original)``. The lookup side is ≪ 10 MB so the
join never shuffles the fact table.

r16: when the lookup frame carries literal-row provenance
(sources/local.py ``values_df``) and the codelist is small enough,
the lookup compiles to a constant map/set expression instead — the
per-use build job (the ``dropDuplicates`` aggregate on the build
side is a real Spark job) and the BroadcastExchange disappear from
every pipeline run. Strict parity guards (ASCII-only, SQL-trim
mirroring, size cap) fall back to the join wherever Python cannot
reproduce Spark's normalization bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: codelists at or below this size compile to a literal-map lookup;
#: above it the broadcast-hash join wins (Spark evaluates map
#: element_at as a LINEAR scan over the entries, so a big literal map
#: would cost O(n) string compares per row where the join pays one
#: hash probe)
_LITERAL_MAP_MAX_ENTRIES = 64


def _literal_codelist_entries(
    lookup_df: DataFrame, codelist_code: str
) -> dict[str, str] | None:
    """If ``lookup_df`` carries its literal rows (sources/local.py
    ``values_df`` provenance), return the codelist's normalized-key →
    submission-value mapping, else None (caller uses the join path).

    The mapping must reproduce the join build side EXACTLY:
    ``upper(trim(lookup_key))`` deduped. Python mirrors SQL semantics
    only on ASCII (SQL ``trim`` strips 0x20 only → ``strip(' ')``;
    ``upper`` maps a-z only), so any non-ASCII key/value falls back
    to the join, where Spark itself normalizes. Dedup keeps the first
    occurrence; catalog lookups (standards/ct.py) are already deduped
    first-wins on (codelist_code, lookup_key), so both paths agree.
    """
    rows = getattr(lookup_df, "_tss_local_rows", None)
    cols = getattr(lookup_df, "_tss_local_cols", None)
    if rows is None or cols is None:
        return None
    try:
        i_code = cols.index("codelist_code")
        i_key = cols.index("lookup_key")
        i_val = cols.index("submission_value")
    except ValueError:
        return None
    entries: dict[str, str] = {}
    for row in rows:
        if row[i_code] != codelist_code:
            continue
        key, val = row[i_key], row[i_val]
        if key is None:
            continue
        if not isinstance(key, str) or not key.isascii():
            return None
        if val is not None and (not isinstance(val, str) or not val.isascii()):
            return None
        k = key.strip(" ").upper()
        if k not in entries:
            entries[k] = val
        if len(entries) > _LITERAL_MAP_MAX_ENTRIES:
            return None
    return entries


def _normalized(src_col: str) -> Column:
    return F.upper(F.trim(F.col(src_col).cast("string")))


def apply_ct_normalization(
    df: DataFrame,
    src_col: str,
    out_col: str,
    lookup_df: DataFrame,
    codelist_code: str,
) -> DataFrame:
    entries = _literal_codelist_entries(lookup_df, codelist_code)
    if entries is not None:
        # literal lookup: compile the codelist into a constant map —
        # no build job, no BroadcastExchange, and Catalyst constant-
        # folds the map once per plan. try_element_at == the left
        # join (miss or NULL key → NULL → coalesce to the original).
        if not entries:
            return df.withColumn(out_col, F.col(src_col).cast("string"))

        def _build() -> Column:
            pairs: list[Column] = []
            for k, v in entries.items():
                pairs.append(F.lit(k))
                pairs.append(F.lit(v).cast("string"))
            mapped = F.try_element_at(F.create_map(*pairs), _normalized(src_col))
            return F.coalesce(mapped, F.col(src_col).cast("string"))

        # the expression is a pure function of (entries, source column
        # name) — replay the built tree across compiles (exprmemo)
        from trial_submission_studio_spark.functions.exprmemo import memo_column

        return df.withColumn(
            out_col,
            memo_column(("ctmap", src_col, tuple(entries.items())), _build),
        )
    lk = (
        lookup_df.filter(F.col("codelist_code") == codelist_code)
        .select(
            # normalize the build side too — the documented
            # case/whitespace-insensitive semantics must not depend on
            # the caller having pre-uppercased the lookup table
            F.upper(F.trim(F.col("lookup_key"))).alias("__ct_key"),
            F.col("submission_value").alias("__ct_value"),
        )
        .dropDuplicates(["__ct_key"])
    )
    joined = df.join(
        F.broadcast(lk),
        F.upper(F.trim(F.col(src_col).cast("string"))) == F.col("__ct_key"),
        "left",
    )
    out = joined.withColumn(
        out_col,
        F.coalesce(F.col("__ct_value"), F.col(src_col).cast("string")),
    ).drop("__ct_key", "__ct_value")
    return out


def ct_violations(
    df: DataFrame,
    col: str,
    lookup_df: DataFrame,
    codelist_code: str,
    sample_n: int = 5,
) -> DataFrame:
    """V8 CtViolation: values that resolve to no term/synonym.

    One summary row: (violation_count, distinct_violations, samples).
    Anti-join shape (J7 inverted) + bounded distinct-sample aggregation
    (the reference caps samples at 5: validate/checks/ct.rs:15).
    """
    probe = df.select(F.upper(F.trim(F.col(col).cast("string"))).alias("__val")).filter(
        F.col("__val").isNotNull() & (F.col("__val") != "")
    )
    entries = _literal_codelist_entries(lookup_df, codelist_code)
    if entries is not None:
        # literal lookup: the anti-join needs only the key SET —
        # isin compiles to an InSet membership test, dropping the
        # build job + broadcast (keys are pre-normalized exactly as
        # the join build side would normalize them)
        if entries:
            misses = probe.filter(~F.col("__val").isin(*entries.keys()))
        else:
            misses = probe  # empty codelist: nothing can match
    else:
        lk = lookup_df.filter(F.col("codelist_code") == codelist_code).select(
            F.upper(F.trim(F.col("lookup_key"))).alias("__ct_key")
        )
        misses = probe.join(
            F.broadcast(lk), probe["__val"] == F.col("__ct_key"), "left_anti"
        )
    return misses.agg(
        F.count(F.lit(1)).cast("long").alias("violation_count"),
        F.countDistinct("__val").cast("long").alias("distinct_violations"),
        F.concat_ws(
            "|", F.slice(F.sort_array(F.collect_set("__val")), 1, sample_n)
        ).alias("samples"),
    )

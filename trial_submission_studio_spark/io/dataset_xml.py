"""CDISC Dataset-XML 1.0 writer — K2 (SURVEY.md §2.1).

Reference behavior (tss-submit/src/export/dataset_xml.rs:67-165): one
ODM document per domain; ``ItemGroupData`` per row with a 1-based
sequence; ``ItemData`` only for non-empty values.

Spark-side: the row XML fragments are generated *distributed* (one
``concat`` expression per row — P4's non-empty-cell emission is a
``CASE`` branch inside the fragment), ordered by the explicit row-id,
and streamed to the file via ``toLocalIterator``; the driver writes
envelope + fragments sequentially without materializing the dataset.
"""

from __future__ import annotations

from xml.sax.saxutils import quoteattr

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from trial_submission_studio_spark.sources.local import ident, sql_string

_ODM_NS = "http://www.cdisc.org/ns/odm/v1.3"
_DATA_NS = "http://www.cdisc.org/ns/Dataset-XML/v1.0"


#: XML attribute escapes, applied in this order (``&`` first)
_XML_ESCAPES = (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"), ('"', "&quot;"))


def row_fragment(
    columns: list[str], group_oid: str, item_prefix: str, seq_col: str
) -> Column:
    """Column producing one ``<ItemGroupData>`` XML fragment per row.

    ``group_oid`` is the ItemGroup OID (``IG.{domain}``); ``item_prefix``
    is the ItemDef OID prefix (``IT.{domain}``) and must match the
    ItemDef OIDs emitted by ``define_xml.py`` so the submission package
    is internally consistent (reference uses ``IT.{dataset}.{var}`` in
    both writers).

    The fragment is ONE SQL expression parsed by one ``F.expr``: the
    Column-DSL form cost ~80 py4j round trips per column, thousands per
    dataset. Each ItemData carries its own leading newline inside its
    ``CASE`` branch, so an empty cell contributes nothing. Literals go
    through ``local.sql_string`` and names through ``local.ident``.
    """
    lit = sql_string
    empty, close = lit(""), lit('"/>')
    seq = f"CAST({ident(seq_col)} AS STRING)"
    parts = [
        lit(f'  <ItemGroupData ItemGroupOID="{group_oid}" data:ItemGroupDataSeq="'),
        seq,
        lit('">'),
    ]
    for c in columns:
        text = f"CAST({ident(c)} AS STRING)"
        value = text
        for raw, rep in _XML_ESCAPES:
            value = f"replace({value}, {lit(raw)}, {lit(rep)})"
        item = lit(f'\n    <ItemData ItemOID="{item_prefix}.{c}" Value="')
        parts.append(
            f"CASE WHEN {text} IS NOT NULL AND trim({text}) != {empty} "
            f"THEN concat({item}, {value}, {close}) ELSE {empty} END"
        )
    parts.append(lit("\n  </ItemGroupData>"))
    return F.expr(f"concat({', '.join(parts)})")


def write_dataset_xml(
    df: DataFrame,
    path: str,
    domain: str,
    study_oid: str,
    order_col: str | None = None,
    metadata_version_oid: str = "MDV.1",
) -> int:
    """Write the domain DataFrame as Dataset-XML; returns row count."""
    ig_oid = f"IG.{domain.upper()}"
    data_cols = [c for c in df.columns if c != order_col]
    work = df
    if order_col is None:
        order_col = "__seq"
        from pyspark.sql import Window

        work = df.withColumn(
            "__seq", F.row_number().over(Window.orderBy(F.monotonically_increasing_id()))
        )
    else:
        work = df.withColumn("__seq", F.col(order_col))
    frag = row_fragment(data_cols, ig_oid, f"IT.{domain.upper()}", "__seq")
    ordered = work.orderBy(F.col("__seq")).select(frag.alias("xml"))

    n = 0
    with open(path, "w", encoding="utf-8") as fh:
        fh.write('<?xml version="1.0" encoding="UTF-8"?>\n')
        fh.write(
            f'<ODM xmlns={quoteattr(_ODM_NS)} xmlns:data={quoteattr(_DATA_NS)} '
            f'FileType="Snapshot" FileOID={quoteattr(f"{study_oid}.{domain}")} '
            'ODMVersion="1.3.2">\n'
        )
        fh.write(
            f' <ClinicalData StudyOID={quoteattr(study_oid)} '
            f'MetaDataVersionOID={quoteattr(metadata_version_oid)}>\n'
        )
        # prefetch overlaps fragment generation with the sequential
        # file write (one job per partition otherwise)
        for row in ordered.toLocalIterator(prefetchPartitions=True):
            fh.write(row["xml"])
            fh.write("\n")
            n += 1
        fh.write(" </ClinicalData>\n</ODM>\n")
    return n


def read_dataset_xml(
    spark,
    path: str,
    order_col: str = "_row_id",
) -> DataFrame:
    """Read Dataset-XML back into a DataFrame (the reverse of
    :func:`write_dataset_xml`; beyond the reference, which has no
    Dataset-XML import).

    Spark-first: Spark 4's native XML source parses ``ItemGroupData``
    rows DISTRIBUTED (``path`` may be a glob covering
    :func:`write_dataset_xml_sharded` members — shards scan in
    parallel); ItemOID suffixes become columns via a map projection.
    Only the schema-sized distinct-variable discovery touches the
    driver. ``order_col`` carries ItemGroupDataSeq, so
    ``orderBy(order_col)`` reproduces the written row order.
    """
    raw = spark.read.format("xml").option("rowTag", "ItemGroupData").load(path)
    item_field = raw.schema["ItemData"].dataType.typeName()
    items = (
        F.col("ItemData")
        if item_field == "array"
        else F.array(F.col("ItemData"))  # single-ItemData rows infer a struct
    )
    kv = raw.select(
        F.col("`_data:ItemGroupDataSeq`").cast("long").alias(order_col),
        F.map_from_entries(
            F.transform(
                items,
                lambda x: F.struct(
                    F.element_at(F.split(x["_ItemOID"], "\\."), -1).alias("k"),
                    x["_Value"].cast("string").alias("v"),
                ),
            )
        ).alias("__m"),
    )
    keys = sorted(
        r[0] for r in kv.select(F.explode(F.map_keys("__m"))).distinct().collect()
    )
    return kv.select(*[F.col("__m")[k].alias(k) for k in keys], order_col)


def write_dataset_xml_sharded(
    df: DataFrame,
    out_dir: str,
    domain: str,
    study_oid: str,
    order_col: str,
    rows_per_shard: int = 100_000,
    metadata_version_oid: str = "MDV.1",
) -> dict[str, str]:
    """Split-dataset Dataset-XML: the large-domain export path.

    A single-domain XML is a sequential driver write — fine at study
    scale, a bottleneck for a billion-row domain. This writer splits
    the domain into ``{DOMAIN}1..{DOMAIN}n`` members of
    ``rows_per_shard`` rows each (the same split-dataset convention
    the XPT side uses — each member's base domain is ``domain``, so
    define.xml can reference them via ``base_domain_code``), and each
    member is a COMPLETE, valid ODM document.

    Scale shape: row fragments are Spark expressions; each shard's
    document is assembled by ONE executor task (``applyInPandas`` over
    the shard id — bounded by ``rows_per_shard``), so shards build in
    parallel and the driver only byte-copies finished documents.
    Global row order (``order_col``) is preserved: shard k holds rows
    (k·N, (k+1)·N] with their original sequence numbers.

    Returns {member name: path}.
    """
    import os

    os.makedirs(out_dir, exist_ok=True)
    dom = domain.upper()
    ig_oid = f"IG.{dom}"
    data_cols = [c for c in df.columns if c != order_col]
    frag = row_fragment(data_cols, ig_oid, f"IT.{dom}", order_col)
    shards = df.select(
        F.col(order_col).alias("__seq"),
        frag.alias("__xml"),
        F.floor((F.col(order_col) - 1) / rows_per_shard).cast("long").alias("__shard"),
    )

    head = (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        f"<ODM xmlns={quoteattr(_ODM_NS)} xmlns:data={quoteattr(_DATA_NS)} "
        'FileType="Snapshot" FileOID="{file_oid}" ODMVersion="1.3.2">\n'
        f" <ClinicalData StudyOID={quoteattr(study_oid)} "
        f"MetaDataVersionOID={quoteattr(metadata_version_oid)}>\n"
    )
    tail = " </ClinicalData>\n</ODM>\n"

    def assemble(pdf):
        import pandas as pd

        pdf = pdf.sort_values("__seq")
        shard = int(pdf["__shard"].iat[0])
        member = f"{dom}{shard + 1}"
        doc = (
            head.replace("{file_oid}", f"{study_oid}.{member}")
            + "\n".join(pdf["__xml"])
            + "\n"
            + tail
        )
        return pd.DataFrame({"shard": [shard], "doc": [doc]})

    out_schema = "shard long, doc string"
    docs = shards.groupBy("__shard").applyInPandas(assemble, out_schema)

    written: dict[str, str] = {}
    for row in docs.toLocalIterator(prefetchPartitions=True):
        member = f"{dom}{int(row['shard']) + 1}"
        path = os.path.join(out_dir, f"{member.lower()}.xml")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(row["doc"])
        written[member] = path
    return written

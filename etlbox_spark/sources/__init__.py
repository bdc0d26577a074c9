"""Sources & sinks (SURVEY.md §2.1-2.2).

Reference parity: DbSource/CsvSource/JsonSource/MemorySource/CustomSource
[U ETLBox/src/Toolbox/DataFlow/*Source.cs] and the destination family
[U .../*Destination.cs]. ETLBox streams rows from external systems; in
Spark these are reader/writer one-liners — the value added here is the
engine's conventions (explicit schemas, never inferSchema in prod paths,
JSON-lines for binlogs) plus the lake-backed Db* analogs.

XML is covered by Spark 4 built-ins (``from_xml``/``to_xml`` below,
incl. XSD row validation + XSD→StructType derivation); Excel by the
stdlib-only codec in ``xlsx.py`` (binaryFile → mapInPandas). JDBC
round-trips are tested against the embedded Derby engine that ships in
Spark's jars (tests/test_jdbc.py) — no external database required.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..engine.lake import LakeTable


def read_parquet(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    delimiter: str = ",",
    quote: str = '"',
) -> DataFrame:
    """CsvSource analog: header/delimiter/quoting knobs, explicit schema
    preferred (inferSchema double-scans at 100 TB)."""
    r = spark.read.option("header", header).option("sep", delimiter).option("quote", quote)
    r = r.schema(schema) if schema is not None else r.option("inferSchema", True)
    return r.csv(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """JsonSource analog — JSON-lines (the binlog wire format)."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def memory_source(spark: SparkSession, rows: Iterable, schema: T.StructType) -> DataFrame:
    """MemorySource analog."""
    return spark.createDataFrame(list(rows), schema)


def lake_source(spark: SparkSession, root: str, buckets: list[int] | None = None) -> DataFrame:
    """DbSource analog over our lake table (the sandbox's 'database')."""
    return LakeTable.load(root).read(spark, buckets=buckets)


def write_csv(df: DataFrame, path: str, header: bool = True, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", header).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def write_text(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """TextDestination analog — df must have exactly one string column."""
    df.write.mode(mode).text(path)


def void_destination(df: DataFrame) -> int:
    """VoidDestination analog: force full materialization, discard rows.
    Uses the noop writer (no driver collect)."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def memory_destination(df: DataFrame) -> list:
    """MemoryDestination analog (test assertions only — collect())."""
    return df.collect()


def xml_rows(
    df: DataFrame,
    xml_col: str,
    schema: T.StructType,
    out_prefix: str = "",
    xsd_path: str | None = None,
) -> DataFrame:
    """XmlSource analog (SURVEY.md §2.1): no spark-xml connector ships
    offline, but Spark 4's built-in ``from_xml`` parses an XML *string
    column* against a struct schema — which covers the reference's
    element-per-row semantics once rows are lines/strings. Malformed
    rows yield nulls (validation-as-filter: pair with ``.where``).

    ``xsd_path`` enables real XmlSchemaValidation (§2.5): each row is
    validated against the XSD (Spark's built-in ``rowValidationXSDPath``
    option, javax.xml.validation under the hood) and failing rows null
    out exactly like malformed ones — route them with
    ``operators.errors``. The path must be visible to executors
    (local FS here; ship via ``SparkContext.addFile`` on a cluster)."""
    from pyspark.sql import functions as F

    keep = [c for c in df.columns if c != xml_col]
    clash = [f"{out_prefix}{f.name}" for f in schema.fields if f"{out_prefix}{f.name}" in keep]
    if clash:
        raise ValueError(
            f"parsed column name(s) {clash} collide with kept input "
            "columns — the result would carry ambiguous duplicates; set "
            "out_prefix to disambiguate"
        )
    tmp = "__x"
    while tmp in df.columns:
        tmp += "_"
    opts = {"rowValidationXSDPath": xsd_path} if xsd_path else {}
    parsed = df.withColumn(tmp, F.from_xml(F.col(xml_col), schema, opts))
    return parsed.select(
        *keep,
        *[F.col(f"{tmp}.{f.name}").alias(f"{out_prefix}{f.name}") for f in schema.fields],
    )


def to_xml_rows(df: DataFrame, row_tag: str = "row", out_col: str = "xml") -> DataFrame:
    """Serialize each row to one XML element string (Spark 4 built-in
    ``to_xml`` over a struct of all columns) — the row-serialization half
    of XmlDestination; one element per line, round-trips through
    ``xml_rows``. Only STRUCTURAL newlines (between tags — to_xml
    pretty-prints) are collapsed; a newline INSIDE a value is serialized
    literally by to_xml, so it is re-escaped as the ``&#10;``/``&#13;``
    character reference, which any XML parser (incl. ``from_xml``)
    decodes back — the old blanket ``\\s*\\n\\s*`` collapse silently
    corrupted newline-bearing values ("a\\nb" → "ab"). A whitespace-only
    value such as "\\n" is collapsed too, which loses nothing the parser
    keeps: ``xml_rows`` reads any whitespace-only value ("  " as well)
    back as ``''``."""
    from pyspark.sql import functions as F

    xml = F.to_xml(F.struct(*[F.col(c) for c in df.columns]), {"rowTag": row_tag})
    one_line = F.regexp_replace(xml, r">\s*\n\s*<", "><")
    escaped = F.regexp_replace(
        F.regexp_replace(one_line, r"\r", "&#13;"), r"\n", "&#10;"
    )
    return df.select(escaped.alias(out_col))


def write_xml(df: DataFrame, path: str, row_tag: str = "row", mode: str = "overwrite") -> None:
    """XmlDestination analog (SURVEY.md §2.2, previously out of scope —
    Spark 4's built-in ``to_xml`` removes the need for the spark-xml
    connector): one XML element per line, distributed text write."""
    to_xml_rows(df, row_tag).write.mode(mode).text(path)


def xsd_to_schema(spark: SparkSession, xsd: str) -> T.StructType:
    """XmlSchemaValidation companion (§2.5): derive the row StructType
    from an XSD document (string content) via Spark's built-in catalyst
    ``XSDToSchema`` — so the schema handed to ``xml_rows`` and the XSD
    enforced by ``xsd_path`` come from the same single source of truth."""
    import json as _json

    j = spark._jvm.org.apache.spark.sql.execution.datasources.xml.XSDToSchema.read(xsd)
    return T.StructType.fromJson(_json.loads(j.json()))


def read_jdbc(spark: SparkSession, url: str, table: str, **options) -> DataFrame:
    """DbSource against a real database over JDBC. Tested offline against
    the embedded Derby engine that ships in Spark's jars
    (tests/test_jdbc.py), incl. partitioned parallel reads
    (``partitionColumn``/``numPartitions``) and filter pushdown."""
    return spark.read.format("jdbc").option("url", url).option("dbtable", table).options(**options).load()


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append", **options) -> None:
    df.write.format("jdbc").option("url", url).option("dbtable", table).options(**options).mode(mode).save()


from .xlsx import read_excel, write_excel  # noqa: E402  (ExcelSource/Destination, §2.1/2.2)

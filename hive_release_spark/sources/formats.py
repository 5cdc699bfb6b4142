"""Storage formats & connectors (SURVEY.md §2.G).

Hive's SerDe matrix → Spark datasources:

| Hive (2.3 release jars)                         | here              |
|-------------------------------------------------|-------------------|
| LazySimpleSerDe delimited text                  | ``delimited``     |
| OpenCSVSerde                                    | ``csv``           |
| JsonSerDe / get_json_object                     | ``json``          |
| ORC (OrcInputFormat/OrcSerde)                   | ``orc``           |
| Parquet (ParquetHiveSerDe)                      | ``parquet``       |
| AvroSerDe                                       | ``avro`` datasource (probed, jar absent here) + ``read/write_avro_table`` (STORED AS AVRO via Hive AvroSerDe — works on this classpath, Hive-catalog session) |
| RegexSerDe                                      | ``read_regex``    |
| SequenceFile (LazySimpleSerDe text rows)        | ``read_sequencefile`` / ``write_sequencefile`` (native Hadoop IO, any session) |
| RCFile (columnar LazyBinaryColumnarSerDe)       | ``read_rcfile_table`` / ``write_rcfile_table`` (STORED AS RCFILE via Spark's built-in Hive support — needs a Hive-catalog session, ``require_hive_catalog``) |
| JDBC (Hive is server-side only; Spark reads too)| ``jdbc`` passthrough |

Partitioned/bucketed/sorted writes + dynamic partition overwrite map
Hive's FileSinkOperator + SortedDynPartitionOptimizer surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def avro_available(spark: SparkSession) -> bool:
    """spark-avro is an external module; probe instead of assuming."""
    try:
        spark.read.format("avro").load("/nonexistent-avro-probe")
    except Exception as e:  # noqa: BLE001
        # DATA_SOURCE_NOT_FOUND wording: "Failed to find data source: avro"
        return "Failed to find data source: avro" not in str(e)
    return True


def require_avro(spark: SparkSession) -> None:
    """Loud gate for the Avro path (Hive AvroSerDe — SURVEY.md §2.G).

    The reader/writer code is format-generic and works as soon as the
    spark-avro datasource is on the classpath; this environment ships only
    the core avro-*.jar libraries, not the datasource module."""
    if not avro_available(spark):
        raise RuntimeError(
            "Avro support requires the spark-avro datasource jar "
            "(org.apache.spark:spark-avro_2.13) on the Spark classpath; "
            "/opt/spark/jars has only the core avro libraries. Add the jar "
            "via spark.jars / spark.jars.packages and retry."
        )


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    options: dict[str, str] | None = None,
) -> None:
    """FileSinkOperator analogue: INSERT OVERWRITE/INTO DIRECTORY with
    dynamic partitions (``partition_by``)."""
    w = df.write.format(fmt).mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    for k, v in (options or {}).items():
        w = w.option(k, v)
    w.save(path)


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    options: dict[str, str] | None = None,
) -> DataFrame:
    r = spark.read.format(fmt)
    if schema is not None:
        r = r.schema(schema)
    for k, v in (options or {}).items():
        r = r.option(k, v)
    return r.load(path)


def _lazy_serde_out(field) -> "F.Column":
    """Write-side LazySimpleSerDe encoding of one column: scalars by
    string cast, arrays joined on ``\\x02``, map entries joined on
    ``\\x02`` with ``\\x03`` between key and value, null ELEMENTS as
    ``\\N`` — Hive's default one-level nested-collection layout
    (deeper nesting belongs in ORC/parquet). Two known text-format
    ambiguities, both identical to Hive's own behavior:

    * an EMPTY collection serializes to "" and deserializes as a
      one-empty-element collection — empty-vs-[""] is not
      representable in delimited text;
    * a collection whose ONLY element is null serializes to exactly
      the ``\\N`` bytes, indistinguishable from a NULL column, and
      reads back as NULL — ``[None]`` -> NULL (LazySimpleSerDe does
      the same; pinned by
      tests/test_properties.py::test_delimited_singleton_null_array_collapses)."""
    from pyspark.sql.types import ArrayType, BinaryType, MapType, StructType

    if isinstance(field.dataType, ArrayType):
        # null ELEMENTS need the \N sentinel too: array_join silently
        # drops them otherwise, shifting every element after the null —
        # the same corruption concat_ws causes at the row level
        return F.array_join(
            F.col(field.name).cast("array<string>"), "\x02", HIVE_NULL
        ).alias(field.name)
    if isinstance(field.dataType, MapType):
        entry = F.transform(
            F.map_entries(field.name),
            lambda e: F.concat(
                e["key"].cast("string"),  # map keys are non-null in Spark
                F.lit("\x03"),
                F.coalesce(e["value"].cast("string"), F.lit(HIVE_NULL)),
            ),
        )
        return F.array_join(entry, "\x02").alias(field.name)
    if isinstance(field.dataType, StructType):
        # struct fields are positional on the level-2 delimiter; a NULL
        # struct must stay NULL, not become a struct of \N sentinels
        encoded = F.concat_ws(
            "\x02",
            *[
                F.coalesce(
                    F.col(f"{field.name}.{sf.name}").cast("string"),
                    F.lit(HIVE_NULL),
                )
                for sf in field.dataType.fields
            ],
        )
        return (
            F.when(F.col(field.name).isNull(), F.lit(None))
            .otherwise(encoded)
            .alias(field.name)
        )
    if isinstance(field.dataType, BinaryType):
        # Hive's LazySimpleSerDe base64-encodes BINARY in text formats;
        # a raw string cast would corrupt non-UTF-8 payloads
        return F.base64(field.name).alias(field.name)
    return F.col(field.name)


def _lazy_serde_in(raw: "F.Column", data_type) -> "F.Column":
    """Read-side twin of :func:`_lazy_serde_out`: re-assemble one
    column from its string form."""
    from pyspark.sql.types import ArrayType, BinaryType, MapType, StructType

    def _undo_null(c):
        return F.when(c == HIVE_NULL, F.lit(None)).otherwise(c)

    if isinstance(data_type, ArrayType):
        return F.transform(
            F.split(raw, "\x02"),
            lambda x: _undo_null(x).cast(data_type.elementType),
        )
    if isinstance(data_type, MapType):
        pairs = F.transform(F.split(raw, "\x02"), lambda p: F.split(p, "\x03"))
        assembled = F.map_from_arrays(
            F.transform(pairs, lambda p: p[0].cast(data_type.keyType)),
            F.transform(
                pairs,
                lambda p: _undo_null(p[1]).cast(data_type.valueType),
            ),
        )
        # an empty raw cell decodes to an EMPTY map (ADVICE r8-2): the
        # naive split would yield a single "" entry whose key casts to
        # null for non-string key types, and map_from_arrays hard-fails
        # on null keys at read time.  Unlike arrays (where "" -> [""]
        # is the documented ambiguity), an empty map cell has exactly
        # one faithful reading — the empty map the writer serialized.
        return F.when(raw == "", F.create_map().cast(data_type)).otherwise(
            assembled
        )
    if isinstance(data_type, StructType):
        parts = F.split(raw, "\x02", -1)
        assembled = F.struct(
            *[
                _undo_null(F.element_at(parts, i + 1))
                .cast(sf.dataType)
                .alias(sf.name)
                for i, sf in enumerate(data_type.fields)
            ]
        )
        return F.when(raw.isNull(), F.lit(None).cast(data_type)).otherwise(
            assembled
        )
    if isinstance(data_type, BinaryType):
        return F.unbase64(raw)
    return raw.cast(data_type)


def write_delimited(
    df: DataFrame, path: str, sep: str = "\x01", mode: str = "overwrite"
) -> None:
    """Hive LazySimpleSerDe default: ^A-delimited text, array/map
    columns with the ``\\x02``/``\\x03`` nested-collection delimiters
    (see :func:`_lazy_serde_out`).

    The csv writer is configured to emit Hive's exact bytes (r8
    review): top-level NULLs as ``\\N`` (Spark's default empty-string
    null made NULL and '' indistinguishable AND unreadable by a real
    Hive table), and QUOTING OFF — Hive never quotes, so Spark's
    default double-quoting of quote-containing values would reach Hive
    as literal quote characters. With quoting off, a value containing
    the separator itself corrupts the row — exactly LazySimpleSerDe's
    own failure mode with the default (escape-less) table layout."""
    (
        df.select(*[_lazy_serde_out(f) for f in df.schema.fields])
        .write.mode(mode)
        .option("sep", sep)
        .option("header", "false")
        .option("nullValue", HIVE_NULL)
        .option("emptyValue", "")
        .option("quote", "")
        .csv(path)
    )


def read_delimited(spark: SparkSession, path: str, schema, sep: str = "\x01") -> DataFrame:
    """Read LazySimpleSerDe delimited text; array/map/struct columns in
    the declared schema are re-assembled from the nested delimiters,
    binary columns base64-decoded."""
    from pyspark.sql.types import ArrayType, BinaryType, MapType, StructType

    schema = spark.createDataFrame([], schema).schema
    flat_fields = []
    for f in schema.fields:
        if isinstance(f.dataType, (ArrayType, BinaryType, MapType, StructType)):
            flat_fields.append(f"`{f.name}` STRING")
        else:
            flat_fields.append(f"`{f.name}` {f.dataType.simpleString()}")
    raw = (
        spark.read.schema(", ".join(flat_fields))
        .option("sep", sep)
        .option("nullValue", HIVE_NULL)
        .option("emptyValue", "")
        .option("quote", "")
        .csv(path)
    )
    return raw.select(
        *[
            _lazy_serde_in(F.col(f.name), f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )


HIVE_NULL = "\\N"  # LazySimpleSerDe's NULL sentinel


def _check_serde_params(schema, sep: str, null_value: str) -> None:
    """The nested-collection sentinels are FIXED at ``\\x02``/``\\x03``/
    ``\\N`` — Hive's LazySimpleSerDe level-2 layout — regardless of the
    customizable top-level ``sep``/``null_value``.  Reject combinations
    that would silently corrupt data (ADVICE r8-3): a field separator
    equal to a nested delimiter shreds nested columns, and a custom
    null sentinel on a schema WITH nested columns would write mixed
    sentinels (custom at the top level, ``\\N`` inside collections)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if sep in ("\x02", "\x03"):
        raise ValueError(
            "sep collides with the fixed nested-collection delimiters "
            "(\\x02 item / \\x03 map-kv, Hive's LazySimpleSerDe layout) "
            "— any array/map/struct column would be silently shredded"
        )
    nested = [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    if nested and null_value != HIVE_NULL:
        raise ValueError(
            f"null_value={null_value!r} with nested columns {nested}: "
            "null ELEMENTS inside collections always use Hive's fixed "
            "\\N sentinel, so a custom top-level sentinel would produce "
            "mixed-sentinel files no Hive reader agrees on — use the "
            f"default {HIVE_NULL!r} or drop the nested columns"
        )


def write_sequencefile(
    df: DataFrame, path: str, sep: str = "\x01", null_value: str = HIVE_NULL
) -> None:
    """Hive SequenceFile table layout (SURVEY.md §2.G): each row one
    Text value of ``sep``-delimited fields, NULLs as ``\\N``,
    array/map columns with the ``\\x02``/``\\x03`` nested-collection
    delimiters (:func:`_lazy_serde_out`) — exactly
    what ``STORED AS SEQUENCEFILE`` + LazySimpleSerDe produces, so
    Hive reads these files and vice versa (cross-compat pinned by
    tests/test_legacy_formats.py against Spark's own Hive SerDe path).
    Runs on ANY session — SequenceFile IO is Hadoop core, no Hive
    catalog or extra jars needed.

    Every column is serialized through its string form; NULL must be
    the sentinel, NOT dropped — ``concat_ws`` skips nulls and would
    SHIFT the remaining fields into the wrong columns, the classic
    delimited-text corruption.

    Scale posture: this pair crosses the Python RDD API (rows pass
    through Python workers), which is fine for the migration-scale
    one-shot read-then-convert-to-parquet pattern these formats exist
    for. For bulk 100 TB legacy reads prefer the fully-JVM Hive
    SerDe route (``STORED AS SEQUENCEFILE`` external table in a
    Hive-catalog session, same mechanics as :func:`read_rcfile_table`)
    — both routes read the same bytes (compat test)."""
    _check_serde_params(df.schema, sep, null_value)
    value = F.concat_ws(
        sep,
        *[
            F.coalesce(
                _lazy_serde_out(f).cast("string"), F.lit(null_value)
            )
            for f in df.schema.fields
        ],
    )
    rdd = df.select(value.alias("v")).rdd.map(lambda r: ("", r.v))
    if rdd.isEmpty():
        # saveAsSequenceFile infers the Writable types from the FIRST
        # record and hard-fails on a zero-row frame ("empty
        # collection"). Hive's empty-table layout is simply the empty
        # table directory, which every reader — including
        # read_sequencefile and Hive's own SerDe — maps to zero rows;
        # create it through the Hadoop FileSystem so URI schemes work.
        # (isEmpty costs one take(1) probe job; the migration-shape
        # write is already a full job, so the probe is noise.)
        sc = df.sparkSession.sparkContext
        jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
        # mirror saveAsSequenceFile's Hadoop-strict existing-dir
        # behavior: the non-empty branch hard-fails on a pre-existing
        # target, so the empty branch must not silently no-op over one
        # either — a stale directory would hand the NEXT reader the
        # PREVIOUS run's rows under a "successful" empty write
        if fs.exists(jpath):
            raise FileExistsError(
                f"output path already exists: {path} — remove it first "
                "(saveAsSequenceFile semantics; the empty-input branch "
                "is deliberately no laxer)"
            )
        fs.mkdirs(jpath)
        return
    rdd.saveAsSequenceFile(path)


def read_sequencefile(
    spark: SparkSession,
    path: str,
    schema,
    sep: str = "\x01",
    null_value: str = HIVE_NULL,
) -> DataFrame:
    """Read a Hive-layout SequenceFile table directory (text rows,
    ``sep``-delimited, ``\\N`` nulls) into a typed DataFrame. The key
    class is ignored — Hive writes BytesWritable keys, this module's
    writer Text keys; both read identically (``values()``), matching
    Hive's own reader behavior. ``schema`` is a StructType or DDL
    string; fields are positional, exactly LazySimpleSerDe's model."""
    import re

    schema = spark.createDataFrame([], schema).schema
    _check_serde_params(schema, sep, null_value)
    values = spark.sparkContext.sequenceFile(path).values().map(lambda v: (v,))
    lines = spark.createDataFrame(values, "value string")
    parts = F.split("value", re.escape(sep), -1)
    cols = []
    for i, field in enumerate(schema.fields):
        raw = F.element_at(parts, i + 1)
        raw = F.when(raw == null_value, F.lit(None)).otherwise(raw)
        cols.append(_lazy_serde_in(raw, field.dataType).alias(field.name))
    return lines.select(*cols)


def hive_catalog_available(spark: SparkSession) -> bool:
    return spark.conf.get("spark.sql.catalogImplementation", "in-memory") == "hive"


def require_hive_catalog(spark: SparkSession) -> None:
    """Loud gate for the RCFile path. Spark's RCFile support rides the
    built-in Hive SerDe classes (hive-serde/hive-exec jars ARE on this
    classpath) but only through ``STORED AS RCFILE`` tables, which need
    a Hive-catalog session. catalogImplementation is fixed per JVM at
    first-session creation, so a migration job reading RCFile data
    runs in its own process:

        SparkSession.builder.enableHiveSupport().getOrCreate()

    (tests/test_legacy_formats.py drives exactly that in a
    subprocess)."""
    if not hive_catalog_available(spark):
        raise RuntimeError(
            "RCFile requires a Hive-catalog session "
            "(SparkSession.builder.enableHiveSupport(), a fresh JVM): "
            "Spark reads/writes STORED AS RCFILE through the built-in "
            "Hive SerDe, and this session's catalog is in-memory."
        )


def _check_existing_table(
    spark: SparkSession, table: str, path: str, schema
) -> bool:
    """True if ``table`` already exists AND matches the requested
    location + column layout; raises if it exists with a DIFFERENT
    location or schema (ADVICE r8-1: ``IF NOT EXISTS`` used to bind
    silently to the OLD table and return stale data from the wrong
    directory). Missing table -> False (caller creates it)."""
    import os
    import re

    if not spark.catalog.tableExists(table):
        return False
    detail = {
        r["col_name"]: (r["data_type"] or "")
        for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect()
    }
    existing_loc = detail.get("Location", "")
    # catalog locations carry a URI scheme ("file:/x" or "hdfs://nn/x");
    # strip it from both sides and absolutize only scheme-LESS request
    # paths — abspath on "hdfs://nn/x" would mangle it into a
    # cwd-relative string and every legitimate reuse would raise a
    # spurious location mismatch
    scheme_rx = r"^([a-zA-Z][a-zA-Z0-9+.-]*):(?://([^/]*))?"
    m_want, m_got = re.match(scheme_rx, path), re.match(scheme_rx, existing_loc)

    def _sys(m):
        # (scheme, authority) normalized: schemes are case-insensitive
        # (RFC 3986), absent and empty authority are the same URI
        # ('file:/x' == 'file:///x'); a SCHEME-LESS side resolves
        # against the local default filesystem ('file', no authority) —
        # the same assumption the abspath normalization below already
        # makes — so 'hdfs://nn/x' vs scheme-less '/x' is a mismatch,
        # not a silent reuse
        if m is None:
            return ("file", "")
        return (m.group(1).lower(), (m.group(2) or "").lower())

    if (m_want or m_got) and _sys(m_want) != _sys(m_got):
        # the storage SYSTEM must match too — 'hdfs://nn1/x' vs
        # 'file:/x' (or two namenodes with the same path) are different
        # locations even though the paths compare equal
        raise ValueError(
            f"table {table} already exists at location "
            f"'{existing_loc}', not the requested '{path}' — the "
            "URI scheme/authority differ, so these are different "
            "storage systems; DROP it or pick another table name"
        )
    if m_want:
        want_loc = re.sub(scheme_rx, "", path).rstrip("/")
    else:
        want_loc = os.path.abspath(path).rstrip("/")
    normalized = re.sub(scheme_rx, "", existing_loc)
    if normalized.rstrip("/") != want_loc:
        raise ValueError(
            f"table {table} already exists at location "
            f"'{existing_loc}', not the requested '{path}' — DROP it or "
            "pick another table name (a silent rebind would read the "
            "OLD directory's data)"
        )
    existing = spark.table(table)
    want = [(f.name.lower(), f.dataType.simpleString()) for f in schema.fields]
    got = [
        (f.name.lower(), f.dataType.simpleString())
        for f in existing.schema.fields
    ]
    if got != want:
        raise ValueError(
            f"table {table} already exists with schema {got}, not the "
            f"requested {want} — DROP it or pick another table name"
        )
    return True


def _hive_serde_write(
    df: DataFrame, table: str, path: str, stored_as: str
) -> None:
    spark = df.sparkSession
    require_hive_catalog(spark)
    # idempotent rerun: reuse a verified-matching table, fail loudly on
    # a mismatched one (ADVICE r8-1 — the write side used to be
    # asymmetric and just fail on rerun)
    if not _check_existing_table(spark, table, path, df.schema):
        ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
        )
        spark.sql(
            f"CREATE EXTERNAL TABLE {table} ({ddl}) STORED AS {stored_as} "
            f"LOCATION '{path}'"
        )
    df.write.mode("append").insertInto(table)


def _hive_serde_read(
    spark: SparkSession, path: str, schema, table: str, stored_as: str
) -> DataFrame:
    require_hive_catalog(spark)
    schema = spark.createDataFrame([], schema).schema
    if not _check_existing_table(spark, table, path, schema):
        ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
        spark.sql(
            f"CREATE EXTERNAL TABLE {table} ({ddl}) "
            f"STORED AS {stored_as} LOCATION '{path}'"
        )
    return spark.table(table)


def write_rcfile_table(df: DataFrame, table: str, path: str) -> None:
    """CREATE TABLE ... STORED AS RCFILE at an external LOCATION and
    insert ``df`` — Hive's columnar legacy format, byte-compatible with
    real Hive 2.x RCFile data (same LazyBinaryColumnarSerDe classes)."""
    _hive_serde_write(df, table, path, "RCFILE")


def read_rcfile_table(
    spark: SparkSession, path: str, schema, table: str
) -> DataFrame:
    """Read an RCFile directory by declaring an external ``STORED AS
    RCFILE`` table over it (schema-on-read, Hive's model)."""
    return _hive_serde_read(spark, path, schema, table, "RCFILE")


def write_avro_table(df: DataFrame, table: str, path: str) -> None:
    """Avro WITHOUT the spark-avro datasource: ``STORED AS AVRO``
    rides Hive's AvroSerDe (hive-serde + avro core jars, both on this
    classpath), producing genuine Avro container files (``Obj\\x01``
    magic). Needs a Hive-catalog session like RCFile; the path-based
    ``spark.read.format("avro")`` route stays gated behind
    :func:`require_avro` until the datasource jar appears.

    Reader schemas resolve by AVRO rules, not SQL casts: declaring
    ``id INT`` over data written as ``BIGINT`` fails with "Found long,
    expecting union[null, int]" — match the writer's declared types
    (no implicit narrowing)."""
    _hive_serde_write(df, table, path, "AVRO")


def read_avro_table(
    spark: SparkSession, path: str, schema, table: str
) -> DataFrame:
    """Read an Avro directory via an external ``STORED AS AVRO`` table
    (Hive AvroSerDe — see :func:`write_avro_table`)."""
    return _hive_serde_read(spark, path, schema, table, "AVRO")


def read_regex(
    spark: SparkSession, path: str, pattern: str, columns: list[str]
) -> DataFrame:
    """RegexSerDe analogue: raw text lines parsed by regexp_extract into
    the declared columns (schema-on-read, exactly Hive's model)."""
    lines = spark.read.text(path)
    return lines.select(
        *[
            F.regexp_extract("value", pattern, i + 1).alias(c)
            for i, c in enumerate(columns)
        ]
    )


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
    fmt: str = "parquet",
    path: str | None = None,
) -> None:
    """CLUSTERED BY (..) SORTED BY (..) INTO N BUCKETS — enables
    shuffle-free joins/aggs between co-bucketed tables. NOTE (SURVEY.md
    §7.6.3): Spark's bucket hash (Murmur3) ≠ Hive's ObjectInspector hash,
    so layouts are Spark-internal, not byte-compatible with Hive."""
    w = df.write.format(fmt).mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table_name)

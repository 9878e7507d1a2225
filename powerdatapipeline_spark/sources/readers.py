"""Sources & sinks (SURVEY.md §2.1).

The reference reads CSV-only with per-column dtype defaults chosen by column
name and projection pushed into the scan (reference
datapipeline/tfdataset.py:16-52), validates headers against user-supplied
column names (datapipeline_utilities.py:47-75), and audits NaNs
(datapipeline_utilities.py:12-38). Here every reader takes an explicit
schema (never ``inferSchema`` — the reference pins dtypes explicitly too) so
Catalyst can prune columns and push filters into the scan, and Parquet is the
default engine format (columnar, splittable, predicate-pushdown-friendly —
what a 100 TB deployment actually reads).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Name-driven dtype defaults, mirroring the reference's CSV scan rules
#: (reference datapipeline/tfdataset.py:26-34): epoch-second columns are
#: float64 "to avoid precision errors for large numbers", raw date/time text
#: is string, all other measurements default to float32.
_NAME_DTYPES: list[tuple[tuple[str, ...], T.DataType]] = [
    (("datetimestampseconds", "cotw"), T.DoubleType()),
    (("datetime", "date_block", "time_block", "date", "time"), T.StringType()),
]
_DEFAULT_DTYPE = T.FloatType()

TESTDATA_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def schema_for_columns(columns: list[str],
                       overrides: dict[str, str] | None = None) -> T.StructType:
    """Build a StructType from column names using the reference's
    name-driven dtype rules (reference datapipeline/tfdataset.py:26-34),
    with optional per-column dtype overrides (simpleString names) — the
    escape hatch the reference lacks for e.g. string-valued filter columns."""
    overrides = overrides or {}
    fields = []
    for c in columns:
        if c in overrides:
            dtype: T.DataType = T._parse_datatype_string(overrides[c])
        else:
            dtype = _DEFAULT_DTYPE
            for names, t in _NAME_DTYPES:
                if c in names:
                    dtype = t
                    break
        fields.append(T.StructField(c, dtype, nullable=True))
    return T.StructType(fields)


def _first_csv_row(path: str) -> list[str]:
    import csv
    import glob as _glob

    files = sorted(_glob.glob(path)) or [path]
    with open(files[0], newline="") as fh:
        row = next(csv.reader(fh), None)
    if row is None:
        raise ValueError(f"CSV file is empty: {files[0]}")
    return row


def _cell_casts(cell: str, dtype: T.DataType) -> bool:
    """Would this CSV cell parse as a DATA value of ``dtype``? Per-dtype
    rules (ADVICE r4: the old float()-only test misread date/bool data rows
    as headers — '2024-01-01' and 'true' both fail float())."""
    if isinstance(dtype, T.StringType):
        return True
    if cell == "":
        return True  # empty cell = NULL in a nullable column — valid data
    if isinstance(dtype, T.BooleanType):
        return cell.strip().lower() in {"true", "false", "t", "f", "0", "1",
                                        "yes", "no", "y", "n"}
    if isinstance(dtype, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        from datetime import date, datetime, time

        s = cell.strip()
        for parse in (date.fromisoformat, datetime.fromisoformat,
                      time.fromisoformat):
            try:
                parse(s)
                return True
            except ValueError:
                pass
        return False
    try:
        float(cell)
        return True
    except ValueError:
        return False


def detect_csv_header(path: str, columns: list[str] | None = None,
                      schema: T.StructType | None = None) -> bool:
    """Header auto-detection — the reference's ``investigate_csv_file``
    intent (datapipeline_utilities.py:12-26: "assuming the first row is
    column names if it contains strings"; its literal ``all(isinstance(cell,
    str))`` test is vacuously true under csv.reader, so the *usable* form of
    the heuristic is implemented: the first row is a header iff it does NOT
    cast as a data row).

    Decision order:

    1. ``columns`` given and the first row equals them → header.
    2. Any first-row cell fails to cast to its column's (name-driven or
       supplied) dtype → header.
    3. Every cell casts, and at least one target dtype is non-string →
       data row, no header.
    4. All-string columns and an all-string first row are genuinely
       ambiguous → header (the reference resolves the same way: strings in
       row 0 mean column names).

    Reads exactly ONE line of the first matching file driver-side — scale
    does not apply; this is a pre-flight check for local/mounted CSV, which
    is the only CSV the reference reads.
    """
    first = _first_csv_row(path)
    if columns is not None and first == list(columns):
        return True
    if schema is None:
        schema = schema_for_columns(columns if columns is not None else
                                    [f"_c{i}" for i in range(len(first))])
    dtypes = [f.dataType for f in schema.fields]
    if len(first) != len(dtypes):
        raise ValueError(
            f"first row has {len(first)} cells but {len(dtypes)} columns "
            "were declared")
    if not all(_cell_casts(c, t) for c, t in zip(first, dtypes)):
        return True  # can't be data → must be a header
    if all(isinstance(t, T.StringType) for t in dtypes):
        return True  # ambiguous all-string case: reference treats as header
    return False


def read_csv(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    schema: T.StructType | None = None,
    header: bool | None = True,
    select: list[str] | None = None,
    limit: int | None = None,
    dtype_overrides: dict[str, str] | None = None,
) -> DataFrame:
    """CSV scan with explicit schema + projection/limit pushdown.

    Mirrors ``csv_to_csvdataset`` (reference datapipeline/tfdataset.py:16-52):
    glob pattern, per-column dtype defaults, ``select_columns`` projection,
    optional row limit. Catalyst pushes ``select``/``limit`` into the scan.
    ``header=None`` auto-detects via :func:`detect_csv_header` (reference
    datapipeline_utilities.py:12-26).
    """
    if schema is None and columns is not None:
        schema = schema_for_columns(columns, dtype_overrides)
    if header is None:
        header = detect_csv_header(path, columns, schema)
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:  # header-only files with no dtype hints: all strings, cast later
        reader = reader.option("inferSchema", "false")
    df = reader.csv(path)
    if select:
        df = df.select(*select)
    if limit is not None:
        df = df.limit(limit)
    return df


#: Session confs that change the schema Spark infers from one parquet
#: footer; each is part of the schema cache key.
PARQUET_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

#: Process-wide: a table load has no handle to keep a cache on, and the
#: key changes whenever the file or an inference conf does.
_parquet_schemas: dict[tuple, T.StructType] = {}


def file_identity(path: str) -> tuple | None:
    """``(absolute path, st_mtime_ns, st_size)`` of a local regular file,
    or None for a directory, a URI or a missing path. Rewriting the file
    changes the identity, so caches keyed on it never serve stale data."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (os.path.abspath(path), st.st_mtime_ns, st.st_size)


def read_parquet(spark: SparkSession, path: str | list[str],
                 select: list[str] | None = None) -> DataFrame:
    """Parquet reader. A single local file is read with the schema Spark
    inferred the first time it read that file under the same inference
    confs: schema inference runs one Spark job per read, a given schema
    runs none. Directories, URIs and path lists are inferred every time."""
    # parquet(paths: String*) is varargs — a Python list must be splatted,
    # or Py4J packs the whole list as one path and the read crashes
    if isinstance(path, (list, tuple)):
        df = spark.read.parquet(*path)
    elif (ident := file_identity(path)) is None:
        df = spark.read.parquet(path)
    else:
        key = ident + tuple(spark.conf.get(k)
                            for k in PARQUET_INFERENCE_CONFS)
        schema = _parquet_schemas.get(key)
        if schema is None:
            df = spark.read.parquet(path)
            _parquet_schemas[key] = df.schema
        else:
            df = spark.read.schema(schema).parquet(path)
    if select:
        df = df.select(*select)
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    """Load the driver's parquet tables from an sf directory."""
    names = names or TESTDATA_TABLES
    return {n: read_parquet(spark, f"{sf_dir}/{n}.parquet") for n in names}


def check_columns(df: DataFrame, expected: list[str]) -> None:
    """Header/user column-name agreement check (reference
    datapipeline_utilities.py:47-75: asserts header names match user names and
    counts agree)."""
    actual = list(df.columns)
    if actual != list(expected):
        raise ValueError(f"column mismatch: file has {actual}, expected {expected}")


def audit_nulls(df: DataFrame, raise_on_null: bool = False) -> dict[str, int]:
    """Per-column null/NaN counts in ONE pass (the reference streams the file
    per check — datapipeline_utilities.py:12-38 — and raises if any empty
    cell is found; pandas_utilities.py:72-88 adds all-NaN / no-NaN asserts).

    One job, map-side-combined aggregation; no shuffle beyond the final
    single-row reduce.
    """
    exprs = []
    for f in df.schema.fields:
        c = F.col(f.name)
        cond = c.isNull()
        if isinstance(f.dataType, (T.FloatType, T.DoubleType)):
            cond = cond | F.isnan(c)
        exprs.append(F.sum(cond.cast("int")).alias(f.name))
    counts = df.agg(*exprs).first().asDict()
    if raise_on_null and any(v for v in counts.values()):
        bad = {k: v for k, v in counts.items() if v}
        raise ValueError(f"null/NaN cells found: {bad}")
    return counts


def inject_errors(df: DataFrame, ts_col: str,
                  spike_col: str | None = None, spike_value: float = 1e7,
                  rename: tuple[str, str] | None = None,
                  blank_col: str | None = None,
                  drop_second_row: bool = False) -> DataFrame:
    """Deterministic data-corruption fixture builder — the reference's
    ``get_df_der(add_errors=True)`` (pandas_utilities.py:50-52: sets
    ``df.loc[1, "vb"] = 1e7`` and renames ``va``→``Va``), generalized so the
    data-quality failure paths are exercisable:

    * ``spike_col``: the 2nd row (by ``ts_col`` order — the reference's
      row index 1) gets ``spike_value``.
    * ``blank_col``: the 2nd row's cell is nulled →
      :func:`audit_nulls` ``raise_on_null`` trips.
    * ``rename=(old, new)`` → :func:`check_columns` trips.
    * ``drop_second_row`` → a cadence gap, ``check_intervals`` trips.

    Corruptions apply blank → spike → drop → rename (rename last, so a
    renamed ``ts_col`` cannot break the other corruptions' column
    references; blank/spike target different columns by contract). The
    "2nd row" lookup collects exactly one tiny 2-row sort — a test fixture
    path, never a production operator.
    """
    ts2_rows = df.select(ts_col).orderBy(ts_col).limit(2).collect()
    if len(ts2_rows) < 2:
        raise ValueError("inject_errors needs at least 2 rows")
    t1 = ts2_rows[1][0]
    if spike_col and spike_col == blank_col:
        raise ValueError("spike_col and blank_col must differ")
    if blank_col:
        df = df.withColumn(blank_col, F.when(F.col(ts_col) == t1, F.lit(None))
                           .otherwise(F.col(blank_col)))
    if spike_col:
        df = df.withColumn(spike_col,
                           F.when(F.col(ts_col) == t1, F.lit(spike_value)
                                  .cast(dict(df.dtypes)[spike_col]))
                           .otherwise(F.col(spike_col)))
    if drop_second_row:
        df = df.where(F.col(ts_col) != t1)
    if rename:
        # rename LAST: every other corruption refers to ts_col by its
        # original name, so rename=(ts_col, new) must not break them
        df = df.withColumnRenamed(*rename)
    return df


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    """CSV sink (reference pandas_utilities.py:66-70)."""
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def read_jsonl(
    spark: SparkSession,
    path: str | list[str],
    schema: T.StructType | str | None = None,
    select: list[str] | None = None,
    limit: int | None = None,
    corrupt_col: str | None = None,
) -> DataFrame:
    """JSON-Lines scan — the de-facto interchange format for LLM training
    corpora (one JSON document per line; the reference is CSV-only, this
    closes the gap for document pipelines).

    * ``schema`` SHOULD be passed on big data: without it Spark runs a
      full inference pre-scan — 2× the I/O at 100 TB. Accepts a DDL
      string (``"doc_id long, text string"``) or a StructType.
    * ``select``/``limit`` push into the scan like the CSV path.
    * ``corrupt_col`` opts into PERMISSIVE auditing: malformed lines land
      whole in that column instead of poisoning the read, so a quality
      pass can count/quarantine them (the JSONL twin of inject_errors'
      CSV error handling). Default (None) keeps Spark's PERMISSIVE
      null-fill semantics. NOTE: Spark refuses queries that reference
      ONLY the corrupt column (referenced-columns-only pushdown would
      skip the parse that fills it) — ``cache()`` the frame before
      filtering on it, as test_read_jsonl_corrupt_audit does.
    """
    if corrupt_col is not None and schema is None:
        # with inference Spark routes malformed lines to its default
        # _corrupt_record column regardless of this option, so the
        # caller's filter on corrupt_col would fail unresolved — make the
        # misuse loud instead of silently mis-landing the audit rows
        raise ValueError(
            "corrupt_col requires an explicit schema (the corrupt column "
            "must be part of the declared schema to be queryable)")
    reader = spark.read
    if schema is not None:
        if corrupt_col is not None:
            if isinstance(schema, str):
                schema = T._parse_datatype_string(schema)
            if corrupt_col in schema.fieldNames():
                # appending would produce duplicate fields and a confusing
                # downstream analysis error (ADVICE r6) — fail at the call
                raise ValueError(
                    f"corrupt_col {corrupt_col!r} collides with a declared "
                    "schema field; pick a name not present in the schema")
            schema = T.StructType(
                list(schema.fields)
                + [T.StructField(corrupt_col, T.StringType())])
            reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
        reader = reader.schema(schema)
    paths = list(path) if isinstance(path, (list, tuple)) else [path]
    # NOT json(*paths): DataFrameReader.json's second positional parameter
    # is the schema, so splatting two paths would bind path[1] there
    df = reader.json(paths)
    if select:
        df = df.select(*select)
    if limit is not None:
        df = df.limit(limit)
    return df


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite",
                partition_by: list[str] | None = None) -> None:
    """JSON-Lines sink (one document per line, shardable/partitionable —
    the standard corpus export shape)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.json(path)


def read_orc(spark: SparkSession, path: str | list[str],
             columns: list[str] | None = None) -> DataFrame:
    """ORC scan — the other columnar interchange format (Hive-ecosystem
    twin of the parquet path; same projection-pushdown behavior through
    the native reader)."""
    paths = list(path) if isinstance(path, (list, tuple)) else [path]
    df = spark.read.orc(*paths)
    return df.select(*columns) if columns else df


def write_orc(df: DataFrame, path: str, mode: str = "overwrite",
              partition_by: list[str] | None = None) -> None:
    """ORC sink, partitionable like the parquet/jsonl sinks."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_binary_files(spark: SparkSession, path: str | list[str],
                      glob: str | None = None, recursive: bool = False,
                      max_bytes: int | None = None,
                      with_content: bool = True) -> DataFrame:
    """Directory-of-files multimodal source via Spark's native
    ``binaryFile`` format: one row per file with ``path`` /
    ``modificationTime`` / ``length`` / ``content`` (binary) — how a
    real image/audio/video corpus arrives before it becomes typed
    binary columns (VERDICT r7 "What's missing" #1; the reference is
    CSV-only, SURVEY §2.1, so this is pure gap-closing for the
    multimodal north star).

    Scale notes for 100 TB of small media files:

    * ``glob`` maps to ``pathGlobFilter`` — applied during FILE LISTING,
      so non-matching files are never opened.
    * ``max_bytes`` filters on the ``length`` column; binaryFile is one
      of the few sources that pushes path/length/modificationTime
      predicates into the listing, so oversized payloads are skipped
      without reading a byte.
    * ``with_content=False`` drops ``content`` BEFORE any downstream
      plan sees it — a metadata-only scan (inventory, size audit,
      manifest join) must not ship payload bytes through the shuffle.
    * each file is ONE row (hard 2 GiB ceiling per payload; the
      practical one is executor memory ÷ task concurrency) — videos
      beyond that belong in chunked stores, not this source. Spark
      packs many small files per task up to
      ``spark.sql.files.maxPartitionBytes``, so the small-file case
      parallelizes without per-file tasks.
    """
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    paths = list(path) if isinstance(path, (list, tuple)) else [path]
    df = reader.load(paths)
    if max_bytes is not None:
        df = df.where(F.col("length") <= max_bytes)
    if not with_content:
        df = df.drop("content")
    return df


def dataset_manifest(spark: SparkSession, path: str,
                     fmt: str = "parquet") -> DataFrame:
    """Write-audit manifest of an on-disk dataset: one row per physical
    file with its row count and an ORDER-INDEPENDENT content digest
    (sum of a 64-bit row hash mod 2^64) — the artifact a 100 TB export
    job ships alongside the data so a consumer (or a later recompaction,
    see :func:`compact_dataset`) can verify integrity without re-reading
    the producer's lineage.

    The combiner is an exact decimal SUM reduced mod 2^64 — commutative
    (row order and parallel hashing don't matter) AND multiset-safe: a
    bit_xor combiner would cancel any even-multiplicity change (two
    copies of a row corrupted identically leaves x⊕x = 0 unchanged),
    letting duplicate-row corruption pass the audit. The per-file
    aggregation is map-side combined and the manifest is
    files-count-sized. Row hash covers every column via ``xxhash64``
    over (is-null flag, NATIVE value) pairs: the flag — not an in-band
    string sentinel — marks NULLs, so no genuine value can collide with
    the NULL marker, and hashing native values (xxhash64 dispatches on
    type) keeps type distinctions a string cast would erase, e.g. 1 vs
    '1' (ADVICE r7). xxhash64 skips NULL inputs, but the pair encoding
    stays unambiguous: the flag says whether a value contribution
    follows, so the flat fold sequence decodes to exactly one row shape.
    """
    df = (spark.read.format(fmt).load(path)
          .withColumn("__file", F.input_file_name()))
    cols = [c for c in df.columns if c != "__file"]
    row_hash = F.xxhash64(*[
        part for c in cols
        for part in (F.col(c).isNull(), F.col(c))])
    return (df.groupBy("__file")
            .agg(F.count("*").cast("bigint").alias("n_rows"),
                 F.pmod(F.sum(row_hash.cast("decimal(38,0)")),
                        F.lit(str(2 ** 64)).cast("decimal(38,0)"))
                 .cast("decimal(38,0)").alias("content_digest"))
            .withColumnRenamed("__file", "file"))


def verify_manifest(spark: SparkSession, path: str, manifest: DataFrame,
                    fmt: str = "parquet") -> DataFrame:
    """Re-derive :func:`dataset_manifest` for ``path`` and diff it
    against a stored manifest: returns the files whose row count or
    content digest changed (empty = verified). Join is manifest-sized
    (broadcast) — verification reads the DATA once and the manifest
    frames stay tiny."""
    current = dataset_manifest(spark, path, fmt)
    m = manifest.select(F.col("file"),
                        F.col("n_rows").alias("expected_rows"),
                        F.col("content_digest").alias("expected_digest"))
    return (current.join(F.broadcast(m), "file", "full_outer")
            .where((F.col("n_rows").isNull())
                   | (F.col("expected_rows").isNull())
                   | (F.col("n_rows") != F.col("expected_rows"))
                   | (F.col("content_digest") != F.col("expected_digest"))))


def compact_dataset(spark: SparkSession, src: str, dst: str,
                    target_rows_per_file: int,
                    fmt: str = "parquet") -> int:
    """Small-file compaction: rewrite ``src`` into ``dst`` with
    ``ceil(n / target_rows_per_file)`` output files — the maintenance
    pass every long-running ingest needs (streaming sinks and
    per-partition writers fragment into thousands of tiny files, and at
    100 TB the NameNode/listing and per-file open costs dominate reads).

    Uses ``repartition`` (round-robin, balanced sizes) rather than
    ``coalesce`` (which merges without a shuffle but inherits upstream
    skew and caps parallelism during the write). Returns the file count
    written. Content equality (not order) is the contract — verify with
    :func:`dataset_manifest` totals.
    """
    if target_rows_per_file < 1:
        raise ValueError(
            f"target_rows_per_file must be >= 1, got {target_rows_per_file}")
    if os.path.abspath(src) == os.path.abspath(dst):
        # Spark's overwrite-while-reading check would abort at WRITE time,
        # after the counting read was already paid — fail upfront instead
        # (ADVICE r7). dst must be a fresh location; swap after verifying.
        raise ValueError(
            f"compact_dataset dst must differ from src (both resolve to "
            f"{os.path.abspath(src)!r}); write to a fresh location, "
            "verify with dataset_manifest, then swap")
    df = spark.read.format(fmt).load(src)
    n = df.count()
    n_files = max(1, -(-n // target_rows_per_file))
    df.repartition(n_files).write.mode("overwrite").format(fmt).save(dst)
    return n_files


def scan_stats(spark: SparkSession, path: str,
               min_max_cols: "list[str] | None" = None,
               fmt: str = "parquet") -> DataFrame:
    """Metadata-only dataset statistics — COUNT(*) + per-column MIN/MAX
    answered from parquet FOOTERS, never the data pages: the scan-free
    profile a 100 TB catalog query ("how many rows landed yesterday,
    what id range?") should cost.

    Mechanics: parquet aggregate pushdown is a DSv2-only optimizer rule,
    so the read runs in a derived session (``newSession()`` — same
    SparkContext, independent SQLConf) with parquet removed from the V1
    fallback list and ``spark.sql.parquet.aggregatePushdown`` on (note
    the lowercase-d spelling — the CamelCase variant silently no-ops).
    The plan's scan then carries ``PushedAggregation: [COUNT(*),
    MIN(..), MAX(..)]`` and reads ONLY footer statistics — bytes scanned
    are O(#files), not O(rows); a pytest pins the plan shape so a conf
    drift can't silently fall back to a full scan.

    Restrictions (inherited from the Spark rule, enforced loudly): no
    filters, and MIN/MAX only for numeric/date columns — string and
    timestamp stats may be truncated/timezone-rebased in footers, so
    Spark refuses them; this helper raises upfront rather than letting
    the plan silently degrade to a full scan. Output: one row —
    ``n_rows`` + ``min_<c>``/``max_<c>`` per requested column."""
    s2 = spark.newSession()
    s2.conf.set("spark.sql.sources.useV1SourceList", "")
    s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    df = s2.read.format(fmt).load(path)
    allowed = {"tinyint", "smallint", "int", "bigint", "float", "double",
               "decimal", "date"}
    aggs = [F.count("*").cast("bigint").alias("n_rows")]
    for c in (min_max_cols or []):
        dt = dict(df.dtypes).get(c)
        if dt is None:
            raise ValueError(f"scan_stats: column {c!r} not in {df.columns}")
        if dt.split("(")[0] not in allowed:
            raise ValueError(
                f"scan_stats: column {c!r} has type {dt}, which parquet "
                "aggregate pushdown cannot serve from footer stats "
                "(strings may be truncated, timestamps rebased) — the "
                "query would silently degrade to a full scan")
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    out = df.agg(*aggs)
    # normalize IEEE negative zero AFTER the aggregate (an outer projection
    # never blocks the pushdown below it): parquet footer stats preserve
    # -0.0 while a data-side min() may surface either sign — repr-level
    # compares would flap on '-0.0' vs '0.0' (bit us at sf0.1)
    fixes = [(F.col(f"{m}_{c}") + F.lit(0.0)).alias(f"{m}_{c}")
             if dict(df.dtypes)[c] in ("float", "double")
             else F.col(f"{m}_{c}")
             for c in (min_max_cols or []) for m in ("min", "max")]
    return out.select("n_rows", *fixes)


def schema_contract(df: DataFrame, expected: "dict[str, str]") -> DataFrame:
    """Typed schema-contract check — the ingest gate that extends
    :func:`check_columns` (presence only, the reference's
    check_csv_file twin, reference datapipeline/
    datapipeline_utilities.py:47-75) to TYPES: diff the DataFrame's
    actual schema against an expected ``{column: simpleString}``
    contract and report per column ``ok`` / ``type_mismatch`` /
    ``missing`` (expected, absent) / ``unexpected`` (present, not in
    the contract). A pipeline upgrade that silently widens int→bigint
    or re-orders a parquet write shows up here before any downstream
    cast does something engine-dependent.

    Pure metadata — the comparison frame is |columns| rows built from
    the schema (parquet footers), zero data pages read; assembled as a
    DataFrame (not a driver-side dict) so contract results compose
    with the rest of the relational audit family. Types compare on
    Spark ``simpleString`` names (``bigint``, ``string``,
    ``array<float>``). Returns ``(column, expected_type, actual_type,
    status)`` ordered by column."""
    spark = df.sparkSession
    actual = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    a = spark.createDataFrame(actual, "column string, actual_type string")
    e = spark.createDataFrame(list(expected.items()),
                              "column string, expected_type string")
    j = e.join(a, "column", "full_outer")
    status = (F.when(F.col("expected_type").isNull(), "unexpected")
              .when(F.col("actual_type").isNull(), "missing")
              .when(F.col("expected_type") == F.col("actual_type"), "ok")
              .otherwise("type_mismatch"))
    return (j.select("column", "expected_type", "actual_type",
                     status.alias("status"))
            .orderBy("column"))

"""Readers and writers.

Reference parity map (SURVEY.md §2.1):
  * R1  CSV scan with declared schema        → read_csv
  * R2/R3 bulk load + columnar materialization → materialize_columnar
  * R4  catalog scan                          → load_table / spark.table
  * R5  delimited sink (+ rmf pre-clean)      → write_csv (mode=overwrite)
  * R6  line / whole-file sources             → read_lines / read_whole_files
  * R6a DDL passthrough                       → spark.sql (no wrapper needed)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: Canonical table names of the driver's star-schema + extension testdata.
STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    header: bool = True,
    sep: str = ",",
    permissive: bool = True,
) -> DataFrame:
    """Schema-on-write CSV scan (reference DDL README.md:29-60).

    The reference's CSV is dirty — quoted embedded commas misalign a naive
    split (README.md:203-211). We use Spark's quote-aware parser in
    PERMISSIVE mode with a corrupt-record column so data-quality operators
    can *report* bad rows instead of silently misparsing (SURVEY.md §1.3).
    """
    reader = (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("sep", sep)
        .option("quote", '"')
        .option("escape", '"')
    )
    if permissive:
        reader = reader.option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", "_corrupt_record"
        )
    return reader.csv(path)


def materialize_columnar(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    compression: str = "zstd",
    fmt: str = "parquet",
) -> None:
    """Text → columnar materialization (CTAS→ORC+ZLIB, README.md:111-117).

    Parquet+zstd is the Spark-idiomatic default; ``fmt="orc"`` (e.g. with
    ``compression="zlib"``) reproduces the reference's exact storage choice
    — both are native Spark columnar sources with the same pushdown/pruning
    behavior. ``partition_by`` gives partition pruning at 100 TB (e.g. by
    date); left None for small dims.
    """
    writer = (
        df.write.mode("overwrite")
        .format(fmt)
        .option("compression", compression)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Catalog-style scan of one driver testdata table (R4).

    SESSION-CONF CONTRACT: this call sets ``spark.sql.ansi.enabled=false``
    and ``spark.sql.legacy.parquet.nanosAsLong=true`` on the session, and
    deliberately does NOT restore them — the engine's semantic contract
    (SURVEY.md §1.2, Hive-parity NULL-on-bad-cast) is a property of the
    whole session, not of one read: a lazily-executed downstream cast must
    see the same conf at action time as at plan time. Sessions from
    ``get_spark`` already run with these values; the set here only matters
    for (and is intentional for) foreign sessions, like the driver's.

    The driver's ``events`` parquet stores TIMESTAMP(NANOS), which Spark 4
    rejects by default. We read nanos as long (legacy conf) and floor-convert
    to a micros timestamp — the same truncation DuckDB applies when fetching
    TIMESTAMP_NS to the comparison harness.
    """
    path = f"{sf_dir}/{name}.parquet"
    # Engine semantic contract (SURVEY.md §1.2): Hive-parity NULL-on-bad-cast
    # — enforce even when the caller's session runs Spark 4 ANSI defaults.
    spark.conf.set("spark.sql.ansi.enabled", "false")
    # Set unconditionally (not try/except-on-failure): a failed first read
    # logs an executor ERROR even though retried, and the conf only affects
    # TIMESTAMP(NANOS) columns, which we convert below.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    nanos_cols = {
        f.name
        for f in df.schema.fields
        if f.name in ("ts",) and f.dataType.simpleString() == "bigint"
    }
    for c in nanos_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the full star schema + extension tables as a dict of DataFrames
    and register each as a temp view so ``spark.sql`` works against them."""
    out: dict[str, DataFrame] = {}
    for name in STAR_TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def write_csv(df: DataFrame, path: str, header: bool = True) -> None:
    """Delimited sink with overwrite (Pig STORE + rmf, README.md:131-132).

    Quote-doubling escape style to round-trip with ``read_csv`` (and match
    the RFC-4180 CSV the reference's data uses)."""
    (
        df.write.mode("overwrite")
        .option("header", str(header).lower())
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_by: str,
    num_buckets: int = 32,
    sort_by: str | None = None,
) -> None:
    """Bucketed managed table for co-located joins (SCALE.md).

    Two tables bucketed on the same key with the same bucket count join
    WITHOUT a shuffle — the physical plan drops both Exchanges. At 100 TB
    this is the difference between re-shuffling the fact table on every
    join and paying the partitioning once at write time.
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        num_buckets, bucket_by
    )
    if sort_by:
        writer = writer.sortBy(sort_by)
    writer.saveAsTable(table)


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    num_partitions: int | None = None,
) -> None:
    """Range-partitioned, within-partition-sorted parquet (SCALE.md).

    ``repartitionByRange`` + ``sortWithinPartitions`` gives globally
    range-clustered files whose parquet row-group min/max stats enable
    filter skipping on ``sort_cols`` — the write-side half of predicate
    pushdown at 100 TB.
    """
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(parts, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_compacted(
    df: DataFrame,
    path: str,
    target_file_mb: int = 512,
    compression: str = "zstd",
) -> None:
    """Small-files-safe parquet write: repartition to ~``target_file_mb``
    output files using the optimizer's sizeInBytes estimate (no extra scan,
    no action). The small-files problem is the classic 100 TB sink failure —
    a 32k-task job writing 32k tiny files makes every downstream scan pay
    32k file-open round trips; conversely one giant file serializes readers.
    Uses round-robin repartition (uniform by construction); combine with
    ``write_sorted_parquet`` when range-clustering matters more than file
    count."""
    try:
        # py4j converts the Scala BigInt straight to a Python int.
        size_bytes = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # noqa: BLE001 — py4j/private-API guard
        size_bytes = 0
    _compacted_write(df, path, size_bytes, target_file_mb, compression)


def _compacted_write(
    df: DataFrame,
    path: str,
    size_bytes: int,
    target_file_mb: int,
    compression: str,
) -> int:
    """The one size→file-count policy behind write_compacted and
    compact_parquet (round-robin repartition to ~target-sized files)."""
    import math

    n_files = max(1, math.ceil(size_bytes / (target_file_mb * 1024 * 1024)))
    (
        df.repartition(n_files)
        .write.mode("overwrite")
        .option("compression", compression)
        .parquet(path)
    )
    return n_files


def read_lines(spark: SparkSession, path: str) -> DataFrame:
    """Line source: sc.textFile analog (README.md:352,385) → column `value`."""
    return spark.read.text(path)


def read_whole_files(spark: SparkSession, path: str) -> DataFrame:
    """Whole-file source: sc.wholeTextFiles analog (README.md:297).

    Returns (path, value) per file via the wholetext text option — one row
    per file, content as a single string.
    """
    return (
        spark.read.option("wholetext", "true")
        .text(path)
        .withColumn("path", F.input_file_name())
        .select("path", "value")
    )


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema=None,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """JSON-Lines source — the de-facto LLM-corpus interchange format (one
    JSON object per line; gz/zstd-compressed files decode transparently and
    each file is one split when the codec is non-splittable, so shard
    corpora into many files).

    Pass an explicit ``schema`` at scale: without one Spark runs a
    separate inference SCAN over the data before the real read — double
    I/O on a 100 TB corpus, and a schema drifting with whatever keys the
    crawl happened to contain. With a declared schema the read is one
    pass, missing keys are NULL, and malformed lines land in
    ``corrupt_col`` (PERMISSIVE mode) instead of failing the job — filter
    on it to quarantine bad records, the same quarantine-don't-crash
    contract as the R-group quality operators.
    """
    reader = spark.read.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", corrupt_col
    )
    if schema is not None:
        from pyspark.sql.types import StringType, StructField, StructType

        # DDL-string schemas ("doc_id long, text string") are a supported
        # DataFrameReader.schema() form — normalize before the field check
        if isinstance(schema, str):
            schema = StructType.fromDDL(schema)
        # Spark only POPULATES the corrupt column if the schema declares
        # it; without this append a caller's plain doc schema would turn
        # malformed lines into all-NULL rows indistinguishable from
        # legitimately-NULL records — no quarantine possible
        if corrupt_col not in schema.fieldNames():
            schema = StructType(
                list(schema.fields) + [StructField(corrupt_col, StringType())]
            )
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(
    df: DataFrame, path: str, compression: str | None = "gzip"
) -> None:
    """JSON-Lines sink (one object per line, one file per partition —
    size output shards with ``write_compacted``-style repartitioning
    upstream if consumers need bounded file sizes)."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)



def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 4,
    num_partitions: int | None = None,
) -> None:
    """Multi-dimensional clustering write (the Delta/Iceberg OPTIMIZE ZORDER
    idea as plain Spark): bucket each column into 2^bits quantile levels,
    interleave the level bits into a Morton key, range-partition + sort by
    it. Parquet row-group min/max stats then prune on EVERY participating
    column — ``write_sorted_parquet`` clusters only its leading column.

    Levels come from ``approxQuantile`` (one sketch pass, driver gets
    2^bits-1 boundaries per column — KBs); the per-row level is a bounded
    HOF over that boundary array (touched once per row, fine per SCALE.md
    discipline), so the only shuffle is the final range partition by key.
    Quantile bucketing makes levels ~uniform even on skewed columns, which
    is what makes the interleaved key actually skip.
    """
    if bits * len(cols) > 63:
        # shiftleft wraps its shift count mod 64 — overflow would silently
        # fold high-level bits onto low positions and corrupt the key
        raise ValueError(
            f"bits*len(cols) = {bits * len(cols)} exceeds the 63-bit key"
        )
    n_levels = 1 << bits
    probs = [i / n_levels for i in range(1, n_levels)]
    # one sketch pass for ALL columns (approxQuantile takes a column list)
    all_bounds = df.approxQuantile(cols, probs, 0.001)
    key = F.lit(0).cast("long")
    levels = []
    for c, bounds in zip(cols, all_bounds):
        barr = F.array(*[F.lit(float(b)) for b in bounds])
        lvl = F.size(
            F.filter(barr, lambda b: b <= F.col(c).cast("double"))
        )
        levels.append(F.coalesce(lvl, F.lit(0)))
    for b in range(bits):
        for i, lvl in enumerate(levels):
            bit = F.shiftright(lvl, b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(
                F.shiftleft(bit.cast("long"), b * len(cols) + i)
            )
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    (
        df.withColumn("_zkey", key)
        .repartitionByRange(parts, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Binary-file source for multimodal ingestion: Spark's built-in
    ``binaryFile`` format — one row per file with (path, modificationTime,
    length, content: binary). This is the REAL ingest edge for the X3
    multimodal family (operators/multimodal.py): read raw image/audio/
    video files here, then run the mapInPandas extract/resize/frame ops
    over the ``content`` column.

    Scale notes: files are NOT split (a row is a whole file), so the
    format suits many-small-media-files corpora; huge videos should be
    pre-chunked upstream. Spark prunes the ``content`` column when a
    query reads only metadata (the format implements column pruning), so
    ``df.select("path", "length")`` never reads payload bytes. Set
    ``glob`` (e.g. ``*.png``) to filter by name without listing costs.
    """
    r = spark.read.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    return r.load(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_file_mb: int = 512,
    compression: str = "zstd",
) -> int:
    """Small-file compaction — the maintenance pass every long-running
    ingest loop needs: a path accumulating thousands of per-batch part
    files (each micro-batch of ``streaming_ingest`` / ``ingest_batch``
    writes its own) is rewritten as ~``target_file_mb`` files, restoring
    scan efficiency (file-listing cost, row-group sizing, and
    maxPartitionBytes splitting all degrade with small files).

    The current on-disk byte size comes from the filesystem catalog
    (Hadoop ``getContentSummary`` — works on HDFS/S3A/local, no data
    scan); the write half is :func:`_compacted_write` — ONE copy of the
    size→file-count policy shared with :func:`write_compacted`, which
    differs only in taking the byte size from the optimizer's
    ``sizeInBytes`` (it has a DataFrame, not a path). Write-then-swap:
    compacting INTO the source path while readers hold it is not safe on
    object stores, so the caller owns the rename/retarget step. Returns
    the output partition count.
    """
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    n_bytes = fs.getContentSummary(jpath).getLength()
    return _compacted_write(
        spark.read.parquet(path), out_path, n_bytes, target_file_mb,
        compression,
    )


def read_xml(
    spark,
    path: str,
    row_tag: str,
    schema=None,
    **options,
) -> DataFrame:
    """XML source (Spark 4 built-in ``xml`` format — the spark-xml
    package merged upstream): one DataFrame row per ``row_tag`` element.
    Declared ``schema`` recommended for the same schema-on-write
    discipline as read_csv (R1); inference costs an extra pass and
    guesses types. Nested elements arrive as structs/arrays — flatten
    with ordinary column expressions downstream."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_xml(
    df: DataFrame, path: str, row_tag: str = "row", root_tag: str = "rows",
    mode: str = "overwrite",
) -> None:
    """XML sink (Spark 4 built-in): one ``row_tag`` element per row under
    ``root_tag`` per output file. Same partitioned-files layout as every
    other sink here — one file per task."""
    (
        df.write.format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .mode(mode)
        .save(path)
    )


def local_table(
    spark: SparkSession,
    rows,
    schema,
    max_local_rows: int = 200_000,
) -> DataFrame:
    """Driver-local rows (query batches, parameter tables, driver-computed
    results) as a DataFrame that plans as a pure-JVM **LocalTableScan**
    instead of a pickled-Python RDD scan.

    Why it exists (r16 optimization round, measured): a bare
    ``spark.createDataFrame(rows, schema)`` from a Python list builds a
    ``parallelize`` RDD with ``defaultParallelism`` slices — a 3-row
    query table becomes 32 near-empty partitions, EACH needing a Python
    worker round-trip at every action. A query-construction helper that
    embeds such a table in several broadcast subtrees (a parameter
    table joined into every branch of a plan) pays 32 Python tasks per
    subtree per action: the r16 boolean_topk plan, whose roles table
    fed four, measured 119 s of executor CPU across 401 tasks at sf0.1,
    almost all of it Python-worker churn deserializing the SAME 3 rows.
    The pandas/Arrow conversion path instead lands the rows in the plan
    as a LocalTableScan: no RDD, no Python at action time, and Catalyst
    can broadcast/constant-fold through it. At 100 TB the same property
    holds — parameter tables ride the PLAN, only corpus tables ride
    executors.

    Falls back to a SINGLE-slice ``parallelize`` (1 Python task, not 32)
    when the Arrow conversion cannot represent the rows (exotic nested
    types) or produces a non-local plan (Arrow disabled on a foreign
    session). Value fidelity is oracle-checked: every gate query whose
    parameter tables route through here still hash-matches DuckDB.

    ``max_local_rows`` guards the driver: a LocalTableScan lives in the
    plan, so corpus-scale "local" data is a caller error — raise with
    instructions rather than serializing a giant plan.
    """
    rows = rows if isinstance(rows, list) else list(rows)
    if len(rows) > max_local_rows:
        raise ValueError(
            f"local_table: {len(rows)} rows exceed max_local_rows="
            f"{max_local_rows} — local tables ride the query plan; "
            "corpus-scale data belongs in parquet (write + read back)"
        )
    if rows:
        try:
            import pandas as pd

            # dtype=object keeps every value verbatim (no numpy
            # coercion); the Arrow conversion applies the declared
            # schema types positionally, like the row path
            pdf = pd.DataFrame(rows, dtype=object)
            df = spark.createDataFrame(pdf, schema)
            plan = df._jdf.queryExecution().executedPlan().toString()
            if "LocalTableScan" in plan:
                return df
        except Exception:  # noqa: BLE001 — any conversion gap falls back
            pass
        return spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), schema
        )
    return spark.createDataFrame([], schema)

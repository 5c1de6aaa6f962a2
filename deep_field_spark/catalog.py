"""Testdata catalog: load and register the TPC-H-ish synthetic tables.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file each under
``/root/testdata/sf{0.001,0.01,0.1}``.

Scale design: every loader is a plain ``spark.read.parquet`` so Catalyst
gets predicate pushdown + column pruning into the scan; at 100 TB these
would be partitioned/bucketed Parquet directories and the same code holds
(the path just points at the table root).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Small dimension tables that should always be broadcast when joined
# against a fact table (at any scale these stay tiny relative to facts).
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part", "customer"})


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table; name must be in TABLES.

    Self-sufficient wrt session configuration: events.parquet carries
    TIMESTAMP(NANOS) which vanilla Spark rejects (PARQUET_TYPE_ILLEGAL),
    so the nanosAsLong legacy conf is set at runtime here — the driver
    hands us an externally built SparkSession that never saw session.py.

    SIDE EFFECT: pins ``spark.sql.session.timeZone`` to UTC on the
    caller's session (see ensure_nanos_conf) — required for ts_micros
    determinism, but it changes the semantics of LTZ-dependent
    expressions (date_trunc, window, timestamp casts) the caller runs
    afterwards on a session that was built with a different zone.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_nanos_conf(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return fix_nanos_ts(df)


def ensure_nanos_conf(spark: SparkSession) -> None:
    """Runtime session normalization (idempotent).

    pyspark 4.1 reads parquet TIMESTAMP(NANOS) natively as TIMESTAMP_NTZ
    (the legacy nanosAsLong conf is a no-op at runtime there, but harmless
    and still honored by older builds, so keep setting it). Session TZ is
    pinned to UTC so any NTZ<->LTZ cast is the exact identity on the naive
    value — this makes ``ts_micros`` deterministic on every session,
    including the driver's externally built one.

    The TZ pin is a DELIBERATE GLOBAL side effect on the caller's
    session (documented on table()): a non-UTC session would silently
    drift every epoch-based comparison against the DuckDB oracles, so
    correctness of this library's queries wins over preserving an
    ambient zone. Callers needing a different display zone should set
    it per-expression (from_utc_timestamp) rather than via the session
    conf.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def ts_micros(col):
    """Microseconds-since-epoch for TIMESTAMP *or* TIMESTAMP_NTZ columns.

    ``F.unix_micros`` rejects TIMESTAMP_NTZ (what parquet TIMESTAMP(NANOS)
    reads as under pyspark 4.1), so cast through timestamp_ltz first: a
    no-op for LTZ inputs, and with the session TZ pinned to UTC (see
    ensure_nanos_conf) an exact naive-as-UTC epoch for NTZ inputs —
    matching DuckDB's ``epoch_us`` on the same naive values.
    """
    from pyspark.sql import functions as F

    if isinstance(col, str):
        col = F.col(col)
    return F.unix_micros(col.cast("timestamp_ltz"))


def fix_nanos_ts(df: DataFrame) -> DataFrame:
    """Convert TIMESTAMP(NANOS)-as-long columns (see session.py's
    nanosAsLong conf) back to µs timestamps. The synthetic data has no
    sub-µs component, so ns DIV 1000 is exact."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def _parse_bytes(v: str) -> int:
    """Spark byte-string conf value → bytes ('128m', '134217728b', '1g').
    A bare number is bytes. Unknown suffixes fall back to the 128 MiB
    default rather than misreading the magnitude."""
    s = v.strip().lower()
    for suffix, mult in (
        ("tb", 1 << 40), ("gb", 1 << 30), ("mb", 1 << 20), ("kb", 1 << 10),
        ("t", 1 << 40), ("g", 1 << 30), ("m", 1 << 20), ("k", 1 << 10),
        ("b", 1),
    ):
        if s.endswith(suffix):
            num = s[: -len(suffix)].strip()
            try:
                # Spark accepts fractional magnitudes ('0.5g'); parse
                # with float so they don't fall to the default and skew
                # the split estimate
                return int(float(num) * mult)
            except ValueError:
                break
    try:
        return int(float(s))
    except ValueError:
        return 128 * 1024 * 1024


def spread(df: DataFrame) -> DataFrame:
    """Repartition up to the session's default parallelism when the
    scan would have fewer splits — and ONLY then.

    The local testdata is one single-row-group parquet file per table,
    so every scan is one task and per-row compute (shingling, hashing,
    cosine) would serialize on one core. On a cluster a fact table has
    ≥ cores splits and this is a no-op, so the shuffle it introduces
    exists only where the data is small enough not to matter. Use it
    in compute-bound operators, never between a filter and its scan
    (it would block pushdown).

    The split count is estimated from local input-file sizes vs
    maxPartitionBytes (``inputFiles()`` is a metadata call, ~ms). The
    previous exact probe — ``df.rdd.getNumPartitions()`` — converts
    the whole plan to an RDD through py4j, ~1 s of driver time per
    call; with 15 call sites that tax rode every bench/driver run.
    Non-local storage (hdfs/s3 paths we cannot stat) means a real
    cluster scan whose splits come from the source: exactly the case
    where spread must be a no-op anyway.
    """
    import os
    from urllib.parse import unquote, urlparse

    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
        paths = []
        for f in files:
            u = urlparse(f)
            if u.scheme not in ("", "file"):
                return df  # remote storage: splits come from the source
            # file URIs percent-encode spaces etc.; getsize needs the
            # decoded filesystem path or it raises into the slow
            # df.rdd fallback this estimate exists to avoid
            paths.append(unquote(u.path) if u.path else f)
        if not paths:
            return df
        raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        max_pb = _parse_bytes(raw)
        # Spark bin-packs small files and splits large ones, so the split
        # count tracks ceil(total / maxPartitionBytes) — per-file floors
        # would miss the bin-packing (32 tiny files = ~1 real partition).
        total = sum(os.path.getsize(p) for p in paths)
        approx = max(1, -(-total // max_pb))
        if approx < target:
            return df.repartition(target)
        return df
    except Exception:
        # exact-but-costly fallback for plans inputFiles() can't serve
        if df.rdd.getNumPartitions() < target:
            return df.repartition(target)
        return df


def read_csv(
    spark: SparkSession, path: str, schema: str | None = None, header: bool = True
) -> DataFrame:
    """CSV source (SURVEY §2.1 closing note). With an explicit schema the
    scan is single-pass; schema inference costs an extra full read, so
    always pass one at scale. Predicate pushdown for CSV is limited to
    partition pruning — land CSV into parquet early in any real pipeline.
    """
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """JSON-lines source. Same schema discipline as read_csv; malformed
    rows land in _corrupt_record (PERMISSIVE mode) rather than failing
    the job — the quarantine-column pattern (SURVEY §2.11 E1/E2)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)

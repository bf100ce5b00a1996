"""Loaders for the driver-generated test tables (TESTDATA.md).

Each table is one parquet file under ``{sf_dir}/{name}.parquet``. We read
them lazily and *declaratively* (``spark.read.parquet``) so Catalyst keeps
predicate pushdown, column pruning and partition-size planning — at 100 TB
these would be multi-file datasets and the same call sites hold.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: All tables the driver generates (FIXTURES.md §B).
TABLES: tuple[str, ...] = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SMOKE_SF_DIR = "/root/testdata/sf0.001"
ORACLE_SF_DIR = "/root/testdata/sf0.01"


#: path -> inferred StructType for the immutable driver-generated test
#: tables. Catalog METADATA only (what a metastore would declare): every
#: ``spark.read.parquet`` re-infers the schema from the footer (~110 ms
#: of driver-side IO + py4j per call, paid by every bench sample of
#: every query), while ``read.schema(...)`` skips inference entirely.
#: The DATA is still read from parquet on every action — nothing about
#: results or file contents is cached, and the testdata dirs are
#: read-only, so the schema cannot drift under the memo.
_SCHEMA_CACHE: dict = {}

#: (applicationId, path) -> the resolved base DataFrame for the immutable
#: test tables (r15, guide §7.3 driver work). One step up from the schema
#: memo and the same metadata-only contract: a DataFrame is an immutable
#: LAZY plan — handing every caller the same analyzed parquet relation
#: skips ~20 ms of per-build DataSource resolution + file listing that
#: every bench sample of every query re-paid, while every action still
#: scans the parquet files. Keyed by applicationId (the bloom-memo
#: lesson, ADVICE r14): a plan holds py4j handles that die with their
#: gateway, so a new session rebuilds instead of reusing stale handles.
_DF_CACHE: dict = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table as a DataFrame (lazy parquet scan).

    ``events.ts`` has been written by different testdata generators as either
    parquet TIMESTAMP(NANOS) — which Spark's vectorized reader rejects, so we
    read nanos as raw int64 (``spark.sql.legacy.parquet.nanosAsLong``) and
    rebuild a microsecond ``timestamp_ntz`` (the same truncation DuckDB
    applies casting TIMESTAMP_NS → TIMESTAMP) — or plain TIMESTAMP(MICROS),
    which loads directly. Branch on the *loaded* dtype so both generations of
    testdata work.
    """
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (spark.sparkContext.applicationId, path)
    cached = _DF_CACHE.get(key)
    if cached is not None:
        return cached
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, path)
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # Integer DIV, not `/`: epoch-nanos exceed 2^53, double division
            # would round the microsecond.
            df = df.withColumn(
                "ts", F.expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)")
            )
        elif ts_type != "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    else:
        df = _read_parquet(spark, path)
    if len(_DF_CACHE) > 64 or any(k[0] != key[0] for k in _DF_CACHE):
        _DF_CACHE.clear()  # stale-gateway handles from ended sessions
    _DF_CACHE[key] = df
    return df


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan with the schema served from :data:`_SCHEMA_CACHE`
    after first inference (see the cache docstring for why this is
    metadata, not result caching)."""
    sch = _SCHEMA_CACHE.get(path)
    if sch is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = df.schema
        return df
    return spark.read.schema(sch).parquet(path)


def source_read(spark: SparkSession, fmt: str, path: str, **options) -> DataFrame:
    """Python-DataSource read with the inferred schema memoized per
    (format, path, options) — same metadata-only contract as
    :data:`_SCHEMA_CACHE`: a Python source's ``schema()`` is a
    worker round trip (~130 ms measured) re-paid on every ``load``,
    while an explicit schema skips it. Use ONLY for write-once fixture
    paths (``_SUCCESS``-guarded), where the schema cannot drift."""
    key = (fmt, path, tuple(sorted(options.items())))
    reader = spark.read.format(fmt)
    for k, v in options.items():
        reader = reader.option(k, v)
    sch = _SCHEMA_CACHE.get(key)
    if sch is None:
        df = reader.load(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return reader.schema(sch).load(path)


def local_df(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """Small driver-side row list → DataFrame as ONE Arrow-backed local
    partition (r15, guide §7.3/§4).

    ``spark.createDataFrame(list, schema)`` parallelizes the list into
    ``defaultParallelism`` PYTHON-pickled RDD slices: on local[32] every
    downstream materialization then pays 32 python-worker round trips
    (~0.5s wall in parallel, ~5s when a coalesce/broadcast consumes the
    slices sequentially — measured on a 1-row frame). Routing through
    Arrow plans a true single-partition LocalRelation-style scan with
    zero python tasks (~0.03s). Use for every bounded driver-built frame
    (descriptor lists, file maps, stream partials, literal LUTs).

    The rows go straight into a ``pyarrow.Table`` typed by the declared
    schema, so values arrive exact: a pandas hop would carry a nullable
    int64 column as float64 and round values above 2**53. Naive
    datetimes of a TIMESTAMP column are read in the session time zone,
    as Spark's pandas path reads them."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    arrow_schema = to_arrow_schema(struct, timestamp_utc=False)
    rows = list(rows)
    table = pa.Table.from_arrays(
        [
            pa.array([r[i] for r in rows], type=field.type)
            for i, field in enumerate(arrow_schema)
        ],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=struct)


def sf_tag(sf_dir: str) -> str:
    """Scale-factor tag for namespacing derived fixtures (bucketed tables,
    xlsx bridges, partitioned sinks) so concurrent runs at different
    sf_dirs never share a directory. Dots swapped out so the tag is safe
    in table names as well as paths."""
    return (os.path.basename(os.path.normpath(sf_dir)) or "sf").replace(".", "_")


def _size_bytes(v: str) -> int:
    """Parse a Spark size conf value ("134217728", "128m", "1g", "64MB")."""
    s = v.strip().lower()
    mult = 1
    for suf, m in (("kb", 1024), ("mb", 1024**2), ("gb", 1024**3),
                   ("k", 1024), ("m", 1024**2), ("g", 1024**3), ("b", 1)):
        if s.endswith(suf):
            s, mult = s[: -len(suf)], m
            break
    return int(s) * mult


def _estimate_scan_parts(
    spark: SparkSession, files: list[str], target: int
) -> int | None:
    """Estimate how many scan partitions Spark will plan for ``files``
    using the maxPartitionBytes/openCostInBytes packing rule. Returns
    ``None`` for non-local URIs (callers fall back to the exact RDD
    probe).

    r15 fix (VERDICT r14 #5 / ADVICE r14): the r14 estimate capped
    ``parts`` at ``len(files)``, but Spark SPLITS a large splittable
    file (parquet/orc) into multiple partitions — one 1-GB file plans
    ~8 scan tasks, not 1 — so the cap could fire a redundant
    round-robin shuffle on an already-parallel scan. The cap is gone;
    the estimate now mirrors Spark's ``FilePartition.maxSplitBytes``
    rule (min(maxPartitionBytes, max(openCost, bytesPerCore))) with
    one refinement Spark's planner does NOT make: for parquet files
    the estimate is additionally bounded by the TOTAL ROW-GROUP COUNT,
    because a planned split only produces rows when a row group starts
    inside it — a 2-MB single-row-group fixture "plans" several splits
    but scans on one core, which is exactly the skew spread() exists
    to fix. The files-per-split shortcut is likewise derived from the
    live confs instead of the hardcoded 128 MB/4 MB default ratio."""
    max_pb = _size_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    open_cost = _size_bytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
    )
    # openCost packs at most max_pb/openCost files per split, so
    # files >= that * target ⇒ splits >= target without statting
    # every file (the point of the shortcut: skip N getsize calls).
    per_split_file_cap = max(1, max_pb // max(1, open_cost))
    if len(files) >= per_split_file_cap * target:
        return len(files)
    paths = []
    total = 0
    for f in files:
        p = f
        if p.startswith("file:"):
            p = p[5:]
            while p.startswith("//"):
                p = p[1:]
        try:
            total += os.path.getsize(p)
        except OSError:
            return None  # non-local URI: exact RDD probe instead
        paths.append(p)
    charged = total + open_cost * len(files)
    min_pn = spark.conf.get("spark.sql.files.minPartitionNum", None) or spark.conf.get(
        "spark.sql.leafNodeDefaultParallelism", None
    )
    min_pn = int(min_pn) if min_pn else spark.sparkContext.defaultParallelism
    bytes_per_core = charged // max(1, min_pn)
    max_split = min(max_pb, max(open_cost, bytes_per_core))
    est = -(-charged // max(1, max_split))
    if est > 1 and all(p.endswith(".parquet") for p in paths):
        try:
            import pyarrow.parquet as papq

            est = min(
                est,
                sum(papq.ParquetFile(p).metadata.num_row_groups for p in paths),
            )
        except Exception:
            pass  # unreadable footer: keep the byte-based estimate
    return max(1, est)


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a narrow input up to cluster parallelism.

    Small single-file tables arrive as ONE partition (one row group), so a
    CPU-heavy per-row stage (shingling, vector math) would run on one core
    no matter how many the session has. The shuffle cost is the raw bytes
    of a small table — trivially worth it. No-op when the input is already
    parallel enough. At 100 TB inputs are thousands of splits and this
    never fires.

    r14 opt: the parallelism probe estimates scan splits from the file
    metadata Spark already holds (``df.inputFiles()`` + the
    maxPartitionBytes/openCostInBytes packing rule) instead of forcing a
    full physical plan + RDD conversion per call (``df.rdd`` measured
    ~40 ms warm, ~0.7 s cold, × 36 call sites). Borderline estimates only
    add or skip one cheap repartition of a small input — every query's
    result is partition-count-invariant (pinned by the cluster-shape
    sweep). Frames without file sources keep the exact RDD probe.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    parts: int | None = None
    try:
        files = df.inputFiles()
        if files:
            parts = _estimate_scan_parts(spark, files, target)
    except Exception:
        parts = None
    if parts is None:
        parts = df.rdd.getNumPartitions()
    if parts >= target:
        return df
    return df.repartition(target)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every test table; keys are table names."""
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)

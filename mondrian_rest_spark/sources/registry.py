"""Table sources (reference: JDBC scans, spec_helper.rb:41-47/:76-84;
our primary physical layer is Parquet — a strict upgrade: columnar,
min/max pruned, predicate-pushdown-friendly).

At 100 TB the fact tables should be written partitioned (e.g. by ship
month) and/or bucketed on the dominant join key so fact⋈bridge joins
co-locate without a shuffle; `register_catalog` documents that path by
registering the frames as temp views (a managed deployment would use
`saveAsTable` with `bucketBy`).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .. import plancache

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _scan_layout(*paths: str):
    """Parquet layout facts of files or partitioned directories, summed:
    (total_bytes, total_rows, total_row_groups) from footer metadata
    only, no Spark job.  None = not plain local parquet.  Memoized in
    the plan-time cache as one entry per call (the part files of one
    source share it), stamped with the paths' mtimes."""
    def read():
        try:
            import pyarrow.parquet as pq
            files = [f for p in paths for f in (
                [p] if os.path.isfile(p) else
                [os.path.join(r, n) for r, _, fs in os.walk(p)
                 for n in fs if n.endswith(".parquet")])]
            b = r_ = g = 0
            for f in files:
                m = pq.ParquetFile(f).metadata
                b += os.path.getsize(f)
                r_ += m.num_rows
                g += m.num_row_groups
            return (b, r_, g)
        except Exception:
            return None
    return plancache.get("scan_layout", paths, paths, read)


#: rebalance only inputs whose shuffle is provably cheap: past this
#: size the scan has (or will soon have) enough native splits that a
#: full-row shuffle is pure waste — and at 100 TB the condition is
#: never met, so the production plan is untouched.
_REBALANCE_MAX_BYTES = 512 * 1024 * 1024


def maybe_rebalance(spark: SparkSession, sf_dir: str, name: str,
                    df: DataFrame) -> DataFrame:
    """Layout-adaptive scan parallelism (optimization guide §2.5
    "input skew: one huge unsplittable file ... repartition
    immediately after the read"): a parquet layout with fewer ROW
    GROUPS than the cluster has cores caps the scan stage's
    parallelism at the row-group count — the test data's single-row-
    group files run every scan-side stage on ONE core.  When (a) the
    layout's row groups < defaultParallelism, and (b) the whole input
    is small enough that a one-pass shuffle is cheap (<= 512 MB),
    round-robin repartition to defaultParallelism so the per-row work
    (decimal aggregation, shingling, tokenizing) spreads across the
    executor cores.  Deterministic under retries (Spark sorts before
    round-robin partitioning, SPARK-23207) and order-safe here: every
    engine aggregate is order-independent by the determinism
    conventions.  Callers opt in per scan — fact/corpus scans feeding
    heavy per-row compute; never broadcast-bound dim lookups."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.environ.get("MRS_BUCKETED_DB") or not os.path.exists(path):
        return df
    meta = _scan_layout(path)
    if meta is None:
        return df
    total_bytes, total_rows, row_groups = meta
    par = spark.sparkContext.defaultParallelism
    if row_groups >= par or total_bytes > _REBALANCE_MAX_BYTES \
            or total_rows < 1000:
        return df
    return df.repartition(par)


def maybe_spread_compute(frame: DataFrame, source: DataFrame) -> DataFrame:
    """Spread a CPU-DENSE mid-plan stage (candidate verify, per-pair
    scoring) across the cluster when the SOURCE corpus layout is
    provably small (r14 optimization round, guide §2.5/§2.6): AQE
    sizes post-shuffle partitions by BYTES, but candidate-pair frames
    are a few bytes per row with tens of µs of verify work per row, so
    on a small corpus the coalesced width starves the cores (d06's
    exact-cosine verify ran 8-wide on local[32]).  Same guard as
    :func:`maybe_rebalance`, derived from ``source.inputFiles()``
    footer metadata — no Spark job; at production scale the byte
    check fails and the plan is untouched (the pair frame then has
    enough bytes that AQE's own sizing is right)."""
    try:
        files = [f[len("file:"):] if f.startswith("file:") else f
                 for f in source.inputFiles()]
    except Exception:
        return frame
    if not files or os.environ.get("MRS_BUCKETED_DB") \
            or not all(f.endswith(".parquet") for f in files):
        return frame
    meta = _scan_layout(*sorted(files))
    if meta is None:
        return frame
    total_bytes, total_rows, _ = meta
    par = frame.sparkSession.sparkContext.defaultParallelism
    if total_bytes > _REBALANCE_MAX_BYTES or total_rows < 1000:
        return frame
    return frame.repartition(par)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one star-schema table.  Parquet is the primary format
    (single file or partitioned directory); `{name}.csv`, `{name}.json`
    (JSONL) and `{name}.orc` are accepted as fallbacks so a catalog can
    bind to whatever the lake holds — format resolution is by file
    presence, parquet first.

    Nanosecond-timestamp columns (which the vectorized Spark reader
    rejects) are read as long nanos via the legacy conf and converted
    to microsecond timestamps — same truncation DuckDB applies."""
    # layout routing: when MRS_BUCKETED_DB names a database holding a
    # bucketed copy (sources/bucketing.py materialize_bucketed), serve
    # the catalog table — its bucket metadata is what lets Catalyst
    # plan fact-grain joins without an Exchange.  Opt-in by env var so
    # the parquet path stays the default for driver-contract runs.
    bucketed_db = os.environ.get("MRS_BUCKETED_DB")
    if bucketed_db and spark.catalog.tableExists(f"{bucketed_db}.{name}"):
        return spark.table(f"{bucketed_db}.{name}")
    path = table_file(sf_dir, name)
    if path is None:
        raise FileNotFoundError(f"no table file for {name!r} in {sf_dir}")
    ext = path.rsplit(".", 1)[1]
    if ext != "parquet":
        return _READERS[ext](spark, path)
    # memoized PLAN (never data): building a parquet DataFrame costs a
    # JVM schema-inference footer read plus several py4j round trips
    # (~100-200 ms), and a query re-loads 2-8 tables per plan-time
    # lookup.  Execution still scans parquet on every action.
    return plancache.get("table_plan", path, [path],
                         lambda: _read_parquet(spark, path))


def table_file(sf_dir: str, name: str) -> str | None:
    """The file a table is read from: parquet (single file or
    partitioned directory) first, then the csv/json/orc fallbacks;
    None when the data dir holds none of them."""
    for ext in ("parquet", "csv", "json", "orc"):
        path = os.path.join(sf_dir, f"{name}.{ext}")
        if os.path.exists(path):
            return path
    return None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    nano_cols = _nano_timestamp_cols(path)
    if not nano_cols:
        return _ntz_to_ltz(spark.read.parquet(path))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    # integer division: nano values exceed double precision (2^53)
    df = df.withColumns(
        {c: F.expr(f"timestamp_micros({c} div 1000)") for c in nano_cols})
    return _ntz_to_ltz(df)


def _ntz_to_ltz(df: DataFrame) -> DataFrame:
    """Normalize TIMESTAMP_NTZ columns (pyspark>=3.4 parquet inference
    of isAdjustedToUTC=false) to TIMESTAMP (LTZ): Structured Streaming
    watermarks reject NTZ event time, and sharing ONE event-time type
    between batch and streaming keeps window boundaries identical on
    both paths.  The cast reinterprets the wall clock in the session
    timezone — build_session pins that to UTC, making the conversion
    value-preserving and deterministic."""
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if not ntz:
        return df
    # one withColumns call, not one withColumn per column: each
    # withColumn is a py4j round trip + a fresh analysis barrier
    return df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})


def _read_csv(spark: SparkSession, path: str) -> DataFrame:
    # header + schema inference: fine for dim-sized tables; a 100 TB
    # fact should be parquet (columnar, pruned) — CSV is an ingest
    # format, not a serving format
    return (spark.read.option("header", "true")
            .option("inferSchema", "true")
            .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]")
            .csv(path))


def _read_json(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.json(path)


_READERS = {"csv": _read_csv, "json": _read_json,
            "orc": lambda s, p: s.read.orc(p)}


def _nano_timestamp_cols(path: str) -> list[str]:
    try:
        import pyarrow.parquet as pq
        schema = pq.read_schema(path)
    except Exception:
        return []
    import pyarrow as pa
    return [f.name for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"]


def register_catalog(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so spark.sql() queries and
    the metadata surface can address them by name."""
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def build_session(app_name: str = "mondrian-rest-spark",
                  master: str | None = None,
                  shuffle_partitions: int = 32) -> SparkSession:
    """Session defaults tuned for the engine: AQE on (runtime broadcast
    conversion + skew-join splitting), UTC so date-part derivations are
    deterministic, and a shuffle-partition count sized for local runs
    (a real cluster raises it to ~2-3x total cores)."""
    b = (SparkSession.builder.appName(app_name)
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         # local-mode driver == the whole cluster: the 1g default heap
         # OOMs after a few hundred queries in one JVM (broadcast relics
         # + listener state accumulate); a real deployment sizes
         # spark.driver.memory/spark.executor.memory via spark-submit.
         # Only effective before the JVM launches (first session in the
         # process) — getOrCreate ignores it afterwards, harmlessly.
         .config("spark.driver.memory",
                 os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
         # InferFiltersFromGenerate synthesizes `size(col) > 0` below
         # every explode and pushes it through exchanges — for derived
         # arrays that copies the WHOLE generating expression into the
         # scan-stage filter (r14 optimization round, guide §7.2
         # "duplicated subtrees": each corpus pass of the shingle
         # operators re-ran tokenize+shingle+distinct per row inside
         # the scan, measured 7-8.5 s per pass at sf0.1, at any scale
         # a 2x per-row cost on the fact's widest column).  The
         # explode itself already skips empty arrays; the cheap
         # early-prune the rule was providing is restored explicitly
         # on the raw column (dedup.has_min_tokens and friends).
         .config("spark.sql.optimizer.excludedRules",
                 "org.apache.spark.sql.catalyst.optimizer."
                 "InferFiltersFromGenerate")
         # PySpark 4 wraps EVERY DataFrame API call with a user-code
         # stack walk + an extra JVM round trip (PySparkCurrentOrigin)
         # so error messages can cite the user's call site.  This
         # engine builds large plans programmatically (hundreds of API
         # calls per query), where the overhead is pure driver latency
         # on every plan build at ANY cluster size — measured 25-30%
         # of plan-build wall at sf0.1 (minhash pipeline: 0.80 s ->
         # 0.61 s steady, 2.9 s -> 2.1 s first touch).  Errors keep
         # their class + message; only the call-site enrichment in
         # DataFrameQueryContext is dropped (r14 optimization round).
         .config("spark.python.sql.dataFrameDebugging.enabled", "false")
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions)))
    if master:
        b = b.master(master)
    return b.getOrCreate()

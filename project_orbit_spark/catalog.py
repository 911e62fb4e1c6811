"""Parquet catalog over the testdata star schema + corpus tables.

Tables (see /root/repo/TESTDATA.md): region nation customer supplier
part orders lineitem events documents embeddings. At 100 TB these
would be partitioned/bucketed lake tables; the loaders keep the scan
declarative so Catalyst retains predicate pushdown + column pruning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructType

from project_orbit_spark.session import memo

TABLES = (
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

# Dimension tables small enough to always broadcast in joins, even at
# 100 TB fact scale (mirrors the reference's 50-row seed dimension,
# reference: data/forbes_ai50_seed.json, src/scraper_v2.py:4133-4145).
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part"})


def _size_to_bytes(s: str) -> int:
    """Parse a Spark byte-size conf value ('134217728b', '128m', '1g',
    and the two-letter forms Spark also accepts: '128mb', '64kb'). The
    trailing 'b' strips before the k/m/g match, so '128mb' is 128m."""
    s = s.strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    mult = 1
    for suffix, m in (("k", 1024), ("m", 1024**2), ("g", 1024**3)):
        if s.endswith(suffix):
            s = s[: -len(suffix)]
            mult = m
            break
    return int(float(s) * mult)


def _scan_bytes(df: DataFrame, path: str) -> int | None:
    """Input size of ``path`` from the statistics of ``df``'s own scan
    of it: the file index's total file length (Spark's sizeInBytes of
    the leaf relation; hidden ``_SUCCESS``/``.crc`` files excluded),
    so it needs no local filesystem and works on any path the scan can
    read. None when no leaf of ``df`` scans ``path``."""
    sess = df.sparkSession
    try:
        hp = sess._jvm.org.apache.hadoop.fs.Path(path)
        want = hp.getFileSystem(sess._jsc.hadoopConfiguration()).makeQualified(hp).toString()
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    except Exception:  # no filesystem for the path's scheme
        return None
    sizes = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        try:
            roots = leaf.relation().location().rootPaths()
        except Exception:  # not a file-index relation
            continue
        if any(roots.apply(j).toString() == want for j in range(roots.size())):
            sizes.append(int(leaf.stats().sizeInBytes()))
    return sum(sizes) if sizes else None


def _fan_out_scan(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    cols: tuple[str, ...] = (),
) -> DataFrame:
    """Scale-adaptive scan fan-out: repartition to defaultParallelism
    ONLY when the input's own byte size cannot produce enough splits
    to feed the cores. Derived from input size (``_scan_bytes``), never
    a constant — on a real lake table the branch is dead code. A
    ``path`` that ``df`` does not scan leaves ``df`` as it is.

    ``cols``: when the consumer's shuffles are all keyed by a prefix
    of these columns (e.g. per-doc aggregate chains keyed doc_id),
    hash-repartition on them instead of round-robin — the one
    parallelism exchange then SATISFIES every downstream
    ClusteredDistribution whose keys contain the set (guide §2.4:
    two operations keyed the same way share one exchange). The
    explicit numPartitions pins the width (an N-less keyed repartition
    would be AQE-coalesced back to one partition on this tiny
    substrate)."""
    size = _scan_bytes(df, path)
    if size is None:
        return df
    try:
        max_pb = _size_to_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        )
    except (ValueError, TypeError):
        max_pb = 128 * 1024 * 1024
    target = spark.sparkContext.defaultParallelism
    est_splits = max(1, -(-size // max_pb))
    if est_splits >= target or target <= 1:
        return df
    if cols:
        return df.repartition(target, *cols)
    return df.repartition(target)


def barrier_width(df: DataFrame) -> int:
    """Partition width for explicit keyed repartition barriers
    (parallelism barriers in the dedup/LSH/winnowing families):
    max(defaultParallelism, spark.sql.shuffle.partitions), never a
    constant, so a session that sizes shuffle.partitions for its data
    volume sizes these barriers with it."""
    sess = df.sparkSession
    try:
        sp = int(sess.conf.get("spark.sql.shuffle.partitions"))
    except (ValueError, TypeError):
        sp = 200
    return max(sess.sparkContext.defaultParallelism, sp)


def sort_bounded(df: DataFrame, *cols) -> DataFrame:
    """``orderBy(*cols)`` for a result whose rows are bounded whatever
    the input size. A global sort over N partitions plans an
    ``Exchange rangepartitioning``, which costs two jobs on the way
    out: the RangePartitioner's sampling job and the range shuffle's
    map job. One partition already satisfies the sort's ordering
    requirement, so ``coalesce(1)`` first leaves a plain global
    ``Sort`` and neither job.

    Scale contract: ``coalesce(1)`` moves everything after the last
    exchange into ONE task. Only results whose rows entering that last
    stage are bounded independent of input size qualify — a final
    aggregate over a bounded key domain, or a rank-filtered top-k
    (Spark limits each partition to k rows per key below the window's
    exchange). Each call site states its bound in a ``# bound:``
    comment; corpus-scaled outputs keep ``orderBy``."""
    return df.coalesce(1).orderBy(*cols)


def _table_path(sf_dir: str, name: str) -> str:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return os.path.join(sf_dir, f"{name}.parquet")


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The raw file schema of one catalog table, a session memo. This
    is the package's only schema-inferring read of a catalog table:
    parquet inference reads footers in a Spark job (one footer by
    default, every file's under mergeSchema).

    Catalog inputs are immutable within a session — the lake-table
    contract, where a metastore table needs a REFRESH to see rewritten
    files — so each table's footers are read once per session and
    every later read plans the same relation from this schema with no
    inference job. A caller that rewrites a table's files within one
    session must call ``session.clear_df_caches()`` (or use a new
    session) first. nanosAsLong is in the key because it decides how
    events.ts is inferred."""
    path = _table_path(sf_dir, name)
    nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    return memo(spark, ("schema", path, nanos), lambda: spark.read.parquet(path).schema)


def _events_session(spark: SparkSession) -> None:
    """The confs both events faces read under: TIMESTAMP(NANOS) files
    read as raw long nanos, and timestamps rendered in UTC so window
    and date strings match the timezone-naive parquet values."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _normalize_ts(df: DataFrame, raw: StructType) -> DataFrame:
    """Both ``events.ts`` vintages as one microsecond TIMESTAMP column.
    Nanos-as-long truncates with INTEGER division: float division loses
    ulp≈256ns at 1.7e18-scale epochs and can shave 1us off non-aligned
    values against the oracle's exact truncation."""
    from pyspark.sql import functions as F

    if isinstance(raw["ts"].dataType, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def load(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    fan_out: bool = False,
    fan_out_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Load one testdata table as a DataFrame (lazy parquet scan over
    the session-resolved ``table_schema``, so no inference job).

    ``events.ts`` has shipped in two physical vintages: TIMESTAMP(NANOS)
    (which Spark's parquet reader only reads as raw long nanos under the
    legacy conf) and plain ``timestamp[us]`` (read natively as
    TIMESTAMP_NTZ). Branch on the resolved dtype so either vintage
    yields the same microsecond TIMESTAMP column under UTC.

    ``fan_out=True`` opts a call site into the scale-adaptive scan
    fan-out (``_fan_out_scan``): the fixture parquet ships ONE row
    group per table, so a scan yields ONE non-empty task and every
    map stage before the first exchange runs on a single core. Call
    sites whose per-row map work is expensive (tokenization, n-gram
    explosion, signature computation, Python-boundary batches) opt in
    and get a repartition to defaultParallelism (optimization guide
    §2.5: "repartition immediately after the read") — applied
    ADAPTIVELY: only when the file's own split count (size /
    maxPartitionBytes) cannot feed the cores, so at 100 TB the corpus
    scan has thousands of splits, the condition is false, and load()
    is byte-for-byte the plain scan. Cheap map sides (numeric codegen
    over facts, trivial projections) must NOT opt in: the extra
    exchange costs more than the single-task map it parallelizes.
    """
    path = _table_path(sf_dir, name)
    if name == "events":
        _events_session(spark)
    raw = table_schema(spark, sf_dir, name)
    df = spark.read.schema(raw).parquet(path)
    if name == "events":
        df = _normalize_ts(df, raw)
    if fan_out:
        df = _fan_out_scan(spark, df, path, fan_out_cols)
    return df


def read_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``readStream`` face of one catalog table, over its resolved
    ``table_schema`` (streaming sources need an explicit schema; a
    hand-written literal would drift silently, since parquet resolves
    columns by name and streams nulls for a renamed column).

    A table ships in two LAYOUTS: a single file (the testdata) and a
    directory of part files (scale-probe / fixture synthesis). The
    streaming file source requires a directory basePath, so the
    directory layout streams the path itself, while the single-file
    layout streams ``sf_dir`` with a basename pathGlobFilter (which
    would list zero files in the directory layout — and a bare
    directory glob would sweep in every other table's parquet)."""
    path = _table_path(sf_dir, name)
    reader = spark.readStream.schema(table_schema(spark, sf_dir, name)).format("parquet")
    if os.path.isdir(path):
        return reader.load(path)
    return reader.option("pathGlobFilter", f"{name}.parquet").load(sf_dir)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` face of the events table, normalized to the same
    microsecond TIMESTAMP ``ts`` column ``load`` produces; the ``ts``
    vintage comes from the resolved schema, so starting a stream runs
    no inference job."""
    _events_session(spark)
    raw = table_schema(spark, sf_dir, "events")
    return _normalize_ts(read_stream(spark, sf_dir, "events"), raw)


def _plan_hash(df: DataFrame) -> int | None:
    try:
        return df._jdf.queryExecution().analyzed().semanticHash()
    except Exception:  # unexpected py4j surface change — no key
        return None


def _observed(spark: SparkSession) -> dict[int, dict]:
    """Plan semantic hash -> what a stage barrier observed while
    materializing that plan, one dict per session. A checkpointed plan
    is a leaf over its own RDD, so a hash names exactly one
    materialization."""
    return memo(spark, ("observed",), dict)


def stage(df: DataFrame, name: str, *, disk: bool = False, **aggs) -> DataFrame:
    """The stage barrier: materialize ``df`` as a local checkpoint and
    return the checkpointed frame. Every materialization in the package
    goes through here.

    - **Why a barrier.** The frame feeds several consumers (a loop
      round's state, a stage read by both sides of a join), so its
      lineage runs once; or the files under its lazy plan are about to
      be rewritten or deleted; or it truncates an iterative plan that
      would otherwise grow per round.
    - **Eager.** The call runs the checkpoint job now (plus the stage
      jobs AQE submits for the shuffles below it); the returned frame
      is a ``Scan ExistingRDD`` leaf with unknown partitioning.
    - **Counted.** ``rows`` and one entry per keyword aggregate
      (``name=Column``) are observed on that same job, and
      ``observed(<returned frame>)`` reads them back. Sums over zero
      rows are ``None``. ``maybe_broadcast(..., probe=<returned
      frame>)`` answers from ``rows`` at no job.
    - **Named.** Its jobs carry ``name`` as their job description; the
      caller's description (a job group's) is restored afterwards.
    - **Local.** Blocks live on the executors (memory and disk, or disk
      only with ``disk=True`` for a large frame read once more); a lost
      executor loses them.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    sc = df.sparkSession.sparkContext
    caller = sc.getLocalProperty("spark.job.description")
    obs = Observation()
    sc.setJobDescription(name)
    try:
        out = df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            *(col.alias(key) for key, col in aggs.items()),
        ).localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY if disk else None)
    finally:
        sc.setLocalProperty("spark.job.description", caller)
    h = _plan_hash(out)
    if h is not None:
        _observed(out.sparkSession)[h] = obs.get
    return out


def observed(df: DataFrame) -> dict:
    """What ``stage`` observed while materializing ``df``: ``rows`` plus
    its keyword aggregates. Raises KeyError for a frame ``stage`` did
    not return."""
    return _observed(df.sparkSession)[_plan_hash(df)]


def maybe_broadcast(df: DataFrame, bound: int, probe: DataFrame | None = None) -> DataFrame:
    """Size-gated broadcast hint: hint ``broadcast(df)`` only when the
    build side provably fits a documented row bound; otherwise return
    ``df`` unhinted and let AQE pick the join strategy from the REAL
    runtime size.

    A forced ``F.broadcast`` on a dim-derived build encodes the probe
    corpus's "dims stay base-size" assumption; on a star where dims
    scale with the fact table it turns into a driver/executor OOM
    rather than a slow plan. The gate costs one early-terminating
    probe job — ``limit(bound+1).count()`` plans a LocalLimit per
    input partition, so the worst case reads up to bound+1 rows PER
    PARTITION (not O(bound) total); still far from a full aggregate
    scan, and SCALE.md's round-11 table carries the measured cost
    (~1.5 s for the widest probe on the 100× corpus). A probe that
    ``stage`` returned costs no job: its row count was observed when
    it was materialized.

    POLICY (which broadcasts get gated): raw members and cheap
    filters of ``BROADCAST_DIMS`` (region/nation/supplier/part —
    bounded by business reality, the reference's seed-dimension
    model) keep their unconditional ``F.broadcast``; builds derived
    from tables that SCALE with the star (customer/orders/lineitem
    projections and per-key aggregates) go through this gate. q16's
    low-balance supplier set is gated despite supplier being a
    BROADCAST_DIMS member — gating a bounded build is harmless,
    forcing an unbounded one is not.

    ``probe`` (optional) is a CHEAPER upper bound on df's row count —
    e.g. gate a per-key aggregate by probing its key-domain dim, so
    the gate never executes the aggregate itself twice. Caller
    contract: ``probe`` must never have fewer rows than ``df``
    (filtered-dim → per-key-agg satisfies this: one output row per
    surviving key at most).

    The verdict is MEMOIZED per (session, probe-plan semantic hash,
    bound): repeated plan builds over the same static tables (bench
    reps, a pipeline invoked per batch) pay the probe job once per
    session, not once per call. Sound because the catalog's inputs
    are immutable within a session; a new session (new cache token)
    re-probes. Corollary: if a caller OVERWRITES the files behind a
    probed plan within one session, the memoized verdict is stale —
    callers that rewrite inputs must use a new session (every
    test/bench/driver run does) or probe a fresh plan.

    SIDE-EFFECT WARNING: an uncounted probe is an EAGER Spark job
    that fires during PLAN CONSTRUCTION — calling a query builder
    for ``.explain()`` or a plan-audit test runs it too. With a
    cheap ``probe`` the job is a dim limit-scan (negligible); at a
    probe-less call site it executes ``df``'s own plan up to the
    limit, which for an aggregate build means running the aggregate.
    A probe-less call site must either carry a comment documenting
    this or — usually better — skip the hint entirely and let AQE
    choose from the runtime size (operators/corpus.py::
    scrub_boilerplate does exactly that: identical join strategy, no
    plan-build job).
    """
    from pyspark.sql import functions as F

    src = probe if probe is not None else df
    h = _plan_hash(src)

    def probe_fits() -> bool:
        return src.limit(bound + 1).count() <= bound

    if h is None:
        fits = probe_fits()
    elif h in (seen := _observed(src.sparkSession)):
        fits = seen[h]["rows"] <= bound
    else:
        fits = memo(src.sparkSession, ("probe", h, bound), probe_fits)
    return F.broadcast(df) if fits else df

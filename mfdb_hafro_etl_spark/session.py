"""SparkSession factory.

The reference connects to Oracle via ``connect_mar()`` (reference
R/initdb.R:16); our equivalent entry point is a SparkSession over
Parquet tables. Tuned for the local[32] test harness but with every
setting chosen to also hold on a large cluster:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- session timezone pinned to UTC (oracle comparability; cluster jobs
  should never depend on machine-local time)
- Arrow enabled for the few pandas_udf paths (multimodal/geo)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Runtime-settable SQL confs, applied by get_spark at build time and by
# tune_session to an externally-created session — one value per key.
_RUNTIME_SQL_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # 64 MB broadcast ceiling (vs the 10 MB default): sized to the
    # 128 GiB executors this engine targets. The decision stays
    # RUNTIME size-based — AQE broadcasts a join side only when its
    # actual size fits, so fact-fact joins still sort-merge at
    # scale while mid-sized dimensions (the stations spine at test
    # SF) skip the shuffle entirely.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # AQE coalescing's PARALLELISM FLOOR (default 1m): the
    # coalescer targets max(minPartitionSize,
    # shuffleBytes/parallelism), so on a sub-32 MB shuffle the 1m
    # floor coalesces every post-shuffle stage down to 1-3 tasks —
    # starvation for this engine's CPU-dense operators (KN scoring,
    # per-gram hashing: 10^2-10^4 x scan CPU per byte; r12
    # measurement: the lm3 scoring stage ran as ONE 8.5 s task on
    # 1 of 32 cores). 64k keeps the SAME formula scale-adaptive:
    # at cluster scale shuffleBytes/parallelism dominates and the
    # setting is inert; below it, Spark's own parallelism-first
    # rule is allowed to actually reach defaultParallelism.
    # Measured on the full 141-arm sf0.1 suite: this setting alone is
    # the win (20-arm A/B/C/D subset: 57.7 s with only this vs
    # 63.8 s default); lowering files.openCostInBytes alongside it
    # was tried and REJECTED — splitting small multi-file scratch
    # tables into per-file tasks cost more in per-task overhead
    # than the parallelism returned (67-69 s on the same subset,
    # +12 s on the full suite).
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
}


def get_spark(
    app_name: str = "mfdb-hafro-etl-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus if cpus is not None else os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(str(cpus)), 8)
        except ValueError:
            shuffle_partitions = 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the local[32] JVM is driver AND all 32 executor threads in
        # one heap. Round 2 raised this to 32g to mask checkpoint-leak
        # degradation; with the leaks fixed at source (iterative ops
        # unpersist their own stale checkpoints) the measured optimum
        # flipped back: full 96-query suite runs 92-104s at 8g vs
        # 104-118s at 16-32g, and the big heap made full-GC pauses
        # long enough to swing individual queries 2-6x run-to-run.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # library default: a real (if generous) result cap, so an
        # accidental large collect fails fast with Spark's clean
        # maxResultSize abort instead of thrashing the driver heap.
        # The bench harness MATERIALIZES every result to the driver
        # by design (the driver's collect contract) and at 100× data
        # some row-level results exceed any sane cap (p2_ldist x100:
        # 1.08 GiB of Arrow batches) — bench.py opts itself out via
        # SPARK_GRAFT_MAX_RESULT=0 (uncapped) rather than weakening
        # the default for every consumer of this factory.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", "4g"),
        )
        # extra driver-JVM flags (bisect knob; e.g. JIT tier caps,
        # GC logging). Empty default = JVM defaults.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", ""),
        )
        .config("spark.ui.enabled", "false")
        # the status listener retains 1000 jobs/stages of metadata even
        # with the UI off; long multi-query sessions don't need it
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "100")
        .config("spark.sql.ui.retainedExecutions", "50")
        # ContextCleaner only reclaims shuffle files / broadcasts on
        # driver GC; with a big heap that can be never — force a sweep
        # every 5 min so multi-hour sessions don't grow unbounded
        .config("spark.cleaner.periodicGC.interval", "5min")
        # bucketed saveAsTable targets (in-memory catalog); keep the
        # warehouse out of the repo tree
        .config("spark.sql.warehouse.dir", "/tmp/mfdb_suite/warehouse")
    )
    for key, value in _RUNTIME_SQL_CONFS.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine settings to an externally-created
    session (the driver passes us its own SparkSession)."""
    for key, value in _RUNTIME_SQL_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # static confs on some builds; harmless
    ensure_package_shipped(spark)
    return spark


_SHIPPED_SESSIONS: set[int] = set()


def ensure_package_shipped(spark: SparkSession) -> None:
    """Make mfdb_hafro_etl_spark importable on executor Python
    workers.

    Python UDF / mapInPandas closures that reference this package are
    pickled by module reference; if the driver process was started
    from a cwd that doesn't contain the package (as an external
    harness will be), workers raise ModuleNotFoundError. Shipping a
    zip via addPyFile puts the package on every worker's sys.path —
    the same mechanism used for real clusters."""
    key = id(spark)
    if key in _SHIPPED_SESSIONS:
        return
    import pathlib
    import tempfile
    import zipfile

    pkg_dir = pathlib.Path(__file__).resolve().parent
    tmp = tempfile.NamedTemporaryFile(
        prefix="mfdb_hafro_etl_spark_", suffix=".zip", delete=False
    )
    with zipfile.ZipFile(tmp.name, "w") as z:
        for p in sorted(pkg_dir.rglob("*.py")):
            z.write(p, arcname=str(p.relative_to(pkg_dir.parent)))
    spark.sparkContext.addPyFile(tmp.name)
    _SHIPPED_SESSIONS.add(key)


def release_cached_intermediates(spark: SparkSession) -> None:
    """Drop every cached table and persistent RDD the engine's
    operators have pinned in this session.

    THE CACHING CONTRACT (the eager-cache-barrier rule, pinned by
    tests/test_plan_quality.py::test_multi_consumer_intermediates_materialize_once):
    a few DataFrame-returning operators (minhash_lsh_pairs,
    search.tfidf_similar_pairs, duplicate_spans)
    ``cache()`` a multi-consumer intermediate and eagerly fill it
    with a ``count()`` — consumers needing DIFFERENT partitionings
    of the same table are planned into one job whose stages would
    all miss a lazy cache and recompute it (measured 2-3×
    recomputes). Where the consumers share ONE partitioning,
    ReusedExchange already dedups the work and caching is a net LOSS
    (ngram self-join: 38 s → 50 s with a cache) — those sites must
    NOT cache. Consequences callers should know:

    - calling such an operator runs Spark jobs at CALL time
      (plan-building is not fully lazy there), and
    - the pinned tables outlive the returned DataFrame's
      materialization; a long-lived session that builds many such
      plans accumulates them until storage squeezes execution
      memory.

    Call this between logical queries (the bench harness does the
    equivalent per query). It clears SQL-cached plans AND sweeps
    RDD-level persists (localCheckpoint blocks) that clearCache
    never touches."""
    spark.catalog.clearCache()
    try:
        jsc = spark.sparkContext._jsc.sc()
        it = jsc.getPersistentRDDs().values().iterator()
        while it.hasNext():
            it.next().unpersist(False)
    except Exception:
        pass


def pin_to_result(result, pins) -> "DataFrame":
    """Scope cached intermediates to the RETURNED DataFrame's
    lifetime: unpersist every DataFrame in ``pins`` when ``result``
    (the Python object) is garbage-collected.

    This closes the footgun in the eager-cache contract (see
    release_cached_intermediates): operators like minhash_lsh_pairs
    pin intermediates whose only consumers live INSIDE the returned
    DataFrame's plan, but the pin used to outlive the result until a
    session-level sweep a library user may never call. CPython's
    refcounting makes the release prompt in the common pattern —
    the harness (and any ETL job) materializes the result and drops
    the reference, at which point the blocks free. Holding the
    result keeps the pins (correct: re-materializing it should
    re-hit the cache); deriving a new DataFrame and dropping the
    original releases them (the derived plan recomputes without the
    cache — slower, never wrong). Session-level
    release_cached_intermediates remains the backstop sweep.

    Implementation: ``weakref.finalize`` on the result object. The
    finalizer holds the pin wrappers (small Python objects) and
    swallows unpersist failures — at interpreter exit the JVM may
    already be gone."""
    import weakref

    pins = [p for p in pins]
    if not pins:
        return result

    def _release(ps=pins):
        for p in ps:
            try:
                p.unpersist(False)
            except Exception:
                pass

    weakref.finalize(result, _release)
    return result


#: compressed-scan bytes of work per kernel task. Deliberately far
#: below maxPartitionBytes (128 MB): these kernels cost ~10²-10³× a
#: scan's CPU per byte, so 64 KB of parquet is ~0.1-1 s of kernel
#: CPU — enough to amortize task scheduling, small enough that a
#: mid-size single-file table still fans wide. Derived targets are
#: capped at factor × defaultParallelism, so at real-cluster scan
#: sizes this constant only decides how SOON the cap is reached.
_KERNEL_BYTES_PER_TASK = 64 << 10


def _leaf_scan_bytes(df) -> int | None:
    """Total Catalyst size estimate of the plan's LEAF relations, or
    None when the JVM internals are unreachable.

    Leaves, not the root: kernel call sites pass pruned projections
    (often just an id column) whose post-pruning estimate no longer
    tracks corpus size, while the kernel's CPU does — an id-derived
    codec kernel costs per ROW of the corpus, a text kernel per byte
    of the dominant text column. The unpruned file-scan size is the
    one cheap signal proportional to both. Unknown stats come back
    as spark.sql.defaultSizeInBytes (Long.Max), which the caller's
    cap turns into the conservative full fan-out."""
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        # py4j delivers the Scala BigInt as a Python int already
        return sum(
            int(leaves.apply(i).stats().sizeInBytes())
            for i in range(leaves.length())
        )
    except Exception:
        return None


#: LOGICAL-plan node names whose presence means re-running the plan
#: per consumer repeats real work: Python/Arrow map kernels
#: (ms-per-row), wide transforms (a shuffle per rerun), or generators
#: (explode fanout). Scalar Python/pandas UDFs do NOT surface as named
#: logical nodes (they hide inside Project expressions) — those are
#: caught by the physical-plan check below.
_EXPENSIVE_PLAN_NODES = (
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "Aggregate",
    "Window",
    "Join",
    "Generate",
    "Sort",
    "Deduplicate",
    "Distinct",
)


def cheap_to_recompute(df) -> bool:
    """True when the DataFrame's plan is scan + narrow JVM ops only
    (project / filter / repartition over leaf relations) — the case
    where an eager multi-consumer cache is pure toll, because each
    consumer just re-reads a (column-pruned) scan. False for anything
    containing a Python/Arrow kernel, aggregate, window, join, or
    generate (rerunning those per consumer repeats real work), and
    False when the JVM internals are unreachable (unknown →
    conservative: let the caller cache).

    Two plan scans: the optimized LOGICAL plan names the wide
    operators and the pandas MAP kernels, but scalar Python/pandas
    UDFs appear only as expressions inside Project — the physical
    plan materializes them as *EvalPython nodes ('Python'/'Pandas'
    substrings cover ArrowEvalPython, BatchEvalPython, and every
    pandas map variant), so the physical string is checked too.
    sparkPlan (pre-AQE) is used: planning it is cheap for the
    scan-rooted inputs this gate serves."""
    try:
        qe = df._jdf.queryExecution()
        logical = qe.optimizedPlan().toString()
        physical = qe.sparkPlan().toString()
    except Exception:
        return False
    if any(node in logical for node in _EXPENSIVE_PLAN_NODES):
        return False
    return not ("Python" in physical or "Pandas" in physical)


def spread_for_kernel(df, factor: int = 2, bytes_per_task: int | None = None):
    """Give a CPU-dense Arrow kernel cluster-wide parallelism.

    Spark sizes scan tasks by BYTES (spark.sql.files.maxPartitionBytes,
    128 MB): right for I/O-bound scans, starvation for kernels whose
    CPU-per-byte is ~10²-10³× a scan (per-gram hashing, image codecs).
    A 50 MB single-file table arrives as ONE split, so the kernel runs
    on one core of the whole cluster — measured on this suite:
    content_defined_chunks at 10× data ran 13 s on 1 of 32 cores.
    AQE never re-plans a map-only stage, so the operator must fan out
    itself.

    Repartitions (round-robin) to factor × defaultParallelism ONLY
    when the input has fewer partitions than that — on a real
    many-file 100 TB scan the input is already over-split and this is
    a no-op; when it does fire, the shuffle moves exactly the input
    bytes once, which a kernel that costs 100× scan CPU amortizes
    immediately. factor=2 over-splits so one long document / large
    blob can't become the stage straggler.

    The fan-out width is COST-GATED by input bytes, not just
    partition count: target = clamp(ceil(leaf_scan_bytes /
    bytes_per_task), 1, factor × defaultParallelism). The r5 lesson:
    an unconditional factor×par fan-out put a fixed 64-way shuffle
    floor under every kilobyte-scale kernel query (8 sub-second suite
    arms regressed up to 2×) — work that fits one task shouldn't pay
    a cluster-wide scatter. Bytes are read from the plan's LEAF
    relations (unpruned — see _leaf_scan_bytes for why pruned stats
    mislead here); unknown stats estimate as huge and degrade to the
    conservative full fan-out.

    The already-wide check is a BYTES ESTIMATE (leaf_bytes /
    maxPartitionBytes ≈ the scan's own split count), not
    df.rdd.getNumPartitions(): under AQE, .rdd on a non-trivial plan
    (any join/aggregate upstream — e.g. a filter-id semi-join feeding
    a scorer) finalizes the adaptive plan, which EXECUTES every
    intermediate exchange — measured 2.8 s of eager work per call
    site at the sf0.1 ccnet arm, plus a javaToPython conversion and a
    second round of planning. The estimate errs only for many-tiny-
    file scans (true splits > estimate), where the worst case is one
    redundant shuffle bounded by cap × bytes_per_task (~4 MB) — far
    cheaper than eagerly executing upstream stages. Inputs with
    unknown leaf stats (Catalyst's Long.Max default) keep the old
    .rdd probe: they are rare, and blindly repartitioning a possibly-
    petabyte input to cap partitions must stay impossible."""
    sc = df.sparkSession.sparkContext
    cap = sc.defaultParallelism * factor
    per_task = bytes_per_task or _KERNEL_BYTES_PER_TASK
    nbytes = _leaf_scan_bytes(df)
    if nbytes is not None and nbytes < (1 << 60):
        target = max(1, min(cap, -(-nbytes // per_task)))
        try:
            maxpb = int(
                df.sparkSession._jsparkSession.sessionState()
                .conf()
                .filesMaxPartitionBytes()
            )
        except Exception:
            maxpb = 128 << 20
        if -(-nbytes // maxpb) >= target:
            return df
        return df.repartition(target)
    # unknown size: conservative full fan-out, unless the input is
    # already wide (the .rdd probe — may execute AQE stages; this
    # path is the rare exception, never the fixture hot path)
    if df.rdd.getNumPartitions() >= cap:
        return df
    return df.repartition(cap)

"""SparkSession factory tuned for the engine.

Local mode for tests/bench; on a real cluster the same settings apply
minus master/driver-memory (spark-submit provides those).
"""

from __future__ import annotations

import logging
import os
import re

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# This sandbox's VM has a very slow first-touch page-fault path; glibc's
# default 128KB mmap threshold makes every large NumPy temp a fresh
# mmap/munmap pair, crippling the vectorized tokenizer (~100x).  Raising
# the thresholds keeps big buffers in the allocator pool for reuse.
# Harmless (slightly higher RSS) on normal hosts.
os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "2147483648")
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "2147483648")
os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")


def get_spark(
    app_name: str = "golucene_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        m = re.fullmatch(r"local\[(\d+)\]", master)
        shuffle_partitions = max(8, int(m.group(1)) if m else cpus)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # NOTE: this VM advertises 125GB but host-backs only ~14GB at full
        # speed (beyond that, page supply collapses to ~100MB/s).  Keep the
        # total footprint small: modest JVM heap + bounded worker pools.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "10g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "2147483648")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "2147483648")
        # preloading daemon: workers fork AFTER numpy/pandas/pyarrow and
        # the analyzer tables are imported -> shared pages, not 250MB of
        # private RSS per worker (see golucene_spark/daemon.py)
        .config("spark.python.daemon.module", "golucene_spark.daemon")
    )
    # workers import the package (first the daemon module) from its
    # parent directory, wherever the driver was launched from
    conf = dict(extra_conf or {})
    key = "spark.executorEnv.PYTHONPATH"
    conf[key] = os.pathsep.join(filter(None, [_PACKAGE_PARENT, conf.get(key)]))
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def warm_workers(spark: SparkSession, slots: int | None = None) -> float:
    """Pre-warm python workers (imports + analyzer tables + allocator
    pools + gc.freeze) AND the JVM's hot codepaths (whole-stage codegen,
    shuffle machinery, parquet writer/reader, TakeOrderedAndProject).
    Forked pyspark workers pay a heavy, partly serialized cold start on
    this VM (~2-20s each), and the JVM pays JIT compilation of the
    codegen/shuffle/parquet stack on its first heavy job (~2-4s measured:
    an identical build runs 7.6s cold vs 5.1s after one throwaway job) —
    a real cluster pays both once per executor lifetime.  Run this once
    per session before building/benchmarking; returns warmup wall
    seconds."""
    import time as _time

    t0 = _time.time()
    try:
        cores = spark.sparkContext.defaultParallelism
    except Exception:
        cores = 8
    n = slots or max(8, cores) * 3

    def w(batches):
        import gc

        import pandas as _pd
        import pyarrow as _pa

        from golucene_spark.analysis import get_analyzer

        get_analyzer("standard").analyze_batch(["warm up the pools " * 200] * 64)
        gc.freeze()
        for _ in batches:
            pass
        yield _pa.RecordBatch.from_pandas(_pd.DataFrame({"ok": [1]}))

    spark.range(n).repartition(n).mapInArrow(w, "ok long").count()
    try:
        _warm_jvm(spark)
    except Exception:
        # warmup is best-effort; never fail the caller
        log.warning("JVM warm-up failed; continuing cold", exc_info=True)
    return _time.time() - t0


def _warm_jvm(spark: SparkSession) -> None:
    """One throwaway synthetic build + two searches: JIT-compiles the
    exact operator stack the real build/query jobs use (mapInArrow ->
    ObjectHashAggregate collect_list/sort_array -> explode ->
    sortWithinPartitions -> parquet write, then the term-pruned scan ->
    hash-agg -> TakeOrderedAndProject read path) AND faults in the
    steady-state memory working set (JVM shuffle/agg buffers, Arrow
    pools, parquet writer buffers, python-worker heaps).  The size
    matters on this VM: its first-touch page-fault path is slow and
    globally serialized (see the malloc-threshold note above), so the
    FIRST heavy job pays a one-time ~2-5x penalty that a medium-sized
    warm absorbs (measured: a cold 500k-doc build runs 46.8s; after a
    ~48k-doc warm build, 9.7s; the warm build itself is ~4s).  A real
    cluster pays executor warm-up once per executor lifetime.  Pure
    warmup: synthetic input, temp output removed immediately — nothing
    is computed on behalf of later queries.  Tunable via
    GOLUCENE_WARM_DOCS (0 disables)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    n_docs = int(os.environ.get("GOLUCENE_WARM_DOCS", "48000"))
    if n_docs <= 0:
        return
    sc = spark.sparkContext
    d = tempfile.mkdtemp(prefix="golucene_warm_")
    old_desc = None
    try:
        sc.setJobDescription("warmup: jvm codegen/shuffle/parquet/memory")
        from .index import CorpusSpec, IndexBuilder, MaterializedIndex
        from .search import Searcher, parse_query

        base = "warm data join query window hash row table merge scan filter "
        docs = spark.range(n_docs).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit(base * 7), (F.col("id") % 97).cast("string")
            ).alias("text"),
            F.lit("en").alias("lang"),
            F.lit("warm").alias("source"),
        )
        ixdir = os.path.join(d, "ix")
        try:
            nseg = max(8, sc.defaultParallelism)
        except Exception:
            nseg = 8
        IndexBuilder(
            spark, CorpusSpec.documents(), analyzer="standard",
            num_segments=nseg, index_positions=True,
        ).build(docs, ixdir, num_chunks=1)
        ix = MaterializedIndex(spark, ixdir)
        s = Searcher(ix, "bm25")
        s.search(parse_query("text:data OR text:join", default_field="text"), k=5).collect()
        s.search(
            parse_query('text:"data join" AND NOT text:93', default_field="text"), k=5
        ).collect()
        # classic TFIDF compiles its own codegen (norm-decode array) —
        # warm it too, or the first classic query pays the JIT
        Searcher(ix, "classic").search(
            parse_query("text:data", default_field="text"), k=5
        ).collect()
        # remaining distinct plan shapes, one warm search each: the
        # wide-OR map-literal scan, the keyword-field semi-join, and a
        # multiterm expansion (dictionary scan + In-list) — each
        # compiles its own generated code on first execution
        s.search(
            parse_query(" OR ".join(f"text:{t}" for t in
                                    ["data", "join", "query", "window",
                                     "hash", "row", "table", "merge"]),
                        default_field="text"), k=5,
        ).collect()
        s.search(
            parse_query("lang:en AND text:data", default_field="text"), k=5
        ).collect()
        s.search(parse_query("text:dat~1", default_field="text"), k=5).collect()
    finally:
        spark.sparkContext.setJobDescription(old_desc)
        shutil.rmtree(d, ignore_errors=True)

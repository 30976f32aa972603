"""Table loading for the driver-generated synthetic warehouse.

``/root/testdata/sf*/`` holds one parquet file per table (TESTDATA.md).
Loading goes through ``spark.read.parquet`` so Catalyst gets column
pruning + predicate pushdown into the scan for free; nothing is cached
eagerly — at 100 TB the tables don't fit in memory and every query should
prune its own scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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

# Runtime-settable SQL confs the QUERY SEMANTICS depend on. Callers may hand
# us a SparkSession we did not build (the driver's verify harness does), so
# session.py defaults alone are not enough — every query entry point
# (table/register_views) re-asserts these on whatever session it receives.
#   - nanosAsLong: events.ts is parquet TIMESTAMP(NANOS); without this the
#     scan throws PARQUET_TYPE_ILLEGAL.
#   - ansi off: x/0 and invalid casts yield NULL (DuckDB-parity drop-don't-
#     crash semantics); Spark 4 defaults ANSI on.
#   - UTC: timestamp→date/string rendering must not depend on host timezone.
_QUERY_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
}


def ensure_query_confs(spark: SparkSession) -> None:
    """Assert parity-critical runtime confs on a possibly-foreign session.

    Memoized per session (r12 optimization round): every registered
    query's wrapper calls this at build time, and each conf.get is a
    py4j round trip — three per query × hundreds of query builds per
    bench/verify session is seconds of pure driver RPC. Nothing in the
    engine mutates these three confs after assertion (the one scoped
    conf raise, cteRecursionRowLimit, is not among them), so asserting
    once per session is equivalent. Sessions whose attribute store is
    frozen fall back to asserting every call, the previous behavior."""
    cache = _session_cache(spark)
    if cache.get("_query_confs_asserted"):
        return
    for k, v in _QUERY_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            pass  # conf unknown/static in this Spark build; fallbacks below
    if cache is not getattr(spark, _CACHE_ATTR, None):
        return  # frozen session: cache was a throwaway dict, stay unmemoized
    cache["_query_confs_asserted"] = True


# Loaded-DataFrame memo, stored ON the SparkSession object itself (a
# private attribute), keyed by (sf_dir, table, file identity).
# ``spark.read.parquet`` resolves the schema EAGERLY on the driver (file
# listing + footer read, ~40-100 ms per call); every registry query pays it
# 1-3× per build, which across a 282-query bench run is tens of seconds of
# pure duplicated metadata work. A DataFrame is an immutable logical plan,
# so reusing one per session is safe; file identity (mtime_ns, size) in the
# key makes a rewritten fixture miss the cache, same discipline as
# ``_SPREAD_PROBE_CACHE`` below. Execution-time file listing is unaffected
# — a scan still lists its files at planning, so a vanished file fails
# loudly rather than serving a stale plan.
#
# Why an attribute and not a module-level WeakKeyDictionary: the cached
# DataFrames hold ``df.sparkSession``, so a weak-keyed global's VALUES
# would keep its KEYS alive forever — entries for stopped sessions could
# never be collected (round-8's version had exactly that leak). Hanging
# the dict off the session makes the cache's lifetime the session's own:
# the session→dict→DataFrame→session loop is an ordinary reference cycle
# within one object graph, which CPython's cycle collector frees as soon
# as the session itself is unreachable.
_CACHE_ATTR = "_spark_graft_table_cache"


def session_ident(spark: SparkSession) -> str:
    """A string identifying this driver session, usable as a memo key.

    Classic Spark: the applicationId (stable across the app, distinct
    across restarts — exactly the lifetime the per-app fixture memos
    want). Spark Connect exposes no sparkContext, so fall back to the
    client session object's id(): narrower (per client session, not per
    server app) but safe — a memo can only under-share, never serve
    another app's paths."""
    try:
        return spark.sparkContext.applicationId
    except Exception:
        return f"connect-{id(spark)}"


def _session_cache(spark: SparkSession) -> dict:
    cache = getattr(spark, _CACHE_ATTR, None)
    if cache is None:
        cache = {}
        try:
            setattr(spark, _CACHE_ATTR, cache)
        except Exception:
            pass  # attribute-frozen session: behave as cache-miss always
    return cache


# --- Derived-artifact memo accounting (r13 optimization round) -----------
#
# Session-cache entries fall into two classes:
#   * driver METADATA memos (loaded table frames, view registration,
#     conf assertions) — avoiding repeated py4j RPCs, no data computed;
#   * DERIVED artifacts — checkpointed DataFrames computed FROM the
#     warehouse tables (co-supply edge lists, LPA labels, the monthly
#     trend aggregate, the PCA Gram matrix, ...), where the memo
#     amortizes a real Spark job across calls in one session.
# The r12 verdict's finding: bench.py's min-of-3 discarded the one run
# that paid each derived build, so the amortized jobs appeared in no
# recorded timing. Every derived memo therefore registers itself here,
# and bench.py calls clear_derived_memos() before each query's timing
# loop — the first (reported "cold") run recomputes every derived
# artifact from the parquet inputs and is recorded separately from the
# warm min. Module-level caches of computed artifacts (IVF codebook,
# learned BPE merges) register their dicts the same way. Caches of
# *written input fixtures* (lakehouse/source temp tables) stay exempt:
# they are test-harness inputs the query reads, not work the query's
# plan performs, and re-writing temp files inside a timing loop would
# measure the sink, not the plan.

_DERIVED_MEMO_NAMES: set[str] = set()
_DERIVED_MODULE_CACHES: list[dict] = []


def derived_memo_key(name: str, sf_dir: str, tables: tuple = ()) -> tuple:
    """Session-cache key for a derived-artifact memo.

    Registers ``name`` for :func:`clear_derived_memos` and folds the
    file identity of the source tables into the key, so an in-place
    fixture rewrite misses the cache (the ``table()`` / IVF-codebook
    discipline — r12 ADVICE flagged the mk_monthly memo for keying on
    sf_dir alone)."""
    _DERIVED_MEMO_NAMES.add(name)
    ident = []
    for t in tables:
        try:
            ident.append(_file_ident(os.path.join(sf_dir, f"{t}.parquet")))
        except OSError:
            ident.append((t, "absent"))
    return (name, sf_dir, tuple(ident))


def register_derived_cache(d: dict) -> dict:
    """Mark a module-level dict as caching computed artifacts so
    :func:`clear_derived_memos` empties it too."""
    _DERIVED_MODULE_CACHES.append(d)
    return d


def clear_derived_memos(spark: SparkSession) -> None:
    """Drop every derived-artifact memo (session-cache entries named in
    ``_DERIVED_MEMO_NAMES`` plus registered module caches) so the next
    query execution recomputes them from the parquet inputs. Metadata
    memos (table frames, views, confs) are untouched."""
    cache = _session_cache(spark)
    for k in [
        k
        for k in cache
        if isinstance(k, tuple) and k and k[0] in _DERIVED_MEMO_NAMES
    ]:
        del cache[k]
    for d in _DERIVED_MODULE_CACHES:
        d.clear()


def _file_ident(path: str) -> tuple:
    """Identity of a parquet file-or-directory: (path, mtime_ns, size) of
    the path plus — for directories — every descendant, recursively, so
    an in-place rewrite deep inside a partitioned layout
    (tbl.parquet/part=x/file.parquet) changes the identity even when no
    ancestor directory's own mtime moved."""
    st = os.stat(path)
    ident = [(path, st.st_mtime_ns, st.st_size)]
    if os.path.isdir(path):
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for e in sorted(files + dirs):
                fe = os.path.join(root, e)
                try:
                    s = os.stat(fe)
                except OSError:
                    continue  # concurrent compaction — treat as absent
                ident.append((fe, s.st_mtime_ns, s.st_size))
    return tuple(ident)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one warehouse table as a DataFrame (lazy scan)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    ensure_query_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        key = (sf_dir, name, _file_ident(path))
    except OSError:
        key = None  # path missing — let spark.read raise its own error
    if key is not None:
        cached = _session_cache(spark).get(key)
        if cached is not None:
            return cached
    # Fallback if nanosAsLong ever goes static: an explicit schema mapping
    # ts to LongType also bypasses the TIMESTAMP(NANOS) type check.
    if name == "events":
        try:
            df = spark.read.parquet(path)
        except Exception:
            from pyspark.sql.types import (
                DoubleType,
                LongType,
                StringType,
                StructField,
                StructType,
            )

            schema = StructType(
                [
                    StructField("event_id", LongType()),
                    StructField("ts", LongType()),
                    StructField("user_id", LongType()),
                    StructField("event_type", StringType()),
                    StructField("value", DoubleType()),
                    StructField("props", StringType()),
                ]
            )
            df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
    # Normalize events.ts across Spark versions. Spark ≤4.0 honors
    # nanosAsLong (Long ns-since-epoch → integer DIV, since ~1.7e18
    # exceeds double's exact-integer range); Spark 4.1+ reads parquet
    # TIMESTAMP(NANOS) natively as TIMESTAMP_NTZ and ignores the legacy
    # conf. Either way downstream operators see one type — TIMESTAMP —
    # so unix_micros/window arithmetic works and, with the session pinned
    # to UTC, the NTZ wall clock maps to the identical instant DuckDB
    # renders for the same naive parquet value.
    from pyspark.sql.types import LongType, TimestampNTZType

    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if key is not None:
        _session_cache(spark)[key] = df
    return df


# Partition-count probe results, keyed by the scan's input files (path,
# mtime_ns, size). df.rdd.getNumPartitions() forces a full plan→RDD
# translation on the driver (~0.17 s measured) — fine once, wasteful when
# the same scan is probed per query build (this was most of the round-2
# dedup_minhash_lsh bench regression).
_SPREAD_PROBE_CACHE: dict = {}


def spread(df: DataFrame) -> DataFrame:
    """Re-split an under-partitioned input before compute-heavy per-row
    work (hashing, shingling, vectorized UDFs).

    A small single-row-group parquet file scans as ONE partition, which
    serializes CPU-bound operators no matter how many cores exist. When
    the input has fewer partitions than the session's parallelism, pay
    one narrow shuffle to spread it; when the scan is already well-split
    (the 100 TB case — thousands of row groups), this is a no-op, so the
    helper never adds a shuffle at scale.

    The probe itself is memoized per input-file identity: the partition
    count of a file scan only changes when the files (or session
    parallelism) do, both part of the cache key.
    """
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
    except Exception:
        # Spark Connect: no sparkContext on the client, and no RDD API to
        # probe partition counts either. Fall back to the shuffle conf
        # for the target and to input-FILE count as the partition proxy
        # (every file is at least one scan partition, so a many-file scan
        # is never re-shuffled; only the small-single-file case — the one
        # this helper exists for — pays the repartition).
        target = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
        try:
            n_files = len(df.inputFiles())
        except Exception:
            return df  # non-file plan on Connect: leave it alone
        return df.repartition(target) if 0 < n_files < target else df
    key = None
    try:
        files = df.inputFiles()
        if not files:
            # In-memory / JDBC / non-file plans all report zero input
            # files; keying them would collapse every such frame onto
            # one cache entry and serve the wrong partition count.
            key = None
        else:
            ident = []
            for f in files:
                p = f.removeprefix("file:")
                st = os.stat(p)
                ident.append((p, st.st_mtime_ns, st.st_size))
            key = (target, tuple(sorted(ident)))
    except Exception:
        key = None  # non-local / non-file plan — probe uncached
    if key is not None and key in _SPREAD_PROBE_CACHE:
        n = _SPREAD_PROBE_CACHE[key]
    else:
        n = df.rdd.getNumPartitions()
        if key is not None:
            _SPREAD_PROBE_CACHE[key] = n
    return df.repartition(target) if n < target else df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views so ``spark.sql`` queries work.

    Memoized per session on the identity of the ten memoized table
    DataFrames (r12 optimization round — guide §5, driver work): every
    SQL-surface query calls this, and ten createOrReplaceTempView py4j
    round trips cost ~0.1-0.3 s per query execution. The id-tuple key
    makes a switched ``sf_dir`` (or a rewritten fixture file, which
    misses the ``table()`` memo and yields a new DataFrame) re-register
    automatically; every in-repo registration of a canonical name binds
    the same ``table()`` frame, so a memo hit can never serve a stale
    binding."""
    ensure_query_confs(spark)
    dfs = [(name, table(spark, sf_dir, name)) for name in TABLES]
    cache = _session_cache(spark)
    ident = tuple(id(df) for _, df in dfs)
    if cache.get("_views_registered") == ident:
        return
    for name, df in dfs:
        df.createOrReplaceTempView(name)
    cache["_views_registered"] = ident

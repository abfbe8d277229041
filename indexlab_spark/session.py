"""SparkSession factory with scale-oriented defaults.

Local tests run on local[*]; the same configuration is what we would ship
to a 1000-executor cluster — AQE enabled (runtime re-planning, skew-join
splitting, partition coalescing), Arrow for every pandas exchange, and a
shuffle-partition count that callers override per deployment.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

#: Core count the engine may use ($SPARK_GRAFT_CPUS; unset or empty -> 32):
#: the local master's thread count, the default shuffle partition count
#: and the cap on driver-side thread pools (operators.knn).
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or 32)


def get_spark(
    app_name: str = "indexlab_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Settings rationale for 100 TB scale:
    - AQE on: runtime coalescing + skew-join handling make the kNN and
      dedup shuffles robust to key skew without manual salting.
    - ``autoBroadcastJoinThreshold`` left at default: query sets,
      centroid tables and manifests are tiny and broadcast automatically;
      large corpus-corpus joins still shuffle as they must.
    - Arrow on: all mapInPandas/pandas_udf stages (embedding, matmul kNN)
      move data in columnar batches, not pickled rows.
    - Session timezone pinned to UTC so timestamp semantics match the
      DuckDB oracle regardless of host timezone.
    """
    master = master or os.environ.get("SPARK_MASTER", f"local[{CPUS}]")
    sp = shuffle_partitions or CPUS
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # driver testdata writes TIMESTAMP(NANOS) parquet, which Spark
        # rejects by default; read as long and convert in load_tables
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # On readers that ignore nanosAsLong (Spark 4 truncates nanos to
        # micros natively), surface the column as TIMESTAMP (LTZ) at the
        # SCAN instead of TIMESTAMP_NTZ + a post-scan cast: with the UTC
        # session timezone the values are identical, and ts predicates
        # keep reaching PushedFilters (a cast above the scan blocks them).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def normalize_event_ts(df):
    """Normalize a ``ts`` column to TIMESTAMP regardless of how the
    reader surfaced the parquet TIMESTAMP(NANOS): long nanos (legacy
    nanosAsLong honored) integer-divide to micros; TIMESTAMP_NTZ casts
    (an exact reinterpretation under the pinned UTC session timezone).
    Shared by the batch loader below and streaming.read_events_stream —
    the two paths must stay identical (the TIMESTAMP_NTZ fix had to
    land in both when they were separate copies).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for f in df.schema.fields:
        if f.name == "ts" and isinstance(f.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif f.name == "ts" and isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def pin_reader_confs(spark: SparkSession) -> None:
    """Pin the runtime-settable confs that oracle parity depends on —
    see load_tables for the contract note; callers building streams
    outside load_tables need the same pins."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


#: Lazy-DataFrame memo for load_tables, keyed per live SparkSession
#: (weakly — a stopped/collected session drops its entries) and per
#: (path, mtime_ns). This caches the ANALYZED PLAN only — file listing,
#: parquet footer/schema read, and the ts-normalization projection —
#: never data: every action on the returned frame still scans parquet.
#: Rationale (r16 optimization, guide §6 "listing/planning time on the
#: driver"): a repeated spark.read.parquet of the same table costs
#: ~0.12-0.16s of driver-side work, and the bench/correctness flows
#: call load_tables once per query (181 timed queries x 1-3 tables
#: ~= 30-60s of pure re-planning per suite). mtime in the key keeps
#: rewritten test fixtures correct (a new write -> new entry); entries
#: are bounded per session and cleared wholesale past the bound.
_TABLE_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)
_TABLE_MEMO_MAX = 64


def _table_mtime_ns(path: str) -> int:
    """Invalidation key for a parquet table path. For directory-style
    tables the top-level mtime only changes when an entry is added or
    removed — rewriting a part file IN PLACE (same name) leaves it
    untouched, which would serve a stale analyzed plan (snapshotted
    file listing/sizes). Key on the max mtime_ns across the directory's
    entries as well (r17, ADVICE)."""
    try:
        st = os.stat(path)
    except OSError:
        return -1
    mt = st.st_mtime_ns
    try:
        with os.scandir(path) as it:
            for e in it:
                try:
                    emt = e.stat().st_mtime_ns
                except OSError:
                    continue
                if emt > mt:
                    mt = emt
    except (NotADirectoryError, OSError):
        pass
    return mt


def _memo_table(spark: SparkSession, sf_dir: str, name: str):
    path = f"{sf_dir}/{name}.parquet"
    mt = _table_mtime_ns(path)
    try:
        per = _TABLE_MEMO.setdefault(spark, {})
    except TypeError:  # session type not weakref-able: skip the memo
        return normalize_event_ts(spark.read.parquet(path))
    key = (path, mt)
    df = per.get(key)
    if df is None:
        df = normalize_event_ts(spark.read.parquet(path))
        stale = [k for k in per if k[0] == path and k != key]
        for k in stale:
            del per[k]
        if len(per) >= _TABLE_MEMO_MAX:
            per.clear()
        per[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Register the driver's parquet tables as temp views and return them.

    Tables: region nation customer supplier part orders lineitem events
    documents embeddings (TESTDATA.md).
    """
    names = names or (
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
    # The harness (or any external caller) may hand us a session that was
    # built without get_spark's builder confs; all three confs are
    # runtime-settable, so pin them here so correctness never depends on
    # who built the session. NOTE (public API contract): this mutates the
    # caller's session config for the rest of the session — UTC session
    # timezone and LTZ parquet timestamp inference are load-bearing for
    # oracle parity, and a caller running its own non-UTC timestamp logic
    # on the same session must re-set these afterwards.
    pin_reader_confs(spark)

    out = {}
    for n in names:
        df = _memo_table(spark, sf_dir, n)
        df.createOrReplaceTempView(n)
        out[n] = df
    return out

"""Parquet source for the driver fixture tables (TESTDATA.md).

Plain ``spark.read.parquet`` — predicate pushdown, column pruning and
partition pruning are Catalyst's job; nothing custom needed. At 100 TB these
reads are expected to hit a partitioned/ bucketed lakehouse layout; the API
here stays the same.

Schema cache: ``spark.read.parquet(path)`` without a schema runs one Spark
job per call to read the file's footer, so a query build that loads three
tables would run three jobs of pure planning overhead each time it is
built. ``load_table`` therefore infers each file's schema once per session
and reads every later load of it as ``spark.read.schema(cached).parquet(path)``,
which launches no job. The entry for a path records the file's identity —
inode, mtime (ns) and size, from the one ``os.stat`` each load makes — and
the ``SparkSession`` that inferred it (the ``memo.py`` rule): a file
replaced or rewritten at the same path, or a load in another session,
infers again. This is a correctness property, not tuning: with a
user-supplied schema Spark does not check that its columns exist in the
file, so a stale schema would silently read nulls or miss a new column.
Directory-backed tables are never cached (a file changing inside a
directory leaves the directory's own stat alone).

Small-input fan-out (round 7, re-gated in round 8): the fixture files are
single-row-group parquet, so Spark's byte-range splitting cannot parallelize
the scan — every row lands in ONE task and all pre-shuffle map work
(tokenize/shingle/hash/partial aggregation) runs on one core of ``local[N]``
(guide §2.5 "input skew: one huge unsplittable file"). Round 7 fanned out
EVERY small scan; measured at c32/sf0.1 that was a net pessimization (the
round-robin Exchange + its sort-before-repartition cost ~0.3–0.7 s per
query on ~250 queries whose whole runtime was one scan task; full-bench A/B:
390.3 s fan-everything vs 300.0 s fan-nothing, geomean 0.67×). The fan-out
only PAYS where the per-row map work dominates the scan — the text and
embedding roots (tokenize/shingle/BPE/per-dimension explode): without it
``emb_silhouette_by_label`` is 5.1× slower, ``bpe_compression_curve`` 2.2×,
``text_fingerprint`` 1.9×. Round 8 therefore gates the fan-out to those
tables (``_FANOUT_TABLES``: documents, embeddings) — guide §2.5 applies to
compute-bound unsplittable scans, not to every scan. When a table is big
enough to yield >= defaultParallelism splits at
``spark.sql.files.maxPartitionBytes``, the fan-out is skipped entirely, so
at production scale this is a no-op and no large table is ever re-shuffled.
Filters and column pruning still reach the parquet scan — Catalyst pushes
both through a keyless Repartition (asserted by
tests/test_physical_plans.py::test_fanout_scan_keeps_pushdown).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TPCH_TABLES = (
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

# Tables whose scans feed heavy per-row compute (tokenize/shingle/BPE /
# per-dimension explode) — the only scans where a small-input fan-out is a
# measured win (see module docstring). Everything else reads un-reshuffled.
_FANOUT_TABLES = frozenset({"documents", "embeddings"})

# path -> ((st_ino, st_mtime_ns, st_size), owning session, inferred schema);
# one entry per path, replaced when the file or the session changes. Only
# regular files are cached: a directory's own stat does not change when a
# file inside it does.
_SCHEMAS: dict[str, tuple[tuple[int, int, int], SparkSession, T.StructType]] = {}


def _input_bytes(path: str, st: os.stat_result | None) -> int:
    """Best-effort local size of a parquet file or directory-backed table,
    given the path's ``os.stat`` (None when it failed). A directory's own
    inode size is meaningless (ADVICE r7) — sum the data files inside
    instead; unreadable/remote paths report 0 ("unknown", which disables the
    fan-out: never reshuffle a table we cannot prove small)."""
    if st is None:
        return 0
    if stat.S_ISREG(st.st_mode):
        return st.st_size
    if not stat.S_ISDIR(st.st_mode):
        return 0
    try:
        return sum(
            entry.stat().st_size
            for entry in os.scandir(path)
            if entry.is_file() and not entry.name.startswith(("_", "."))
        )
    except OSError:
        return 0


def _max_split_bytes(spark: SparkSession) -> int:
    """``spark.sql.files.maxPartitionBytes`` in bytes, tolerating size
    suffixes like ``128m`` (ADVICE r7: a bare int() crashed on them)."""
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    try:
        return int(raw)
    except ValueError:
        try:
            return int(
                spark.sparkContext._jvm.org.apache.spark.network.util
                .JavaUtils.byteStringAsBytes(raw)
            )
        except Exception:
            return 134217728


def _scan_fanout(spark: SparkSession, path: str, st: os.stat_result | None) -> int:
    """Target partition count for a small compute-bound scan, or 0 for
    "leave the scan's own splits alone".

    Scale-adaptive (guide §2): derived from the input size, not a constant.
    A table that already yields >= defaultParallelism scan splits at
    ``spark.sql.files.maxPartitionBytes`` parallelizes by itself — return 0
    and add no exchange (the production / 100 TB path). Only when the scan
    would otherwise run on fewer cores than the session has (here: tiny
    single-row-group fixtures) do we fan out to the session's parallelism.
    Unknown sizes return 0."""
    size = _input_bytes(path, st)
    if size <= 0:
        return 0
    max_split = _max_split_bytes(spark)
    cores = spark.sparkContext.defaultParallelism
    est_splits = (size + max_split - 1) // max_split
    if est_splits >= cores:
        return 0
    return cores


def _read(spark: SparkSession, path: str, fanout: bool) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema taken from the cache
    when this session already inferred it for the same file, plus the
    gated small-scan fan-out. One ``os.stat`` serves both."""
    try:
        st = os.stat(path)
    except OSError:
        st = None  # not local: Spark reads (or rejects) it, nothing cached
    ident = (
        (st.st_ino, st.st_mtime_ns, st.st_size)
        if st is not None and stat.S_ISREG(st.st_mode)
        else None
    )
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == ident and hit[1] is spark:
        df = spark.read.schema(hit[2]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if ident is not None:
            _SCHEMAS[path] = (ident, spark, df.schema)
    fan = _scan_fanout(spark, path, st) if fanout else 0
    return df.repartition(fan) if fan else df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fanout: bool | None = None
) -> DataFrame:
    """Load one fixture table. The first load of a file in a session infers
    its schema (one Spark job reading the parquet footer); every later load
    of the unchanged file reads with that schema and launches no job. A
    file rewritten in place gets a new mtime/size (or inode) and is
    inferred again; so is every file in a new session.

    ``fanout=None`` (default) fans out only the compute-root tables in
    ``_FANOUT_TABLES``; pass True/False to override per call site (e.g. a
    metadata-only read of documents)."""
    if fanout is None:
        fanout = name in _FANOUT_TABLES
    if name != "events":
        return _read(spark, f"{sf_dir}/{name}.parquet", fanout)
    # Downstream window/join logic works on integer nanoseconds
    # (timezone-proof, exact). The fixture's physical type has varied
    # across fixture generations — TIMESTAMP(NANOS) (rejected by the
    # vectorized reader; surfaces as int64 under nanosAsLong) or
    # TIMESTAMP(MICROS) (surfaces as timestamp / timestamp_ntz) — so
    # normalize every variant to int64 epoch-nanos here, in one place.
    # The conf is set before the read, so a cached schema is one inferred
    # under it.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read(spark, f"{sf_dir}/{name}.parquet", fanout)
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df  # already int64 nanos
    if isinstance(ts_type, T.TimestampNTZType):
        # timestampdiff over two NTZ operands never consults the session
        # timezone — naive value interpreted as-is, matching DuckDB's
        # epoch_us() over a naive timestamp.
        micros = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
    else:  # TimestampType: parquet stores UTC micros; unix_micros is exact
        micros = F.unix_micros(F.col("ts"))
    return df.withColumn("ts", (micros * F.lit(1000)).cast("long"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table and register temp views under their names."""
    out: dict[str, DataFrame] = {}
    for name in TPCH_TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out

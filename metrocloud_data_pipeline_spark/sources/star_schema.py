"""Parquet star-schema source (the driver's /root/testdata tables).

`events` plays the reference's `sensor_readings` hypertable
(user_id<->device_id, event_type<->device_type, ts, value,
props<->device_metadata JSON) per FIXTURES.md §4; TPC-H-ish tables
exercise the join/aggregate surface at bench scale.

At cluster scale these reads are partition-pruned, filter-pushed parquet
scans; nothing here materializes or caches rows.

`load` memoizes the DataFrame it builds (the lazy scan and its
timestamp normalization, not data), one entry per (SparkSession,
absolute path). Building it runs a schema-inference Spark job and a
re-analysis, and every fresh read gets new attribute IDs, which can
reorder a plan's expressions (the distinct-aggregate Expand of
`dq_profile_events`) and so miss the codegen cache
(`session.CODEGEN_CACHE_MAX_ENTRIES`). With the memo, a repeated query,
such as a dashboard refresh, reuses both the scan and its compiled code.

Invalidation contract: an entry is reused only while the table's file
stamp is unchanged. For a single file the stamp is its path, size,
mtime and inode; for a directory it is the recursive listing (relative
path, size, mtime and inode of every entry). Rewriting, replacing,
adding or removing a file therefore gives a fresh read on the next
call. A path that is not on the local filesystem has no stamp and is
read on every call, as is a missing one (which raises, as before).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

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

# Small dimensions that should always broadcast in joins.
DIM_TABLES = frozenset({"region", "nation", "customer", "supplier", "part"})


# (SparkSession, absolute path) -> (file stamp, DataFrame); see the
# module docstring for the invalidation contract. Unlocked: threads
# that miss together each read, both frames are correct, and the later
# store wins. Entries live as long as the process.
_SCANS: dict[tuple[SparkSession, str], tuple[tuple, DataFrame]] = {}


def _file_stamp(path: str) -> tuple | None:
    """The memo's view of an absolute `path`; None when nothing is there
    on the local filesystem, or an entry vanished while it was listed."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return (st.st_size, st.st_mtime_ns, st.st_ino)
        listing = []
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for entry in sorted(dirs + files):
                full = os.path.join(root, entry)
                st = os.stat(full)
                listing.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns, st.st_ino))
        return tuple(listing)
    except OSError:
        return None


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one star-schema table as a DataFrame (lazy parquet scan).

    Repeated calls for an unchanged table in the same session return the
    same DataFrame and start no Spark job (module docstring)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    local = os.path.abspath(path)
    key = (spark, local)
    stamp = _file_stamp(local)
    hit = _SCANS.get(key)
    if stamp is not None and hit is not None and hit[0] == stamp:
        return hit[1]
    df = _read(spark, path, name)
    if stamp is not None:
        _SCANS[key] = (stamp, df)
    return df


def _read(spark: SparkSession, path: str, name: str) -> DataFrame:
    df = spark.read.parquet(path)
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # TIMESTAMP(NANOS) surfaced as long nanos: truncate to micros
        # (DuckDB's ns->us conversion also truncates).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # timestamp[us] written without a timezone reads as TIMESTAMP_NTZ,
    # which unix_micros/date filters reject or misplan. The session TZ
    # is pinned to UTC (session.tune), so casting is an exact
    # relabeling. Applied to every table: the round-3 testdata drift hit
    # events.ts, but orders/lineitem date columns can drift identically.
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql access."""
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)

"""Scale-adaptive partitioning helpers.

The local bench reads single-file parquet tables that plan as ONE scan
split, so a map-only Python kernel downstream of such a scan runs on
one core no matter how many the session has. At production scale the
same scan has thousands of splits and needs nothing. `fan_out_scan`
closes that gap the way the optimization guide prescribes (§2: derive
partitioning from the input, never a constant tuned for one mode): it
inspects the frame's ACTUAL planned partitioning and round-robins it
up to the session's parallelism only when the scan is narrower — a
no-op exchange-free pass-through on any input already wide enough, so
a 100 TB corpus never pays the extra shuffle.

r16 (VERDICT r15 #2): the width is SIZE-AWARE, not just core-count-
aware. Fanning a tiny frame to the full session parallelism loses to
per-task overhead — the r15 sweep measured three such reverts, and the
r16 isolated ladder put the tone-synth consumers at 0.76-0.81 s at
width 8-16 vs 0.90-1.07 s at width 32 and 1.5-2.0 s unfanned. Callers
whose per-row kernel cost is modest pass `rows_per_task`; the width
then scales with the ESTIMATED input rows (plan-stats sizeInBytes over
a schema-derived row width — within ~4x locally, exact enough for a
power-of-two width choice) and grows with the data until the
parallelism cap, preserving the at-scale no-op property.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_log = logging.getLogger(__name__)

# Catalyst-style per-type default sizes (EstimationUtils.getSizePerRow:
# 8 bytes of row overhead + each field's defaultSize). Only used to turn
# a plan-stats byte estimate into a row estimate; precision is not the
# point — the width decision is logarithmic in this number.
_FIXED = {
    T.LongType: 8,
    T.DoubleType: 8,
    T.IntegerType: 4,
    T.FloatType: 4,
    T.ShortType: 2,
    T.ByteType: 1,
    T.BooleanType: 1,
    T.TimestampType: 8,
    T.DateType: 4,
    T.StringType: 20,
    T.BinaryType: 100,
}


def _field_width(dt: T.DataType) -> int:
    for cls, w in _FIXED.items():
        if isinstance(dt, cls):
            return w
    if isinstance(dt, T.DecimalType):
        return 16
    if isinstance(dt, T.ArrayType):
        return _field_width(dt.elementType)
    if isinstance(dt, T.StructType):
        return sum(_field_width(f.dataType) for f in dt.fields)
    if isinstance(dt, T.MapType):
        return _field_width(dt.keyType) + _field_width(dt.valueType)
    return 20


def _estimated_rows(df: DataFrame) -> int | None:
    """Row estimate from the optimized plan's statistics: rowCount when
    the plan carries one, else sizeInBytes / schema row width. Returns
    None, with a warning naming the reason, when stats are unavailable:
    reading them raised, or a leaf of the plan reports Catalyst's
    unknown-size default (`spark.sql.defaultSizeInBytes`, e.g. a frame
    built from local Python rows) — every estimate above it is that
    placeholder scaled, and would pose as a real count. Callers then
    fall back to their unsized default (the plain parallelism target,
    no free broadcast proof, one IVF block)."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        unknown = df.sparkSession._jsparkSession.sessionState().conf().defaultSizeInBytes()
        leaves = plan.collectLeaves()
        if all(int(leaves.apply(i).stats().sizeInBytes()) < unknown for i in range(leaves.size())):
            stats = plan.stats()
            rc = stats.rowCount()
            if rc.isDefined():
                return int(rc.get())
            width = 8 + sum(_field_width(f.dataType) for f in df.schema.fields)
            return max(1, int(stats.sizeInBytes()) // max(width, 1))
        reason = "a plan leaf has no size estimate"
    except Exception as exc:
        first_line = (str(exc).strip().splitlines() or [""])[0]
        reason = f"{type(exc).__name__}: {first_line}"
    _log.warning(
        "plan statistics unavailable (%s); the row estimate falls back to "
        "its unsized default", reason,
    )
    return None


def fan_out_scan(
    df: DataFrame,
    min_partitions: int | None = None,
    rows_per_task: int | None = None,
) -> DataFrame:
    """Round-robin `df` up to the session default parallelism iff its
    planned partitioning is narrower. Row-content preserving; used
    immediately before per-row-independent Arrow kernels.

    `rows_per_task` caps the width at ceil(estimated_rows /
    rows_per_task): a caller-supplied per-row-cost class that keeps a
    tiny local frame from paying 32-way per-task overhead while still
    growing the width linearly with the data (scale-adaptive, never a
    local constant). The estimate comes from plan statistics — see
    `_estimated_rows`."""
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if rows_per_task:
        est = _estimated_rows(df)
        if est is not None:
            target = min(target, max(1, -(-est // rows_per_task)))
    # df.rdd forces plan conversion at build time; acceptable here (the
    # frames fanned are scan-rooted projections) and the only reliable
    # pre-execution view of the PLANNED partition count under AQE.
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)

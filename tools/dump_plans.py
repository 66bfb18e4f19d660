"""Generate PLANS.md: physical-plan properties of the headline queries.

Evidence artifact for plan-quality review: per query, the join
strategies chosen, exchange (shuffle) count, whether filters reached
the parquet scan, and whole-stage-codegen span count. Run after plan-
affecting changes:

    python tools/dump_plans.py          # writes PLANS.md at repo root
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF = "/root/testdata/sf0.001"

JOIN_NODES = [
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
]


# Arrow/pandas operators: each one ships its input rows to Python workers
PYTHON_NODES = (
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
)


def plan_string(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def summarize(plan: str) -> dict:
    # formatted explain prints each operator twice (tree + numbered
    # detail block); count only the "(N) OperatorName" detail headers
    ops = re.findall(r"^\(\d+\) ([A-Za-z]+)", plan, re.M)
    joins: dict[str, int] = {}
    for node in JOIN_NODES:
        n = sum(1 for o in ops if o == node)
        if n:
            joins[node] = n
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    scans_with_filters = sum(1 for p in pushed if p.strip())
    return {
        "joins": joins,
        "exchanges": sum(1 for o in ops if o == "Exchange"),
        "scans": sum(1 for o in ops if o == "Scan"),
        "pushed_scans": scans_with_filters,
        "codegen_spans": len(set(re.findall(r"codegen id : (\d+)", plan))),
        "python_stages": sum(
            1 for o in ops if o in PYTHON_NODES
        ),
    }


def main() -> None:
    from bench import HEADLINE
    from metrocloud_data_pipeline_spark.queries import get_queries
    from metrocloud_data_pipeline_spark.session import get_spark

    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = get_queries()

    def build(name):
        df = qs[name](spark, SF)  # query wrappers re-enable AQE via tune()
        # report the static plan: under AQE the pre-execution plan hides
        # codegen ids behind AdaptiveSparkPlan(isFinalPlan=false); the
        # runtime may still coalesce partitions / split skew on top
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        return df

    lines = [
        "# PLANS — physical-plan properties of the headline suite",
        "",
        "Generated by `python tools/dump_plans.py` (plans are scale-independent;",
        "AQE may further coalesce/convert at runtime). Columns: join operators",
        "chosen by Catalyst, shuffle exchange count, parquet scans with at least",
        "one pushed filter / total scans, whole-stage-codegen span count, and",
        "Arrow/Python stages (the deliberate pandas-UDF paths).",
        "",
        "NOTE: queries whose builders localCheckpoint an intermediate",
        "(a16_mad_outliers' med-joined frame, dedup_incremental_jaccard /",
        "dedup_embed_semdedup's candidate sets, tfidf/surprisal tf frames)",
        "report only the plan DOWNSTREAM of the checkpoint — the table",
        "understates their true scan/join/exchange counts by the",
        "checkpointed prefix, which executed eagerly at build time. The",
        "docstrings carry the full-pipeline shape.",
        "",
        "| query | joins | exchanges | pushed/scans | codegen | python |",
        "|---|---|---|---|---|---|",
    ]
    # oracle-checked queries that are deliberately not benched (see the
    # HEADLINE absence notes in bench.py) but whose plan shape still
    # deserves review
    extra = [
        "ivfpq_recall_report",
        "dedup_keep_best",
        "dedup_incremental_jaccard",
        "ccnet_perplexity_buckets_exact_dist",
        "a13_daily_from_hourly",
        "q3_top3_per_device",
        "embed_quantize_stats",
        "split_leakage_report",
        "dq_profile_events",
        "obs_hot_keys",
        "text_length_histogram",
        "a14_sliding_monitor",
        "w4b_sessions_native",
        "f7_devices_gone_quiet",
        "f8_devices_in_both_windows",
        "a15_grouping_sets",
        "w7_locf_fill",
        "a16_mad_outliers",
        "a17_diurnal_profile",
        "a18_seasonal_deviation",
    ]
    for name in HEADLINE + [x for x in extra if x not in HEADLINE]:
        s = summarize(plan_string(build(name)))
        joins = ", ".join(f"{k}×{v}" if v > 1 else k for k, v in s["joins"].items()) or "—"
        lines.append(
            f"| {name} | {joins} | {s['exchanges']} | "
            f"{s['pushed_scans']}/{s['scans']} | {s['codegen_spans']} | {s['python_stages']} |"
        )
    lines.append("")
    Path(__file__).resolve().parent.parent.joinpath("PLANS.md").write_text("\n".join(lines))
    print("\n".join(lines))


if __name__ == "__main__":
    main()

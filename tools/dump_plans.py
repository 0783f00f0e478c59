"""Regenerate PLANS.md: formatted physical plans for the headline queries.

Usage: python tools/dump_plans.py [sf_dir]   (default /root/testdata/sf0.1)

The plans are the evidence for the scale claims in operator docstrings
(shuffle counts, broadcasts, pushdown, single-pass pipelines); the
pinned assertions live in tests/test_plans.py — this file is the
human-readable companion.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import ALL_QUERIES, HEADLINE  # noqa: E402
from wwwision_importservice_spark.session import get_spark  # noqa: E402

QUERIES = ALL_QUERIES


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("dump-plans")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        f"Generated by `python tools/dump_plans.py {sf_dir}`. The tree is",
        "Spark's `formatted` explain (AQE plans may improve further at",
        "runtime: broadcast conversion, partition coalescing, skew splits).",
        "Plan-shape assertions are pinned in `tests/test_plans.py`.",
        "",
    ]
    for name in HEADLINE:
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(mode)
        tree = plan.split("\n\n")[0]
        exchanges = len(re.findall(r"\bExchange\b", tree)) - len(
            re.findall(r"\bReusedExchange\b", tree)
        )
        broadcasts = len(re.findall(r"Broadcast\w*Join", tree))
        scans = tree.count("Scan parquet")
        out += [
            f"## {name}",
            "",
            f"shuffle exchanges: {exchanges} · broadcast joins: {broadcasts} · parquet scans: {scans}",
            "",
            "```",
            tree,
            "```",
            "",
        ]
    out += bucketed_sync_section(spark)
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print(f"PLANS.md written ({len(HEADLINE)} queries + bucketed sync)")


def bucketed_sync_section(spark) -> list[str]:
    """The repeated-sync shape: diff against a BucketedParquetTarget.
    The target side reads pre-distributed on the key, so the full-outer
    join needs NO target-side exchange — only the source side shuffles.
    (The default full-outer can never broadcast: BroadcastHashJoinExec
    doesn't support FULL OUTER, pinned in tests/test_plans.py.)"""
    import re
    import tempfile

    from wwwision_importservice_spark.operators.diff import compute_changes
    from wwwision_importservice_spark.record import RecordFrame
    from wwwision_importservice_spark.sinks.bucketed import BucketedParquetTarget

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    with tempfile.TemporaryDirectory() as tmp:
        target = BucketedParquetTarget(
            f"{tmp}/state", table_name="plans_bucketed_demo", n_buckets=32
        )
        try:
            seed = RecordFrame.from_keyed(
                spark.createDataFrame(
                    [(str(i), 1, "p") for i in range(1000)],
                    "_id string, _version long, payload string",
                )
            )
            target.apply(
                spark,
                compute_changes(
                    seed.df, target.current_state(spark),
                    local_id_col="id", local_version_col="version",
                ),
            )
            src = RecordFrame.from_keyed(
                spark.createDataFrame(
                    [(str(i), 2, "q") for i in range(500, 1500)],
                    "_id string, _version long, payload string",
                )
            )
            cdc = compute_changes(
                src.df, target.current_state(spark),
                local_id_col="id", local_version_col="version",
            )
            plan = cdc._jdf.queryExecution().explainString(mode)
            tree = plan.split("\n\n")[0]
            exchanges = len(re.findall(r"\bExchange\b", tree)) - len(
                re.findall(r"\bReusedExchange\b", tree)
            )
            return [
                "## bucketed-target sync (repeated-sync shape)",
                "",
                "Diff against a `BucketedParquetTarget` (bucketBy on the key):",
                "the target scan arrives pre-distributed, so the full-outer",
                f"join plans with exchanges on the SOURCE side only — {exchanges}",
                "total exchange(s), zero under the bucketed scan. At a 100 TB",
                "target this removes the dominant per-run shuffle (FULL OUTER",
                "can never broadcast — BroadcastHashJoinExec limitation).",
                "",
                "```",
                tree,
                "```",
                "",
            ]
        finally:
            target.remove_all(spark)


if __name__ == "__main__":
    main()

"""Capture .explain("formatted") for every ER-pipeline stage DataFrame
that an uncheckpointed ``run_pipeline(spark, pages, PipelineConfig())``
returns (each is pinned in memory, so its plan is the stage's build plan,
not a checkpoint re-read), and optionally for ``__spark_entry__.queries()``
entries.

Usage: python tools/capture_pipeline_plans.py <suffix> [sf_dir] [--queries q1,q2,...]
Runs at local[<cores>] with 2 x cores shuffle partitions, like perfbench.
The pages are materialized under
/tmp/yams_plans_pages_<sf>_<session.package_fingerprint()>.
Writes plans/r06/er_pipeline_<stage>_<suffix>.txt, plus
plans/r06/<query>_<suffix>.txt for each query named by --queries.
Timings come from perfbench (``perfbench/run.py --trace 1``), not from here.
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


#: (plan file name, run_pipeline output key), in stage order
STAGE_TABLES = [
    ("sign", "signatures"), ("block", "blocks"), ("pair", "pairs"),
    ("score", "scored_pairs"), ("cluster_groups", "clusters"),
    ("cluster_members", "members"),
]


def explain_str(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def main() -> None:
    query_names: list[str] = []
    if "--queries" in sys.argv:
        i = sys.argv.index("--queries")
        query_names = sys.argv[i + 1].split(",")
        del sys.argv[i:i + 2]
    suffix = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
    from yams_spark.session import get_spark, package_fingerprint
    from yams_spark.sources.pages import materialize_pages
    from yams_spark.plans.er_pipeline import PipelineConfig, run_pipeline

    cores = len(os.sched_getaffinity(0))  # the host's cores, as perfbench
    spark = get_spark(app_name="plan_capture", master=f"local[{cores}]",
                      shuffle_partitions=2 * cores)
    # keyed by the package sources too: pages written by other code (say,
    # a checkout before a sources/pages.py edit) are never reused
    pages_dir = f"/tmp/yams_plans_pages_{os.path.basename(sf_dir)}_{package_fingerprint()}"
    pages, _ = materialize_pages(spark, sf_dir, pages_dir)

    out_dir = os.path.join(_REPO, "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)

    def dump(name, df, prefix="er_pipeline_"):
        with open(os.path.join(out_dir, f"{prefix}{name}_{suffix}.txt"), "w") as f:
            f.write(explain_str(df))
        print("wrote", name)

    out = run_pipeline(spark, pages, PipelineConfig())
    for name, key in STAGE_TABLES:
        dump(name, out[key])

    if query_names:
        import __spark_entry__

        qs = __spark_entry__.queries()
        for name in query_names:
            dump(name, qs[name](spark, sf_dir), prefix="")
    spark.stop()


if __name__ == "__main__":
    main()

"""spark-submit entry point for the KG pipeline (BASELINE.json north_rule:
"run via spark-submit --py-files on a multi-executor cluster").

Usage:
    # from the repository root
    zip -qr /tmp/shacl_validator_spark.zip shacl_validator_spark
    spark-submit --master 'local-cluster[2,1,4096]' \
        --conf spark.executor.memory=3g \
        --py-files /tmp/shacl_validator_spark.zip \
        tools/submit_pipeline.py <n_pages> <out_dir>

The --py-files zip is what ships the package to executors on a real
cluster; everything else is the same `run_pipeline` the tests and benches
drive.  Prints one JSON line with wall, stage seconds, and counts.
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import SparkSession


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/kg_submit_out"

    spark = SparkSession.builder.appName("kg-pipeline-submit").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from shacl_validator_spark.plans.pipeline import run_pipeline
    from shacl_validator_spark.sources.pages import synthesize_pages

    pages_dir = f"{out_dir}/pages"
    synthesize_pages(spark, n_pages, filler_sentences=24, fact_density=0.3).write.mode(
        "overwrite"
    ).parquet(pages_dir)
    pages = spark.read.parquet(pages_dir)

    t0 = time.time()
    res = run_pipeline(spark, pages, out_dir, n_groups=2, resume=True)
    wall = time.time() - t0
    print(
        json.dumps(
            {
                "n_pages": n_pages,
                "wall_sec": round(wall, 2),
                "stages": res.stage_seconds,
                "triples_in": res.triples_in,
                "triples_valid": res.triples_valid,
                "violations": res.violations,
                "merged": res.merged,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

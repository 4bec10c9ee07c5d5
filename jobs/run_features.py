#!/usr/bin/env python
"""Cluster job entrypoint (spark-submit target).

Run the engine's queries on a cluster:

    spark-submit --py-files tscan_spark.zip jobs/run_features.py \
        --sf-dir s3://bucket/corpus --queries tscan_doc_features,doc_mtld \
        --output s3://bucket/out [--checkpoint s3://bucket/ckpt]

- No ``master()`` is set here: spark-submit / the cluster manager owns
  deployment (local[k] for smoke tests, YARN/K8s in production).
- With ``--checkpoint`` the write goes through the resumable bucketed
  runner (operators/checkpoint.py): per-partition lineage + metrics,
  safe re-run after a mid-job kill.
- ``--list`` prints every registered query and exits.

Build the --py-files archive with ``python tools/make_pyfiles.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# On a cluster the package arrives via --py-files; for local smoke runs
# (python jobs/run_features.py) fall back to the repo root.
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if os.path.isdir(os.path.join(_REPO, "tscan_spark")) and _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=False, default="/root/testdata/sf0.001")
    ap.add_argument("--queries", default="tscan_doc_features")
    ap.add_argument("--output", default=None, help="parquet output root (per query subdir)")
    ap.add_argument("--checkpoint", default=None, help="resumable-run checkpoint root")
    ap.add_argument("--list", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from tscan_spark.registry import QUERIES
    from tscan_spark.session import BUILDER_CONF, tune

    if args.list:
        for name in QUERIES:
            print(name)
        return 0

    spark = SparkSession.builder.appName("tscan_spark_job").config(map=BUILDER_CONF).getOrCreate()
    tune(spark)
    spark.sparkContext.setLogLevel("WARN")

    metrics = {}
    for name in [q for q in args.queries.split(",") if q]:
        if name not in QUERIES:
            print(f"unknown query: {name}", file=sys.stderr)
            return 2
        t0 = time.time()
        df = QUERIES[name](spark, args.sf_dir)
        if args.output and args.checkpoint:
            from tscan_spark.operators.checkpoint import run_checkpointed

            key = df.columns[0]
            run_checkpointed(
                df,
                f"{args.output}/{name}",
                key_col=key,
                lineage_dir=f"{args.checkpoint}/{name}",
            )
            n = spark.read.parquet(f"{args.output}/{name}").count()
        elif args.output:
            # Observation: metrics collected DURING the write action —
            # no second read-back pass over the output
            from pyspark.sql import Observation
            from pyspark.sql import functions as F

            obs = Observation(f"metrics_{name}")
            df.observe(obs, F.count(F.lit(1)).alias("rows_out")).write.mode(
                "overwrite"
            ).parquet(f"{args.output}/{name}")
            n = obs.get["rows_out"]
        else:
            n = df.count()
        metrics[name] = {"rows": n, "sec": round(time.time() - t0, 3)}
        print(f"# {name}: {n} rows in {metrics[name]['sec']}s", file=sys.stderr)

    print(json.dumps({"job": "tscan_spark", "queries": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Dump .explain('formatted') for named queries to plans/<tag>/<name>_<when>.txt.

Usage: python3 scripts/dump_plans.py <tag> <when> [query ...]
  tag   e.g. r09  (output dir plans/r09/)
  when  'before' or 'after'
  query names default to the bench headline set.

Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
"""
from __future__ import annotations

import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from bench import BENCH_QUERIES  # noqa: E402


def main() -> None:
    tag, when = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or BENCH_QUERIES
    out_dir = os.path.join(REPO_ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    from pdfspark.pipeline import build_session
    from pdfspark.queries import QUERIES

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_session(cores=cpus, shuffle_partitions=cpus,
                          app="pdfspark-plans")
    try:
        for name in names:
            df = QUERIES[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
            path = os.path.join(out_dir, f"{name}_{when}.txt")
            with open(path, "w") as f:
                f.write(f"# {name} ({when}) sf_dir={sf_dir}\n")
                f.write(plan)
            print(f"wrote {path}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""One scaling-run level: extract the full documents-derived PDF corpus at
a given core count, print one JSON line {cores, docs, seconds, docs_per_sec}.

Run as a subprocess by scripts/scaling_report.py — local[N] is fixed at
JVM start, so each parallelism level needs its own process.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument(
        "--replicate", type=int, default=80,
        help="replicate the documents table N× (deterministic doc_id "
        "offsets) so the job is large enough that fixed startup overhead "
        "does not mask scaling — the 100TB-realistic regime",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from pdfspark.pipeline import (
        PAGES_SCHEMA,
        build_session,
        extract_pages,
        python_stage,
    )

    spark = build_session(cores=args.cores, shuffle_partitions=args.cores * 2,
                          app=f"pdfspark-scale-{args.cores}")
    try:
        docs = spark.read.parquet(
            os.path.join(args.sf_dir, "documents.parquet")
        )
        if args.replicate > 1:
            docs = (
                docs.crossJoin(
                    spark.range(args.replicate).withColumnRenamed("id", "rep")
                )
                .withColumn("doc_id", F.col("doc_id") + F.col("rep") * 10_000_000)
                .drop("rep")
            )
        docs = docs.repartition(args.cores * 2, "doc_id").cache()
        n_docs = docs.count()

        def gen(b):
            import datetime

            from pdfspark.docgen import text_to_pdf

            epoch = datetime.datetime(2025, 1, 1)
            for i, t, lang in zip(b["doc_id"], b["text"], b["lang"]):
                yield (f"https://corpus.test/{int(i):010d}.pdf", epoch,
                       text_to_pdf(t), "", lang)

        pages = python_stage(docs, PAGES_SCHEMA, gen)

        def one_run() -> float:
            t0 = time.perf_counter()
            ext = extract_pages(pages, resalt=False)
            ext.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        one_run()  # warmup (python workers, JIT) — discarded
        times = sorted(one_run() for _ in range(args.runs))
        median = times[len(times) // 2]
        print(json.dumps({
            "cores": args.cores,
            "docs": n_docs,
            "seconds": round(median, 3),
            "all_runs": [round(t, 3) for t in times],
            "docs_per_sec": round(n_docs / median, 1),
        }))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()

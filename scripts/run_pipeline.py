"""spark-submit entry point for the KG-construction pipeline.

Usage (the BASELINE.json deployment shape):

    spark-submit --py-files guackg.zip scripts/run_pipeline.py \
        --pages <parquet dir | synthetic:N> \
        --workdir /path/to/work [--stages extract,triples,...] \
        [--master local[8]]

Reads the pages table (url, warc_ts, html, text, lang), runs
extract → triples → link → canonicalize → materialize with lineage,
prints one JSON summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from guackg.pipeline import STAGES, KGPipeline
from guackg.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True,
                    help="parquet dir, or synthetic:N to generate N pages")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--stages", default=",".join(STAGES))
    ap.add_argument("--compact", action="store_true",
                    help="run small-file compaction on the graph "
                         "tables after the merge (the Iceberg "
                         "rewrite_data_files maintenance step, folded "
                         "into the ingest lifecycle; byte-stable for "
                         "already-compact partitions)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    stages = tuple(s.strip() for s in args.stages.split(",") if s.strip())
    bad = [s for s in stages if s not in STAGES]
    if bad:
        ap.error(f"unknown stage(s) {bad}; valid: {list(STAGES)}")

    spark = get_spark("guackg-pipeline", master=args.master)
    t0 = time.time()

    from guackg.testing.gen import generate_corpus, spark_generate_pages
    if args.pages.startswith("synthetic:"):
        n = int(args.pages.split(":", 1)[1])
        pages = spark_generate_pages(spark, n)
        input_fp = f"synthetic:{n}"
    else:
        pages = spark.read.parquet(args.pages)
        input_fp = args.pages

    # alias dictionary + assertions ship with the closed vocab
    fixtures = generate_corpus(0)
    alias = spark.createDataFrame(fixtures["alias_dict"])
    assertions = spark.createDataFrame(fixtures["assertions"])

    pipe = KGPipeline(spark, args.workdir)
    out = pipe.run(pages, alias, assertions, stages=stages,
                   input_fingerprint=input_fp)

    summary = {"stages": list(stages), "elapsed_sec": round(time.time() - t0, 2),
               "stage_secs": pipe.stage_secs}
    # row counts BEFORE compaction: the returned DataFrames hold file
    # indexes over the pre-compaction layout, and compact_table
    # replaces those files — counting after would read a stale index
    # and crash (FileNotFoundException) whenever compaction actually
    # rewrote a leaf. Compaction is row-stable, so the counts hold.
    for name in ("triples", "links", "components", "nodes", "edges"):
        if name in out:
            summary[f"{name}_rows"] = out[name].count()
    if args.compact and "edges" in out:
        from guackg.io import compact_table
        from guackg.materialize import EDGE_SINK, NODE_SINK
        summary["compact"] = {
            name: compact_table(spark, os.path.join(args.workdir, name),
                                partition_by=sink["partition_by"])
            for name, sink in (("nodes", NODE_SINK), ("edges", EDGE_SINK))}
    if "triples" in out:
        summary["triples_per_sec"] = round(
            summary["triples_rows"] / summary["elapsed_sec"], 1)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()

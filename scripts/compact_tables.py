"""spark-submit maintenance entry point: fold small files in a built
workdir's graph tables — the Iceberg `rewrite_data_files` job shape.
Parallel-encoded sinks trade file count for write parallelism; this
amortizes the cleanup off the ingest hot path.

    spark-submit --py-files guackg.zip scripts/compact_tables.py \
        --workdir /path/to/work [--small-file-mb 32] [--master local[8]]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from guackg import io as gio
from guackg.materialize import EDGE_SINK, NODE_SINK
from guackg.session import get_spark

TABLES = {"nodes": NODE_SINK["partition_by"],
          "edges": EDGE_SINK["partition_by"]}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--small-file-mb", type=int, default=32)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    spark = get_spark("guackg-compact", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    report = {}
    for name, parts in TABLES.items():
        path = os.path.join(args.workdir, name)
        if not gio.table_exists(path):
            continue
        report[name] = gio.compact_table(
            spark, path, partition_by=parts,
            small_file_bytes=args.small_file_mb * 1024 * 1024)
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()

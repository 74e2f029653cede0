"""spark-submit entry point for graph queries over a built workdir —
the `guacone query ...` analog (SURVEY.md §3.2; the reference exposes
its path/neighbors/vuln searches as a CLI over the assembled graph,
/root/reference/cmd/guacone/cmd/query_*.go). A reference user's query
workflow maps 1:1:

    spark-submit --py-files guackg.zip scripts/query_graph.py \
        --workdir /path/to/work --query reachable \
        --start 'ent:org/acme_corporation' [--max-depth 4] \
        [--preds works_for,located_in] [--skip-tombstoned] \
        [--master local[8]] [--limit 50]

Queries:
  neighbors  — adjacency of --start (--direction in|out|both)
  reachable  — directed closure from --start (tombstone-aware with
               --skip-tombstoned: 'scanned clean' pages are neither
               reported nor traversed through, inmem/path.go:314)
  blast      — closure with parent pointers + via_pred (patch-planning
               blast radius, guacanalytics/patchPlanning.go:55-150)
  roots      — reverse closure to top-level roots of the --root-prefix
               namespace (vuln → affected products,
               guacanalytics/searchForSBOMViaName analog)
  path       — shortest path --start → --dst as a key list;
               --direction both (default) walks edges BOTH ways like
               the reference's Neighbors-driven BFS (path.go:57-150),
               --direction out restricts to the directed search
  path-edges — same path with full edge objects (pred, n_evidence,
               match_level per hop — path.go:141-172 node/edge return)
  toposort   — Kahn levels over the whole graph
  find       — nullable-spec node lookup (--kind / --key-prefix,
               each omitted flag = wildcard, inmem/pkg.go:474-560)

Output: one JSON line per result row, then one summary line with
row count and elapsed seconds on stderr-safe stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from guackg import graph as G
from guackg import io as gio
from guackg.materialize import page_key_map
from guackg.session import get_spark

QUERIES = ("neighbors", "reachable", "blast", "roots", "path",
           "path-edges", "toposort", "find",
           "pagerank", "triangles", "kcore", "degree")


def _tombstoned_page_keys(spark, workdir):
    """Map the url-level tombstones table ('scanned clean', T4) to the
    page-node keys the graph uses — one join against the extract
    table's page identity (no blob re-scan)."""
    tomb = gio.read_table(spark, os.path.join(workdir, "tombstones"))
    extract = gio.read_table(spark, os.path.join(workdir, "extract"))
    # join per SNAPSHOT (url, warc_ts): tombstones are snapshot-keyed,
    # and a url can have both a clean snapshot and a triple-bearing one
    return (tomb.select("url", "warc_ts")
            .join(page_key_map(extract), on=["url", "warc_ts"])
            .select(F.col("page_key").alias("key"))
            .distinct())


def run_query(spark, args) -> tuple[list[dict], int]:
    """Returns (rows-as-dicts, total-row-count). Kept separate from
    main() so tests drive it in-process."""
    edges = gio.read_table(spark, os.path.join(args.workdir, "edges"))
    preds = [p.strip() for p in args.preds.split(",") if p.strip()] \
        if args.preds else None
    skip = _tombstoned_page_keys(spark, args.workdir) \
        if args.skip_tombstoned else None

    if args.query == "neighbors":
        df = G.neighbors(edges, args.start, preds=preds,
                         direction=args.direction)
    elif args.query == "reachable":
        df = G.reachable_from(edges, [args.start],
                              max_depth=args.max_depth, preds=preds,
                              skip_keys=skip)
    elif args.query == "blast":
        df = G.blast_radius(edges, [args.start],
                            max_depth=args.max_depth, preds=preds,
                            skip_keys=skip)
    elif args.query == "roots":
        if not args.root_prefix:
            raise SystemExit("--query roots requires --root-prefix "
                             "(the root-node key namespace, e.g. 'page:')")
        df = G.affected_roots(edges, [args.start], args.root_prefix,
                              max_depth=args.max_depth, preds=preds,
                              skip_keys=skip)
    elif args.query == "path":
        # --direction both = the reference's Neighbors-driven BFS
        # (undirected adjacency, inmem/path.go:57-150); default out
        # keeps the directed search
        path = G.bfs_path(edges, args.start, args.dst,
                          max_depth=args.max_depth,
                          direction=args.direction)
        rows = [] if path is None else \
            [{"hop": i, "key": k} for i, k in enumerate(path)]
        return rows, len(rows)
    elif args.query == "path-edges":
        nodes = gio.read_table(spark, os.path.join(args.workdir, "nodes"))
        df = G.bfs_path_edges(edges, args.start, args.dst,
                              max_depth=args.max_depth, nodes=nodes,
                              direction=args.direction)
        if df is None:
            return [], 0
    elif args.query == "toposort":
        df = G.toposort_levels(edges)
    elif args.query in ("pagerank", "triangles", "kcore", "degree"):
        # graph ANALYTICS over the pipeline's own materialized edges
        # (optionally --preds-filtered, e.g. --preds mentions for the
        # page-mention graph) — the centrality/density/coreness
        # rollups demonstrated on the real KG, not a synthetic frame
        e = edges
        if preds:
            e = e.filter(F.col("pred").isin(preds))
        pairs = e.select("subj_key", "obj_key")
        if args.query == "pagerank":
            df = G.pagerank(pairs).orderBy(F.desc("rank"), "key")
        elif args.query == "triangles":
            df = G.triangle_count(pairs).orderBy(
                F.desc("triangles"), "key")
        elif args.query == "kcore":
            # generous explicit valve: the fixpoint is O(diameter)
            # blocking rounds — a pathological chain-shaped graph
            # should fail fast (RuntimeError) instead of hanging
            df = G.k_core(pairs, max_iterations=300) \
                .orderBy(F.desc("core"), "key")
        else:
            df = G.degree_stats(pairs).orderBy(
                F.desc("degree"), "key")
    elif args.query == "find":
        nodes = gio.read_table(spark, os.path.join(args.workdir, "nodes"))
        df = G.find_entities(nodes, kind=args.kind,
                             key_prefix=args.key_prefix)
    else:  # unreachable: argparse choices guard
        raise SystemExit(f"unknown query {args.query}")

    total = df.count()
    shown = df.limit(args.limit).collect()
    return [r.asDict(recursive=True) for r in shown], total


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workdir", required=True,
                    help="a KGPipeline workdir with nodes/edges tables")
    ap.add_argument("--query", required=True, choices=QUERIES)
    ap.add_argument("--start", help="start/source canonical key")
    ap.add_argument("--dst", help="destination key (path queries)")
    ap.add_argument("--preds", default="",
                    help="comma-separated allowed predicates "
                         "(usingOnly edge filter)")
    ap.add_argument("--direction", default="both",
                    choices=("in", "out", "both"))
    ap.add_argument("--max-depth", type=int, default=5)
    ap.add_argument("--root-prefix", default=None,
                    help="roots: canonical-key prefix that marks "
                         "top-level root nodes (e.g. 'page:')")
    ap.add_argument("--kind", default=None, help="find: node kind")
    ap.add_argument("--key-prefix", default=None,
                    help="find: canonical-key prefix")
    ap.add_argument("--skip-tombstoned", action="store_true",
                    help="exclude 'scanned clean' page nodes from "
                         "traversal (noVuln-skip semantics)")
    ap.add_argument("--limit", type=int, default=100)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    needs_start = args.query in ("neighbors", "reachable", "blast",
                                 "roots", "path", "path-edges")
    if needs_start and not args.start:
        ap.error(f"--query {args.query} requires --start")
    if args.query in ("path", "path-edges") and not args.dst:
        ap.error(f"--query {args.query} requires --dst")
    if args.query == "roots" and not args.root_prefix:
        ap.error("--query roots requires --root-prefix")

    spark = get_spark("guackg-query", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    rows, total = run_query(spark, args)
    for r in rows:
        print(json.dumps(r, default=str))
    print(json.dumps({"query": args.query, "rows": total,
                      "shown": len(rows),
                      "elapsed_sec": round(time.time() - t0, 2)}))
    spark.stop()


if __name__ == "__main__":
    main()

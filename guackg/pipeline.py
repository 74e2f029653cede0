"""End-to-end pipeline: extract → triples → link → canonicalize →
materialize, with per-stage lineage and resume.

The batch re-expression of guac's `guacone collect files` lifecycle
(/root/reference/cmd/guacone/cmd/files.go:59-180 → collector →
processor → parser → assembler, SURVEY.md §3.1). Stage boundaries are
durable tables (Iceberg at scale, parquet here) instead of NATS
subjects (pkg/emitter/nats_emitter.go:31-42); a re-run skips stages
whose lineage fingerprint is already complete — the durable-consumer
resume semantics.
"""

from __future__ import annotations

import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from guackg import io as gio
from guackg.cc import connected_components
from guackg.extract import extract, valid_col
from guackg.lineage import Lineage
from guackg.link import (DRIVER_LINK_MAX_DICT, DRIVER_LINK_MAX_VOCAB,
                         advisory_edges, equivalence_edges_from_links,
                         identifier_candidates, link_mentions,
                         link_mentions_driver, mention_frequencies)
from guackg.materialize import (EDGE_SINK, NODE_SINK, build_edges,
                                build_nodes, page_key_map,
                                page_map_fits_broadcast,
                                page_mention_edges, page_node_rows,
                                resolve_triples)
from guackg.triples import (EXTRACTOR_VERSION, SAME_AS_PRED,
                            extract_triples)

STAGES = ("extract", "triples", "link", "canonicalize", "materialize")
PIPELINE_VERSION = "0.6"  # bump invalidates lineage of older layouts


def _fingerprint(*parts: object) -> str:
    return "|".join(str(p) for p in parts)


def _content_fp(df: DataFrame, cols: list[str]) -> str:
    """Order-insensitive content fingerprint of a small side input
    (row count + xxhash64 sum over the identity columns; decimal sum
    dodges ANSI long overflow). The Iceberg analog is the side
    table's snapshot id."""
    row = df.select(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
                   F.lit(0).cast("decimal(38,0)")).alias("h")).collect()[0]
    return f"{row['n']}:{row['h']}"


def side_input_fps(alias_dict: DataFrame,
                   assertions: DataFrame | None) -> tuple[str, str]:
    """(dictionary, assertions) content fingerprints. The link stage
    and everything downstream of it is a function of the alias
    DICTIONARY and the equivalence ASSERTIONS too, not just the corpus
    — the §3.3 enrichment cycle re-runs the same corpus with a grown
    dictionary, and a fingerprint that ignored it would skip `link`
    and serve stale links."""
    dict_fp = _content_fp(alias_dict, ["surface", "canonical_key"])
    asrt_fp = "none" if assertions is None else \
        _content_fp(assertions, ["key_a", "key_b"])
    return dict_fp, asrt_fp


# the dictionary-dependent lineage records — exactly the ones an
# enrichment pass (enrich.apply_promotions) rewrites and re-stamps
_DICT_STAGES = ("link", "equivalence_edges", "identifier_candidates",
                "canonicalize", "materialize", "graph_merge")


def stage_fingerprints(input_fingerprint: str, dict_fp: str,
                       asrt_fp: str) -> dict[str, str]:
    """Every lineage record's fingerprint: each stage's output is a
    pure function of the inputs named here, so the pipeline's resume
    check and the enrichment patch's lineage stamp share one
    declaration. The corpus-only stages exclude the side inputs so they
    still resume across enrichment. The strings are persisted in every
    workdir's `_lineage/`: any change here invalidates them all."""
    base = _fingerprint(PIPELINE_VERSION, EXTRACTOR_VERSION,
                        input_fingerprint)
    dct, both = (dict_fp,), (dict_fp, asrt_fp)
    parts = {"extract": (), "triples": (), "tombstones": (),
             "mention_freq": (), "link": dct, "equivalence_edges": dct,
             "identifier_candidates": dct, "canonicalize": both,
             "materialize": both,
             # the trailing True is a retired page-graph flag, kept so
             # existing graph_merge records still match
             "graph_merge": both + (True,)}
    return {name: _fingerprint(base, name, *p) for name, p in parts.items()}


def canonicalize_edges(equiv: DataFrame, parsed: DataFrame,
                       links: DataFrame,
                       assertions: DataFrame | None) -> DataFrame:
    """The canonicalizer's FULL edge set: linker equivalence edges,
    PARSER-ASSERTED equality (the advisory dialect's `same_as` rows of
    the parsed triples table, resolved through `links`) and
    caller-supplied assertions. The pipeline and the enrichment patch
    both build components over this set — dropping a source would
    silently split every component it merged."""
    edges = equiv.select("key_a", "key_b").unionByName(
        advisory_edges(parsed.filter(F.col("pred") == SAME_AS_PRED), links)
        .select("key_a", "key_b"))
    if assertions is not None:
        edges = edges.unionByName(assertions.select("key_a", "key_b"))
    return edges


def page_edges(spark: SparkSession, lineage: Lineage, resolved: DataFrame,
               page_keys: DataFrame, n_buckets: int) -> DataFrame:
    """Page→entity `mentions` edges for the edges sink, built the same
    way on the ingest and the enrichment paths. The url→page map is
    broadcast only when the EXACT row count from the extract stage's
    lineage bounds it under the broadcast budget — real stats, not
    Catalyst's estimate (see page_mention_edges' contract). The
    mentions branch's single exchange is widened when the cluster has
    more cores than the table has buckets (key-deterministic salt)."""
    ext_rec = lineage.read("extract")
    cores = spark.sparkContext.defaultParallelism
    return page_mention_edges(
        resolved, page_keys,
        broadcast_page_map=page_map_fits_broadcast(
            ext_rec["total_rows"] if ext_rec else 0),
        n_buckets=n_buckets, agg_salt=max(1, -(-cores // n_buckets)))


class KGPipeline:
    """Orchestrates the five stages over a working directory.

    `stages` lets a caller run a prefix (the kill-and-resume fixture,
    FIXTURES.md §7): a later invocation with all stages skips the
    completed prefix via lineage fingerprints.
    """

    def __init__(self, spark: SparkSession, workdir: str) -> None:
        self.spark = spark
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)
        self.lineage = Lineage(workdir)
        # wall seconds per stage (compute+write), the ingest-stats
        # analog (ingestor.go:67-69); populated by run()
        self.stage_secs: dict[str, float] = {}

    def _out(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    def _run_stage(self, name: str, fingerprint: str,
                   compute) -> DataFrame:
        path = self._out(name)
        if self.lineage.completed(name, fingerprint) and gio.table_exists(path):
            return gio.read_table(self.spark, path)
        t0 = time.time()
        df = compute()
        gio.write_table(df, path)
        out = gio.read_table(self.spark, path)
        self.lineage.record(name, fingerprint, out, table_path=path)
        self.stage_secs[name] = round(time.time() - t0, 2)
        return out

    def run(
        self,
        pages: DataFrame,
        alias_dict: DataFrame,
        assertions: DataFrame | None = None,
        stages: tuple[str, ...] = STAGES,
        input_fingerprint: str = "",
    ) -> dict[str, DataFrame]:
        """Stages whose outputs nothing downstream consumes (tombstones,
        identifier_candidates, the nodes merge) run on CONCURRENT Spark
        job threads: their tasks fill the cores the main chain leaves
        idle at shuffle barriers and during driver-side commits. Work
        is conserved — on one core the wall clock is unchanged; on a
        real cluster the side stages' seconds disappear entirely. The
        only ordering the reference requires — nodes commit before
        edges commit (bulk.go:29-191) — is kept via the sink's
        commit_gate (compute in parallel, commit in order)."""
        self._threads: list[threading.Thread] = []
        self._errors: list[BaseException] = []
        self._async = self._side_stages_async()
        try:
            return self._run(pages, alias_dict, assertions, stages,
                             input_fingerprint)
        finally:
            for t in self._threads:
                t.join()
            if self._errors:
                raise self._errors[0]

    def _side_stages_async(self) -> bool:
        """Overlap policy, decided by executor topology. Multi-executor
        deployments (local-cluster here; yarn/k8s/standalone on a real
        cluster) leave cores idle at the main chain's shuffle barriers
        and driver-side commits — side stages fill them (measured:
        −30 s wall at 4×1-core executors). A single-JVM `local[n]`
        master has no idle-core story: all task slots share one heap,
        GC, and memory bus, and concurrent jobs add contention instead
        of utilization (measured: +39 s wall at local[32] — tiny
        JVM-side stages inflated 4-6× while time-sharing with the
        heavy chain). GUACKG_SYNC_STAGES=1/0 forces either mode."""
        env = os.environ.get("GUACKG_SYNC_STAGES")
        if env in ("0", "1"):
            return env == "0"
        # single-JVM masters: bare "local" (ONE task slot — the worst
        # possible place for concurrent jobs) and "local[...]";
        # "local-cluster[...]" and real cluster URLs are multi-JVM
        m = self.spark.sparkContext.master
        return not (m == "local" or m.startswith("local["))

    def _spawn(self, fn) -> threading.Thread | None:
        if not self._async:
            fn()          # single-JVM master: run side stages inline
            return None
        def _worker():
            try:
                fn()
            except BaseException as e:  # propagated by run()'s finally
                self._errors.append(e)
        t = threading.Thread(target=_worker, daemon=True)
        t.start()
        self._threads.append(t)
        return t

    def _run(
        self,
        pages: DataFrame,
        alias_dict: DataFrame,
        assertions: DataFrame | None,
        stages: tuple[str, ...],
        input_fingerprint: str,
    ) -> dict[str, DataFrame]:
        fps = stage_fingerprints(input_fingerprint,
                                 *side_input_fps(alias_dict, assertions))
        out: dict[str, DataFrame] = {}

        if "extract" in stages:
            def _extract():
                # ONE Python pass: materialize all rows + validity flag;
                # ok/quarantine are filters over the written table (the
                # UDF is the most expensive stage — never run it twice).
                # page_sha256 (the T10 HasSBOM-digest identity) rides
                # along here because this is the ONLY pass that reads
                # the raw blobs — computing it later would re-scan the
                # whole html corpus just for the hash.
                return extract(pages).select(
                    "url", "warc_ts", "lang", "extracted_text",
                    valid_col().alias("valid"),
                    F.sha2(F.col("html"), 256).alias("page_sha256"))
            full = self._run_stage("extract", fps["extract"], _extract)
            out["extracted"] = full.filter(F.col("valid")).select(
                "url", "warc_ts", "lang", "extracted_text")
            out["quarantine"] = full.filter(~F.col("valid"))
        else:
            return out

        if "triples" in stages:
            # ONE parser pass writes every dialect's output; mention
            # triples and advisory `same_as` assertions (the
            # VulnEqual/PkgEqual equality ingest,
            # assembler.go:99-103) are filters over the written table
            # — assertions feed the canonicalizer, never edges.
            parsed = self._run_stage(
                "triples", fps["triples"],
                lambda: extract_triples(out["extracted"]))
            out["triples"] = parsed.filter(F.col("pred") != SAME_AS_PRED)
            # T4 tombstones: pages that were scanned (valid, en) but
            # yielded ZERO triples — guac's noVuln "scanned and clean"
            # rows (parser/vuln/vuln.go:65-168), so 'clean' is
            # distinguishable from 'never scanned' (non-en pages are
            # never scanned and are NOT tombstoned).
            def _tombstones():
                # keyed per SNAPSHOT (url, warc_ts), not url alone: a
                # re-crawl of a url whose earlier snapshot yielded
                # triples must still be tombstoned when ITS text is
                # clean, or 'scanned and clean' collapses back into
                # 'never scanned' for that snapshot
                scanned = out["extracted"].filter(F.col("lang") == "en") \
                    .select("url", "warc_ts")
                # anti-join the FULL parsed output (mentions AND
                # advisory assertions): an advisory page yielded
                # output, so it is not 'scanned and clean'
                return (scanned
                        .join(parsed
                              .select("url", "warc_ts").distinct(),
                              on=["url", "warc_ts"], how="left_anti")
                        .withColumn("extractor", F.lit(EXTRACTOR_VERSION))
                        .withColumn("reason", F.lit("no_mentions")))
            # no downstream stage consumes tombstones → side thread
            self._spawn(lambda: out.__setitem__(
                "tombstones",
                self._run_stage("tombstones", fps["tombstones"],
                                _tombstones)))
        else:
            return out

        if "link" in stages:
            # ONE pass over the O(mentions) stream: the frequency
            # table feeds both the linker (distinct vocabulary) and
            # the identifier side-channel (counts) — previously each
            # consumer re-scanned and re-aggregated the exploded
            # surface stream (2× the triple count) independently.
            out["mention_freq"] = self._run_stage(
                "mention_freq", fps["mention_freq"],
                lambda: mention_frequencies(out["triples"]))

            def _link():
                mentions = out["mention_freq"].select("norm")
                # adaptive small-side rule (cc.py's union-find analog):
                # the EXACT vocabulary size is already in the
                # mention_freq lineage record, so a bench-scale
                # vocabulary links on the driver (exact Jaccard,
                # identical contract) instead of paying ~10 tiny-stage
                # barriers; a web-scale vocabulary blows the bound and
                # takes the distributed LSH path.
                rec = self.lineage.read("mention_freq")
                small = bool(rec) and \
                    rec["total_rows"] <= DRIVER_LINK_MAX_VOCAB and \
                    alias_dict.limit(DRIVER_LINK_MAX_DICT + 1).count() \
                    <= DRIVER_LINK_MAX_DICT
                linker = link_mentions_driver if small else link_mentions
                links, _ = linker(mentions, alias_dict)
                return links
            out["links"] = self._run_stage("link", fps["link"], _link)
            # derived from the MATERIALIZED links — a projection, not a
            # second run of the broadcast/LSH linking DAG. Runs under
            # its own lineage fingerprint so a new input fingerprint
            # recomputes it alongside the link stage — mere table
            # existence is NOT enough (a stale edges table from a
            # prior ingest must not feed canonicalize).
            out["equivalence_edges"] = self._run_stage(
                "equivalence_edges", fps["equivalence_edges"],
                lambda: equivalence_edges_from_links(out["links"]))
            # S9/T12 identifier side-channel: unresolved surfaces +
            # mention counts, posted for later dictionary enrichment
            # (the collectsub feedback loop, ingestor.go:168-180)
            # feedback side-channel only — nothing downstream reads it
            self._spawn(lambda: out.__setitem__(
                "identifier_candidates",
                self._run_stage(
                    "identifier_candidates", fps["identifier_candidates"],
                    lambda: identifier_candidates(
                        out["links"], freq=out["mention_freq"]))))
        else:
            return out

        if "canonicalize" in stages:
            out["components"] = self._run_stage(
                "canonicalize", fps["canonicalize"],
                lambda: connected_components(canonicalize_edges(
                    out["equivalence_edges"], parsed, out["links"],
                    assertions)))
        else:
            return out

        if "materialize" in stages:
            def _resolve():
                return resolve_triples(out["triples"], out["links"],
                                       out["components"])
            out["triples_resolved"] = self._run_stage(
                "materialize", fps["materialize"], _resolve)
            # T9/T10: page document nodes (sha256 identity) and
            # page→entity `mentions` edges land in the SAME nodes/
            # edges tables, but via their own pre-aggregated rows —
            # partitioned under pred=mentions / kind=page, so the
            # merge's partition pruning keeps predicate queries and
            # the entity-node dedup unaffected by the page graph. The
            # page map is a 3-column read of the extract table, NOT a
            # second scan of the raw blobs.
            page_keys = page_key_map(full)
            # Redelivery dedup for the graph sink: if THIS exact batch
            # already merged, skip both merges — the reference drops
            # already-processed docs at the ingestor the same way
            # (ingestor.go:109-121), so a crashed-after-commit replay
            # costs a lineage read, not a full re-merge. A new
            # input_fingerprint (real increment) changes the
            # fingerprint and takes the O(delta) merge path.
            if (self.lineage.completed("graph_merge", fps["graph_merge"])
                    and gio.table_exists(self._out("nodes"))
                    and gio.table_exists(self._out("edges"))):
                out["nodes"] = gio.read_table(self.spark,
                                              self._out("nodes"))
                out["edges"] = gio.read_table(self.spark,
                                              self._out("edges"))
                return out
            # nodes COMMIT before edges COMMIT — the assembler's fixed
            # write order (bulk.go:29-191) — but the two merges COMPUTE
            # concurrently: the nodes job runs on a side thread and the
            # edge sink's commit_gate holds the edges swap until the
            # nodes table is visible.
            nodes_gate = threading.Event()
            # failure side of the gate: set BEFORE the gate releases
            # when the nodes merge failed, so the edges sink aborts its
            # swap instead of committing edges over missing/stale nodes
            # (the nodes-before-edges visibility invariant holds on the
            # failure path too — never only on success)
            nodes_failed = threading.Event()
            fanout = gio.merge_fanout(self.spark)

            def _nodes_merge():
                t0 = time.time()
                try:
                    nodes = build_nodes(out["triples_resolved"],
                                        out["components"]) \
                        .unionByName(page_node_rows(page_keys))
                    gio.merge_upsert(self.spark, nodes, self._out("nodes"),
                                     **NODE_SINK, fanout=fanout)
                    self.stage_secs["nodes_merge"] = round(time.time() - t0, 2)
                except BaseException:
                    nodes_failed.set()   # ordering: abort before gate
                    raise                # recorded by _spawn's worker
                finally:
                    # set even on failure so the edges thread can't hang
                    nodes_gate.set()

            nodes_thread = self._spawn(_nodes_merge)
            t0 = time.time()
            # Bucket COUNT is a deploy-time constant sized to keep
            # bucket files near the parquet row-group sweet spot
            # (~10^5-10^6 rows/bucket-per-pred): 32 default; a local
            # bench corpus uses fewer, a 100-TB table thousands. It
            # must stay FIXED for a table's lifetime — changing it
            # moves keys across partition dirs and breaks the
            # merge_upsert pruning contract, so the count is pinned in
            # a sidecar and a drifted env var fails loudly
            # (io.edge_bucket_count).
            n_buckets = gio.edge_bucket_count(self._out("edges"))
            # write-aligned build: both edge branches hash-distribute
            # on their (pred, bucket) sink tuple up front, so the
            # distinct aggregations AND the partitioned write all ride
            # ONE exchange per branch (see build_edges docstring)
            edges = build_edges(out["triples_resolved"],
                                n_buckets=n_buckets).unionByName(
                page_edges(self.spark, self.lineage,
                           out["triples_resolved"], page_keys, n_buckets))
            # pre_distributed: the write-aligned build above already
            # hash-distributed each branch on its partition tuple, so
            # the first write encodes straight out of the aggregation
            # (no sink spread). Incremental merges still respread the
            # old∪new union; fanout salts their jumbo-dir encodes.
            gio.merge_upsert(self.spark, edges, self._out("edges"),
                             **EDGE_SINK, fanout=fanout,
                             pre_distributed=True,
                             commit_gate=nodes_gate,
                             commit_abort=nodes_failed)
            self.stage_secs["edges_merge"] = round(time.time() - t0, 2)
            # join the nodes thread BEFORE recording graph_merge: the
            # lineage row asserts both merges committed, and the error
            # append in the worker races the gate otherwise
            if nodes_thread is not None:
                nodes_thread.join()
            if nodes_failed.is_set() or self._errors:
                raise (self._errors[0] if self._errors
                       else RuntimeError("nodes merge failed"))
            out["nodes"] = gio.read_table(self.spark, self._out("nodes"))
            out["edges"] = gio.read_table(self.spark, self._out("edges"))
            self.lineage.record("graph_merge", fps["graph_merge"],
                                out["edges"], table_path=self._out("edges"))
        return out

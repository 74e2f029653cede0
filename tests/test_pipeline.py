"""End-to-end pipeline tests: triple P/R ≥ 0.95 vs the golden fixture
(BASELINE.json north_rule), run-twice idempotency (guac's upsert-dedup
semantics), and kill-and-resume via per-stage lineage (FIXTURES.md §7)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from guackg.pipeline import (PIPELINE_VERSION, STAGES, KGPipeline,
                             side_input_fps, stage_fingerprints)
from guackg.triples import EXTRACTOR_VERSION


@pytest.fixture(scope="module")
def pipeline_out(spark, pages_df, alias_df, assertions_df, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("kgwork"))
    pipe = KGPipeline(spark, wd)
    out = pipe.run(pages_df, alias_df, assertions_df,
                   input_fingerprint="test-corpus")
    return wd, out


def _triple_sets(spark, corpus, resolved):
    emitted = {(r.url, r.subj_key, r.pred, r.obj_key)
               for r in resolved.select("url", "subj_key", "pred",
                                        "obj_key").distinct().collect()}
    golden = {(r.url, r.subj_key, r.pred, r.obj_key)
              for r in corpus["golden_triples"].itertuples()}
    return emitted, golden


def test_precision_recall(spark, corpus, pipeline_out):
    _, out = pipeline_out
    emitted, golden = _triple_sets(spark, corpus, out["triples_resolved"])
    inter = emitted & golden
    precision = len(inter) / len(emitted)
    recall = len(inter) / len(golden)
    print(f"P={precision:.4f} R={recall:.4f} "
          f"emitted={len(emitted)} golden={len(golden)}")
    assert precision >= 0.95, f"precision {precision:.4f}"
    assert recall >= 0.95, f"recall {recall:.4f}"


def test_nodes_edges_shape(pipeline_out):
    _, out = pipeline_out
    nodes, edges = out["nodes"], out["edges"]
    assert nodes.count() == nodes.select("canonical_key").distinct().count()
    assert nodes.count() == nodes.select("entity_id").distinct().count()
    # every edge endpoint resolves to a node
    nk = nodes.select(F.col("canonical_key").alias("subj_key"))
    assert out["edges"].join(nk, on="subj_key", how="left_anti").count() == 0
    kinds = {r.kind for r in nodes.select("kind").distinct().collect()}
    assert kinds <= {"person", "org", "place", "thing", "unlinked",
                     "external", "page"}
    assert edges.filter(F.col("n_evidence") < 1).count() == 0


def test_page_graph_wired(pipeline_out):
    """T9/T10: page document nodes (sha256 identity) and page→entity
    `mentions` edges are materialized alongside predicate edges."""
    _, out = pipeline_out
    page_nodes_n = out["nodes"].filter(F.col("kind") == "page").count()
    assert page_nodes_n > 0
    m = out["edges"].filter(F.col("pred") == "mentions")
    assert m.count() > 0
    # every mentions edge starts at a page node and ends at a non-page
    assert m.filter(~F.col("subj_key").startswith("page:")).count() == 0
    assert m.filter(F.col("obj_key").startswith("page:")).count() == 0


def test_match_level_edges(pipeline_out):
    """C11: every edge carries a match_level; dictionary-linked
    evidence dominates the corpus so 'exact' must be present, and the
    planted typo surfaces must produce 'fuzzy' links."""
    _, out = pipeline_out
    lv = {r.match_level
          for r in out["edges"].select("match_level").distinct().collect()}
    assert lv <= {"exact", "fuzzy", "unlinked"}
    assert "exact" in lv
    assert "fuzzy" in lv  # typo surfaces resolve via LSH


def test_tombstones_scanned_clean(spark, corpus, pipeline_out):
    """T4: en pages with zero triples get a tombstone row; non-en
    pages (never scanned) do not."""
    _, out = pipeline_out
    tomb = {r.url for r in out["tombstones"].collect()}
    triple_urls = {r.url for r in
                   out["triples"].select("url").distinct().collect()}
    pages = corpus["pages"]
    en_urls = set(pages[pages["lang"] == "en"]["url"])
    non_en = set(pages[pages["lang"] != "en"]["url"])
    assert tomb.isdisjoint(triple_urls)
    assert tomb.isdisjoint(non_en)
    assert tomb == en_urls - triple_urls


def test_identifier_candidates_feedback_loop(spark, pipeline_out,
                                             alias_df):
    """S9/T12 + §3.3 enrichment cycle: unresolved surfaces are posted
    as identifier candidates; feeding them back into the alias
    dictionary resolves them as `dict` on the next link pass."""
    from guackg.link import link_mentions
    _, out = pipeline_out
    cand = out["identifier_candidates"]
    rows = cand.collect()
    assert len(rows) > 0
    assert all(r.n_mentions >= 1 for r in rows)
    assert all(r.suggested_key.startswith("ent:guac/") for r in rows)
    # close the loop: enriched dictionary resolves the former fallbacks
    enriched = alias_df.unionByName(
        cand.select(F.col("norm").alias("surface"),
                    F.col("suggested_key").alias("canonical_key"),
                    F.lit("candidate").alias("kind")))
    relinked, _ = link_mentions(
        cand.select("norm").limit(20), enriched)
    assert all(r.method == "dict" for r in relinked.collect())


def test_run_twice_idempotent(spark, corpus, pages_df, alias_df,
                              assertions_df, pipeline_out):
    """Second full run over the same input must leave nodes/edges
    row-identical (guac replay-safety, SURVEY.md §2.11)."""
    wd, out = pipeline_out
    n0 = sorted((r.canonical_key, r.entity_id, r.kind)
                for r in out["nodes"].collect())
    e0 = sorted((r.subj_key, r.pred, r.obj_key, r.n_evidence)
                for r in out["edges"].collect())

    pipe2 = KGPipeline(spark, wd)
    out2 = pipe2.run(pages_df, alias_df, assertions_df,
                     input_fingerprint="test-corpus")
    n1 = sorted((r.canonical_key, r.entity_id, r.kind)
                for r in out2["nodes"].collect())
    e1 = sorted((r.subj_key, r.pred, r.obj_key, r.n_evidence)
                for r in out2["edges"].collect())
    assert n0 == n1
    assert e0 == e1


def test_kill_and_resume(spark, corpus, pages_df, alias_df, assertions_df,
                         tmp_path_factory, pipeline_out):
    """Run stages 1-3, 'die', re-run all: completed stages must be
    skipped (outputs untouched) and finals must equal the
    uninterrupted run."""
    wd = str(tmp_path_factory.mktemp("kgresume"))
    pipe = KGPipeline(spark, wd)
    pipe.run(pages_df, alias_df, assertions_df,
             stages=("extract", "triples", "link"),
             input_fingerprint="test-corpus")
    mtime_before = os.path.getmtime(os.path.join(wd, "triples", "_SUCCESS"))

    out = KGPipeline(spark, wd).run(pages_df, alias_df, assertions_df,
                                    input_fingerprint="test-corpus")
    # completed stage output was reused, not recomputed
    assert os.path.getmtime(os.path.join(wd, "triples", "_SUCCESS")) == \
        mtime_before
    # lineage records exist for every stage and side stage with
    # partition detail, each under its declared fingerprint
    dict_fp, asrt_fp = side_input_fps(alias_df, assertions_df)
    fps = stage_fingerprints("test-corpus", dict_fp, asrt_fp)
    assert set(STAGES) < set(fps) and len(fps) == 10
    for stage, fp in fps.items():
        with open(os.path.join(wd, "_lineage", f"{stage}.json")) as f:
            rec = json.load(f)
        assert rec["status"] == "complete"
        assert rec["fingerprint"] == fp, stage
        assert rec["total_rows"] == sum(p["rows"] for p in rec["partitions"])
    # persisted in every deployed workdir: a changed form would make
    # every existing graph_merge record stale
    assert fps["graph_merge"] == (
        f"{PIPELINE_VERSION}|{EXTRACTOR_VERSION}|test-corpus|graph_merge"
        f"|{dict_fp}|{asrt_fp}|True")

    # compare against the uninterrupted run's table, re-read from disk
    # (the cached DataFrame from the fixture may reference overwritten
    # part files after the idempotency test re-ran merge_upsert)
    full_wd, _ = pipeline_out
    full_edges = spark.read.parquet(os.path.join(full_wd, "edges"))
    e_resumed = sorted((r.subj_key, r.pred, r.obj_key, r.n_evidence)
                       for r in out["edges"].collect())
    e_full = sorted((r.subj_key, r.pred, r.obj_key, r.n_evidence)
                    for r in full_edges.collect())
    assert e_resumed == e_full


def test_incremental_ingest_reentrant(spark, pages_df, alias_df,
                                      assertions_df, tmp_path_factory):
    """The certifier-loop shape (SURVEY §3.3): ingest batch A, then
    batch B through the SAME workdir — the merge-upserted graph must
    cover exactly the keys of a single A∪B run (natural-key upserts
    make re-entry safe; per-edge evidence is latest-wins, guac's
    upsert overwrite semantics)."""
    import hashlib

    a = pages_df.limit(150)
    b = pages_df.subtract(a)

    wd_inc = str(tmp_path_factory.mktemp("kginc"))
    pipe = KGPipeline(spark, wd_inc)
    pipe.run(a, alias_df, assertions_df, input_fingerprint="batch-a")

    def edges_snapshot(wd):
        table = os.path.join(wd, "edges")
        snap = {}
        for root, _dirs, files in os.walk(table):
            rel = os.path.relpath(root, table)
            if "bucket=" not in rel:
                continue
            snap[rel] = {
                f: hashlib.sha256(
                    open(os.path.join(root, f), "rb").read()).hexdigest()
                for f in files}
        return snap

    out_inc = KGPipeline(spark, wd_inc).run(
        b, alias_df, assertions_df, input_fingerprint="batch-b")
    # materialize the A∪B key sets NOW: the batch-c re-ingest below
    # swaps partition files under the same workdir, so these lazy
    # DataFrames would otherwise chase stale file handles
    n_inc = {r.canonical_key for r in out_inc["nodes"].collect()}
    e_inc = {(r.subj_key, r.pred, r.obj_key)
             for r in out_inc["edges"].collect()}

    # two-level MERGE pruning (round-2 verdict finding #3): a TINY
    # re-ingest (3 pages) must rewrite only the (pred, bucket) leaf
    # dirs its delta actually carries — which are exactly the leaf
    # dirs a C-only first write produces — and leave every other leaf
    # dir of the big table byte-identical.
    c = a.limit(3)
    snap_before = edges_snapshot(wd_inc)
    wd_c = str(tmp_path_factory.mktemp("kgconly"))
    KGPipeline(spark, wd_c).run(c, alias_df, assertions_df,
                                input_fingerprint="batch-c")
    c_tuples = set(edges_snapshot(wd_c))
    KGPipeline(spark, wd_inc).run(c, alias_df, assertions_df,
                                  input_fingerprint="batch-c")
    snap_after = edges_snapshot(wd_inc)
    untouched = [d for d in snap_before if d not in c_tuples]
    assert untouched, "expected some buckets untouched by the delta"
    for d in untouched:
        assert snap_after[d] == snap_before[d], \
            f"untouched {d} was rewritten"

    wd_full = str(tmp_path_factory.mktemp("kgfull"))
    out_full = KGPipeline(spark, wd_full).run(
        pages_df, alias_df, assertions_df, input_fingerprint="batch-ab")

    n_full = {r.canonical_key for r in out_full["nodes"].collect()}
    assert n_inc == n_full
    e_full = {(r.subj_key, r.pred, r.obj_key)
              for r in out_full["edges"].collect()}
    assert e_inc == e_full


def test_no_per_row_python_in_hot_path(spark, pages_df, alias_df):
    """The whole extract→triples plan shows only Arrow-vectorized
    Python (ArrowEvalPython / MapInPandas) — never BatchEvalPython."""
    from guackg.extract import extract
    from guackg.triples import extract_triples
    plan = extract_triples(extract(pages_df)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_concurrent_side_stages_match_sync(spark, pages_df, alias_df,
                                           assertions_df, pipeline_out,
                                           monkeypatch, tmp_path):
    """The topology-gated concurrency (side stages on Spark job threads
    + nodes/edges ordered commit) must be a pure scheduling change: a
    forced-async run on the local master produces byte-equal tables to
    the module fixture's sync run. This is the only place the threaded
    path executes under pytest — local[*] masters auto-select sync."""
    monkeypatch.setenv("GUACKG_SYNC_STAGES", "0")  # force threads
    pipe = KGPipeline(spark, str(tmp_path / "async"))
    out2 = pipe.run(pages_df, alias_df, assertions_df,
                    input_fingerprint="test-corpus")
    _, out1 = pipeline_out
    for name in ("triples_resolved", "tombstones", "identifier_candidates",
                 "nodes", "edges"):
        a, b = out1[name], out2[name]
        cols = sorted(set(a.columns) & set(b.columns))
        diff = (a.select(cols).exceptAll(b.select(cols)).count()
                + b.select(cols).exceptAll(a.select(cols)).count())
        assert diff == 0, f"{name}: {diff} differing rows async vs sync"


def test_enriched_dict_invalidates_link_stage(spark, pages_df, alias_df,
                                              assertions_df, tmp_path):
    """§3.3 enrichment cycle at the PIPELINE level: re-running the same
    corpus + same input fingerprint with a GROWN alias dictionary must
    recompute link and everything downstream (the side-input content
    fingerprint), while extract/triples resume from lineage — stale
    links would silently survive otherwise."""
    wd = str(tmp_path / "enrich")
    pipe = KGPipeline(spark, wd)
    out1 = pipe.run(pages_df, alias_df, assertions_df,
                    input_fingerprint="enrich-corpus")
    cand = out1["identifier_candidates"]
    assert cand.count() > 0
    extract_rec = pipe.lineage.read("extract")

    enriched = alias_df.unionByName(
        cand.select(F.col("norm").alias("surface"),
                    F.col("suggested_key").alias("canonical_key"),
                    F.lit("candidate").alias("kind")))
    pipe2 = KGPipeline(spark, wd)
    out2 = pipe2.run(pages_df, enriched, assertions_df,
                     input_fingerprint="enrich-corpus")
    # extract/triples resumed (no recompute timing recorded) ...
    assert "extract" not in pipe2.stage_secs
    assert "triples" not in pipe2.stage_secs
    assert pipe2.lineage.read("extract") == extract_rec
    # ... but the link stage ran again and the former fallbacks are
    # now dictionary hits
    assert "link" in pipe2.stage_secs
    assert out2["links"].filter(F.col("method") == "fallback").count() == 0
    assert out2["identifier_candidates"].count() == 0


def test_nodes_merge_failure_aborts_edges_commit(spark, pages_df,
                                                 alias_df, assertions_df,
                                                 tmp_path, monkeypatch):
    """Round-3 advice #2: the nodes-before-edges visibility invariant
    must hold on the FAILURE path. With concurrent side stages forced
    on, a failing nodes merge sets the abort before releasing the
    commit gate, so the edges swap never commits, the run raises, and
    no graph_merge lineage is recorded — a resume redoes both merges
    instead of serving edges without their nodes."""
    import guackg.pipeline as P

    def _boom(*a, **kw):
        raise RuntimeError("synthetic nodes failure")

    monkeypatch.setattr(P, "build_nodes", _boom)
    monkeypatch.setenv("GUACKG_SYNC_STAGES", "0")  # force async threads
    wd = str(tmp_path / "abortwd")
    pipe = P.KGPipeline(spark, wd)
    with pytest.raises(RuntimeError):
        pipe.run(pages_df, alias_df, assertions_df,
                 input_fingerprint="abort-test")
    assert not os.path.exists(os.path.join(wd, "nodes", "_SUCCESS"))
    assert not os.path.exists(os.path.join(wd, "edges", "_SUCCESS")), \
        "edges committed despite nodes failure"
    assert not pipe.lineage.completed(
        "graph_merge", "anything"), "graph_merge lineage recorded"
    # and the run is recoverable: un-patch and resume to completion
    monkeypatch.setattr(P, "build_nodes", __import__(
        "guackg.materialize", fromlist=["build_nodes"]).build_nodes)
    out = P.KGPipeline(spark, wd).run(pages_df, alias_df, assertions_df,
                                      input_fingerprint="abort-test")
    assert out["edges"].count() > 0 and out["nodes"].count() > 0


def test_compaction_in_ingest_lifecycle(spark, pages_df, alias_df,
                                        assertions_df, tmp_path_factory):
    """Round-3 verdict task #6: compaction folded into the ingest
    lifecycle. After batch A, compact the graph tables (the Iceberg
    rewrite_data_files analog run off the hot path), then merge a tiny
    batch C: rows are unchanged by compaction, the merge's partition
    pruning still holds on the COMPACTED layout (leaves outside C's
    delta stay byte-identical), and the final graph equals an
    uncompacted workdir's."""
    import hashlib
    from guackg.io import compact_table

    a = pages_df.limit(150)
    c = pages_df.subtract(a).limit(3)

    def edges_leaves(wd):
        table = os.path.join(wd, "edges")
        snap = {}
        for root, _dirs, files in os.walk(table):
            rel = os.path.relpath(root, table)
            if "bucket=" not in rel:
                continue
            snap[rel] = {
                f: hashlib.sha256(
                    open(os.path.join(root, f), "rb").read()).hexdigest()
                for f in files}
        return snap

    def edge_rows(wd):
        return {(r.subj_key, r.pred, r.obj_key, r.n_evidence) for r in
                spark.read.parquet(os.path.join(wd, "edges"))
                .select("subj_key", "pred", "obj_key", "n_evidence")
                .collect()}

    wd = str(tmp_path_factory.mktemp("kgcompact"))
    KGPipeline(spark, wd).run(a, alias_df, assertions_df,
                              input_fingerprint="batch-a")
    rows_a = edge_rows(wd)
    stats = compact_table(spark, os.path.join(wd, "edges"),
                          partition_by=["pred", "bucket"],
                          small_file_bytes=256 * 1024 * 1024)
    compact_table(spark, os.path.join(wd, "nodes"),
                  partition_by=["kind"],
                  small_file_bytes=256 * 1024 * 1024)
    assert edge_rows(wd) == rows_a, "compaction changed rows"

    # expected delta tuples = the leaves a C-only first write produces
    wd_c = str(tmp_path_factory.mktemp("kgcompact_conly"))
    KGPipeline(spark, wd_c).run(c, alias_df, assertions_df,
                                input_fingerprint="batch-c")
    c_tuples = set(edges_leaves(wd_c))

    snap_before = edges_leaves(wd)
    KGPipeline(spark, wd).run(c, alias_df, assertions_df,
                              input_fingerprint="batch-c")
    snap_after = edges_leaves(wd)
    untouched = [d for d in snap_before if d not in c_tuples]
    assert untouched, "expected compacted buckets outside the delta"
    for d in untouched:
        assert snap_after[d] == snap_before[d], \
            f"compacted leaf {d} rewritten by an unrelated delta"

    # uncompacted control: same batches, no maintenance pass
    wd2 = str(tmp_path_factory.mktemp("kgnocompact"))
    KGPipeline(spark, wd2).run(a, alias_df, assertions_df,
                               input_fingerprint="batch-a")
    KGPipeline(spark, wd2).run(c, alias_df, assertions_df,
                               input_fingerprint="batch-c")
    assert edge_rows(wd) == edge_rows(wd2)
    if stats["dirs_compacted"]:
        assert stats["files_after"] < stats["files_before"]


def test_tombstones_keyed_per_snapshot(spark, alias_df, tmp_path):
    """A re-crawl of a url whose EARLIER snapshot yielded triples must
    still be tombstoned when its own text is clean — tombstones key on
    (url, warc_ts), not url, or 'scanned and clean' collapses back
    into 'never scanned' for the re-crawled snapshot."""
    import datetime
    rich = ("<html><head><title>t</title></head><body>"
            "<p>Ada Lovelace works for Acme Industries.</p>"
            "</body></html>").encode()
    clean = ("<html><head><title>t</title></head><body>"
             "<p>nothing of substance here today</p>"
             "</body></html>").encode()
    t1 = datetime.datetime(2025, 1, 1)
    t2 = datetime.datetime(2025, 6, 1)
    pages = spark.createDataFrame(
        [("http://recrawl.test/a", t1, rich, None, "en"),
         ("http://recrawl.test/a", t2, clean, None, "en")],
        "url string, warc_ts timestamp, html binary, "
        "text string, lang string")
    pipe = KGPipeline(spark, str(tmp_path / "wd"))
    out = pipe.run(pages, alias_df, None,
                   input_fingerprint="recrawl-test")
    triples = {(r.url, r.warc_ts) for r in
               out["triples"].select("url", "warc_ts")
               .distinct().collect()}
    tombs = {(r.url, r.warc_ts) for r in out["tombstones"].collect()}
    assert ("http://recrawl.test/a", t1) in triples
    assert ("http://recrawl.test/a", t2) not in triples
    assert tombs == {("http://recrawl.test/a", t2)}, \
        "clean re-crawl snapshot must be tombstoned"


def test_advisory_page_merges_components(spark, tmp_path):
    """Parser-asserted equivalence (the advisory dialect): two
    surfaces with no shared alias and no lexical similarity merge
    into ONE component ONLY when a #KGADV document asserting their
    equality is in the corpus — the VulnEqual/PkgEqual equality
    ingest (assembler.go:99-103) flowing into connected_components
    alongside linker edges. No caller-side assertions fixture: the
    merge evidence is parsed from the document or it doesn't exist."""
    from datetime import datetime
    ts = datetime(2024, 1, 1)
    base = [
        ("https://x.example.com/a", ts,
         b"<p>Zorblatt Industries acquired Widget X.</p>", None, "en"),
        ("https://x.example.com/b", ts,
         b"<p>Vexcorp Amalgamated acquired Widget Y.</p>", None, "en"),
    ]
    adv = [("https://x.example.com/adv", ts,
            b"#KGADV v1\nequal: Zorblatt Industries == "
            b"Vexcorp Amalgamated\n", None, "en")]
    schema = ("url string, warc_ts timestamp, html binary, "
              "text string, lang string")
    alias = spark.createDataFrame(
        [("unrelated surface", "ent:guac/unrelated")],
        "surface string, canonical_key string")

    def canon_of(out):
        comp = {r.member_key: r.canon_key
                for r in out["components"].collect()}
        z = "ent:guac/zorblatt industries"  # the C3 fallback keys
        v = "ent:guac/vexcorp amalgamated"
        return comp.get(z, z), comp.get(v, v)

    out_plain = KGPipeline(spark, str(tmp_path / "plain")).run(
        spark.createDataFrame(base, schema), alias,
        input_fingerprint="adv-plain")
    z, v = canon_of(out_plain)
    assert z != v  # no assertion document -> separate components

    out_adv = KGPipeline(spark, str(tmp_path / "adv")).run(
        spark.createDataFrame(base + adv, schema), alias,
        input_fingerprint="adv-merged")
    z, v = canon_of(out_adv)
    assert z == v  # the parsed assertion is the ONLY merge evidence
    # same_as never leaks into the mention-edge stream
    assert out_adv["triples"].filter(
        F.col("pred") == "same_as").count() == 0
    assert out_adv["edges"].filter(
        F.col("pred") == "same_as").count() == 0
    # the advisory page yielded output, so it is NOT tombstoned
    assert out_adv["tombstones"].filter(
        F.col("url").contains("/adv")).count() == 0

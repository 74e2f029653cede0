"""O(delta) enrichment re-link — the §3.3 certifier feedback cycle
without re-running the corpus.

The reference's enrichment loop re-processes ONLY components without
fresh results (/root/reference/pkg/certifier/components/root_package/
root_package.go:127-184 — an anti-join against already-certified
packages) and feeds the answers back through the same idempotent
assembler upserts. The round-2/3 translation re-ran link→materialize
over the FULL corpus whenever the dictionary fingerprint changed;
this module is the at-scale version: promotion of N surfaces costs
work proportional to the surfaces' mention evidence, not the corpus.

Pipeline of the delta pass (`apply_promotions`):

1. delta-link: only previously-`fallback` norms can change when the
   dictionary grows (link.relink_fallbacks) → merge the changed rows
   into the links table (O(vocab) unpartitioned merge).
2. equivalence edges + connected components recompute — both are
   O(vocab), never corpus-sized.
3. key remap: (old final canonical key → new final canonical key)
   for the changed norms plus every component member whose canon
   moved (components only MERGE under a grown dictionary, so the map
   is functional).
4. exact graph patch: evidence rows touching a remapped key are
   re-resolved through the standard resolver (same code path as the
   full pipeline — resolve_triples → build_edges/page_edges), so
   n_evidence / first_seen / last_seen / match_level are EXACT, not
   sum-approximated; stale rows (including the promoted `ent:guac/…`
   fallback identities — round-3 advice #3) are RETRACTED via
   merge_upsert's delete_keys, nodes committed before edges.
5. every dictionary-dependent lineage record (pipeline._DICT_STAGES)
   is re-stamped with pipeline.stage_fingerprints under the enriched
   dictionary, so a subsequent `KGPipeline.run` with the same corpus +
   enriched dictionary resumes every stage.

Crash safety: the delta (changed links + key remap) is JOURNALED to
`_enrich_pending/` BEFORE the first table mutation — the Iceberg
analog of staging a transaction's data files before the metadata
swap. A re-run after a mid-patch crash cannot recompute the delta
(the links table may already carry the promoted rows), so it resumes
from the journal; every mutation is idempotent given that delta, and
the journal is retired only after lineage is stamped.

Deliberate deviation, documented: the fuzzy (LSH) tier is not
re-evaluated against the new dictionary entries (dict outranks lsh;
the next batch's ingest re-links its vocabulary in full — the same
eventual consistency as the reference's periodically-polling
certifier). And the patch requires the workdir's evidence table to
cover the corpus being patched (single-corpus contract, asserted) —
a multi-batch accumulation needs the per-batch evidence retention a
real Iceberg deployment keeps, or a full re-ingest.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from guackg import io as gio
from guackg.cc import canonicalize_keys, connected_components
from guackg.lineage import Lineage
from guackg.link import (equivalence_edges_from_links,
                         identifier_candidates, relink_fallbacks)
from guackg.materialize import (EDGE_SINK, NODE_SINK, build_edges,
                                build_nodes, page_key_map,
                                resolve_triples)
from guackg.pipeline import (_DICT_STAGES, canonicalize_edges, page_edges,
                             side_input_fps, stage_fingerprints)


def _mark(df: DataFrame, keys: DataFrame, col: str, marker: str) -> DataFrame:
    """Broadcast membership marker: adds boolean-ish `marker` column
    (non-null ⇔ df[col] ∈ keys). One broadcast hash join, no dup rows
    (the membership frame is key-distinct)."""
    side = keys.select(F.col(keys.columns[0]).alias(col)).distinct() \
        .withColumn(marker, F.lit(1))
    return df.join(F.broadcast(side), on=col, how="left")


def apply_promotions(
    spark: SparkSession,
    workdir: str,
    promoted: DataFrame,
    alias_enriched: DataFrame,
    assertions: DataFrame | None = None,
    input_fingerprint: str = "",
) -> dict:
    """Apply a promotion batch (surface, canonical_key, kind) to a
    built workdir. `alias_enriched` is the FULL enriched dictionary
    (old ∪ promoted) — its content fingerprint stamps the lineage.
    Returns a stats dict (promotions, changed links, remapped keys,
    affected evidence rows, edge upserts/deletes)."""
    lineage = Lineage(workdir)
    out = lambda name: os.path.join(workdir, name)  # noqa: E731
    t0 = time.time()
    # promotions typically derive from THIS workdir's candidate table
    # (the collectsub queue), which this pass overwrites — pin the
    # rows now so no consumer chases deleted files later
    promoted = promoted.localCheckpoint()

    fps = stage_fingerprints(input_fingerprint,
                             *side_input_fps(alias_enriched, assertions))
    # single-corpus contract: the evidence table must belong to the
    # corpus we are patching (see module docstring)
    trip_rec = lineage.read("triples")
    if not trip_rec or trip_rec["fingerprint"] != fps["triples"]:
        raise ValueError(
            "workdir evidence does not match input_fingerprint="
            f"{input_fingerprint!r}; the delta re-link patches the "
            "corpus it was built from — run a full re-ingest instead")
    # its same_as rows are canonicalize input (never rewritten here)
    parsed = gio.read_table(spark, out("triples"))
    merge_fp = fps["graph_merge"]
    journal = os.path.join(workdir, "_enrich_pending")
    stats = {"promotions": promoted.count()}
    if os.path.exists(os.path.join(journal, "meta.json")):
        # ---- crash recovery: a previous patch died AFTER journaling
        # its delta but before finishing. The links table may already
        # carry the promoted rows (so relink_fallbacks would find
        # nothing), therefore the journal — written before any table
        # mutation — is the authoritative delta; every write below is
        # idempotent, so replaying it completes the patch.
        import json as _json
        with open(os.path.join(journal, "meta.json")) as f:
            meta = _json.load(f)
        if meta["merge_fp"] != merge_fp:
            raise ValueError(
                "a different promotion batch died mid-patch "
                f"(journal {meta['merge_fp']!r} vs {merge_fp!r}); "
                "finish or remove _enrich_pending first")
        changed = spark.read.parquet(os.path.join(journal, "changed")) \
            .localCheckpoint()
        touched = spark.read.parquet(os.path.join(journal, "touched")) \
            .localCheckpoint()
        n_changed = changed.count()
        stats["resumed_from_journal"] = True
    else:
        # materialize the pre-patch snapshots eagerly: both tables are
        # overwritten below, and a lazy read would chase deleted files
        # (both are O(vocab)-sized)
        links_old = gio.read_table(spark, out("link")).localCheckpoint()
        comps_old = gio.read_table(spark,
                                   out("canonicalize")).localCheckpoint()

        # ---- 1. delta link: O(promotions). Computed BEFORE any table
        # mutation so the journal below captures the full delta.
        changed = relink_fallbacks(links_old, promoted).localCheckpoint()
        n_changed = changed.count()
        if n_changed == 0:
            # nothing will change — no mutation, no journal; stamp the
            # enriched-dict lineage (the tables ARE the delta-rule
            # outputs) and return
            stats["changed_links"] = 0
            stats["remapped_keys"] = 0
            _record_lineage(spark, lineage, out, fps)
            stats["elapsed_sec"] = round(time.time() - t0, 2)
            return stats

        # ---- 2. the post-patch link/component state, computed
        # logically (no writes yet): links_new = links_old with the
        # changed rows substituted; CC over its equivalence edges
        links_new_logical = (links_old.join(changed.select("norm"),
                                            on="norm", how="left_anti")
                             .unionByName(changed))
        comps_new = connected_components(canonicalize_edges(
            equivalence_edges_from_links(links_new_logical), parsed,
            links_new_logical, assertions)).localCheckpoint()

        # ---- 3. key remap (old final key → new final key)
        # (a) the changed norms: their old identity was the fallback
        # key (canon-resolved under the OLD components), the new one
        # is the promoted key canon-resolved under the NEW components
        a = (changed.select("norm", F.col("canonical_key").alias("_nk"))
             .join(links_old.select("norm",
                                    F.col("canonical_key").alias("_ok")),
                   on="norm"))
        a = canonicalize_keys(a, "_ok", comps_old)
        a = canonicalize_keys(a, "_nk", comps_new).select("_ok", "_nk")
        # (b) members whose canon moved (components only merge when
        # the dictionary grows ⇒ old-canon → new-canon is functional)
        b = (comps_old.select("member_key",
                              F.col("canon_key").alias("_ok"))
             .join(comps_new.select("member_key",
                                    F.col("canon_key").alias("_nk")),
                   on="member_key")
             .filter(F.col("_ok") != F.col("_nk"))
             .select("_ok", "_nk"))
        # dedupe by PAIR, not by _ok: the old→new mapping is NOT
        # functional — two fallback norms whose ent:guac/ keys an
        # assertion joined into ONE old component can be promoted to
        # two DIFFERENT identities in the same batch (the old entity
        # splits). Deduping on _ok alone would drop one new key from
        # the touched set, and its page-mention edges would be
        # filtered out of the rebuild below. Downstream only consumes
        # the _ok/_nk KEY SETS (retraction + affected marking), never
        # the pairs as a map, so multi-valued _ok is safe.
        touched = a.unionByName(b).dropDuplicates(["_ok", "_nk"]) \
            .localCheckpoint()

        # ---- journal the delta BEFORE the first table mutation: a
        # crash anywhere past this point resumes from these rows
        import json as _json
        os.makedirs(journal, exist_ok=True)
        changed.write.mode("overwrite") \
            .parquet(os.path.join(journal, "changed"))
        touched.write.mode("overwrite") \
            .parquet(os.path.join(journal, "touched"))
        tmp_meta = os.path.join(journal, "meta.json.tmp")
        with open(tmp_meta, "w") as f:
            _json.dump({"merge_fp": merge_fp}, f)
        os.replace(tmp_meta, os.path.join(journal, "meta.json"))

    stats["changed_links"] = n_changed
    # retraction applies only where the key actually MOVED; but the
    # affected-evidence set must cover ALL touched identities — a
    # promotion that keeps the fallback's own key (surface confirmed
    # under its synthesized identity) still upgrades match_level on
    # every edge it witnesses
    remap = touched.filter(F.col("_ok") != F.col("_nk"))
    old_keys = remap.select(F.col("_ok").alias("k")).distinct()
    new_keys = touched.select(F.col("_nk").alias("k")).distinct()
    both_keys = (touched.select(F.col("_ok").alias("k"))
                 .unionByName(new_keys).distinct())
    stats["remapped_keys"] = old_keys.count()

    # ---- mutations begin (each idempotent given the journaled delta)
    gio.merge_upsert(spark, changed, out("link"), keys=["norm"],
                     require_existing=True)
    links_new = gio.read_table(spark, out("link"))
    equiv = equivalence_edges_from_links(links_new)
    gio.write_table(equiv, out("equivalence_edges"))
    equiv = gio.read_table(spark, out("equivalence_edges"))
    # recomputed from the POST-merge links table — identical to the
    # pre-journal logical computation (CC is deterministic in its edge
    # set), and the only correct source on a journal resume
    comps_new = connected_components(
        canonicalize_edges(equiv, parsed, links_new, assertions))
    gio.write_table(comps_new, out("canonicalize"))
    comps_new = gio.read_table(spark, out("canonicalize"))

    # ---- 4. exact patch of the graph tables
    tr = gio.read_table(spark, out("materialize"))
    tr_cols = tr.columns
    marked = _mark(_mark(tr, both_keys, "subj_key", "_m1"),
                   both_keys, "obj_key", "_m2")
    aff = marked.filter(F.col("_m1").isNotNull()
                        | F.col("_m2").isNotNull()).drop("_m1", "_m2")
    raw = aff.select("url", "warc_ts", "pred", "subj_surface",
                     "obj_surface", "extractor")
    re_res = resolve_triples(raw, links_new, comps_new).localCheckpoint()
    stats["affected_evidence_rows"] = re_res.count()

    n_buckets = gio.edge_bucket_count(out("edges"))
    pedges = page_edges(spark, lineage, re_res,
                        page_key_map(gio.read_table(spark, out("extract"))),
                        n_buckets)
    # the mention explode creates PARTIAL groups for stable entities
    # co-mentioned on affected rows — only groups whose entity
    # identity is in the remap image actually changed, and those are
    # complete (every row carrying such a key is affected by
    # construction)
    pedges = _mark(pedges, new_keys, "obj_key", "_mk") \
        .filter(F.col("_mk").isNotNull()).drop("_mk")
    new_edges = build_edges(re_res, n_buckets=n_buckets).unionByName(pedges)

    edges_old = gio.read_table(spark, out("edges"))
    aff_old_edges = (
        _mark(_mark(edges_old, both_keys, "subj_key", "_m1"),
              both_keys, "obj_key", "_m2")
        .filter(F.col("_m1").isNotNull() | F.col("_m2").isNotNull())
        .select("subj_key", "pred", "obj_key", "bucket")
        .localCheckpoint())
    stats["edges_retracted_or_rewritten"] = aff_old_edges.count()

    nodes_old = gio.read_table(spark, out("nodes"))
    stale_nodes = (_mark(nodes_old, old_keys, "canonical_key", "_m")
                   .filter(F.col("_m").isNotNull())
                   .select("canonical_key", "kind").localCheckpoint())
    stats["nodes_retracted"] = stale_nodes.count()
    new_nodes = build_nodes(re_res, comps_new)

    # nodes commit BEFORE edges commit (assembler order, bulk.go) —
    # the delta volumes are small, so sequential commits are fine
    fanout = gio.merge_fanout(spark)
    gio.merge_upsert(spark, new_nodes, out("nodes"), **NODE_SINK,
                     fanout=fanout, delete_keys=stale_nodes,
                     require_existing=True)
    gio.merge_upsert(spark, new_edges, out("edges"), **EDGE_SINK,
                     fanout=fanout, delete_keys=aff_old_edges,
                     require_existing=True)

    # keep the evidence table consistent for the NEXT delta round:
    # one narrow read→write (no shuffle) replacing the affected rows
    # with their re-resolved form. NOT optional: a stale evidence
    # table would be stamped under the enriched lineage below, and a
    # second promotion round marks affected rows against the CURRENT
    # links — rows still keyed to retracted identities would silently
    # escape the remap
    unaffected = marked.filter(F.col("_m1").isNull()
                               & F.col("_m2").isNull()) \
        .drop("_m1", "_m2").select(*tr_cols)
    gio.write_table(unaffected.unionByName(re_res.select(*tr_cols)),
                    out("materialize"))

    # identifier side-channel: promoted norms are no longer candidates
    freq = gio.read_table(spark, out("mention_freq"))
    gio.write_table(identifier_candidates(links_new, freq=freq),
                    out("identifier_candidates"))

    _record_lineage(spark, lineage, out, fps)
    # patch fully committed + lineage stamped → retire the journal
    import shutil
    shutil.rmtree(journal, ignore_errors=True)
    stats["elapsed_sec"] = round(time.time() - t0, 2)
    return stats


def _record_lineage(spark, lineage, out, fps) -> None:
    """Stamp every dict-dependent stage with the enriched dictionary's
    fingerprint — the exact fingerprints KGPipeline._run uses, so a
    later run with the same corpus + enriched dict resumes all of them
    (lineage is recorded only after all tables are durably swapped,
    preserving the crash story: a failure mid-patch re-runs the delta,
    whose merges are idempotent)."""
    for stage in _DICT_STAGES:
        path = out("edges" if stage == "graph_merge" else stage)
        lineage.record(stage, fps[stage], gio.read_table(spark, path),
                       table_path=path)

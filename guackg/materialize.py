"""Stage 5 — MATERIALIZE: resolved triples → nodes / edges tables.

The graph-assembler analog (/root/reference/pkg/assembler/clients/
helpers/bulk.go:29-191): dedup node specs across all predicates
BEFORE writing (assembler.go:198-578 GetPackages/GetArtifacts/…),
write nodes first then edges (bulk.go fixed mutation order), and dedup
edges on the full property tuple (inmem/isDependency.go:100-149 —
duplicate iff ALL of src/dst/justification/origin/collector equal).

Identity: entity_id = xxhash64(canonical_key) — deterministic, no
global sequence (the scale-out replacement for guac's atomic uint32,
backend.go:73-75); safe to recompute on any executor, any run.

Tables (Iceberg at scale; parquet here; layouts in NODE_SINK /
EDGE_SINK):
- nodes(entity_id, kind, canonical_key)       partition: kind
- edges(src_id, pred, dst_id, n_evidence, first_seen, last_seen,
        match_level, subj_key, obj_key, bucket)
                                              partition: (pred, bucket)
- triples_resolved(url, warc_ts, subj_key, pred, obj_key,
        subj_surface, obj_surface, extractor, match_level)
                                              evidence table

Skew note: the edge aggregation groups by (subj_key, pred, obj_key)
— head entities produce hot keys, but partial aggregation (map-side
combine, automatic for count/min/max) absorbs them; AQE splits any
residual skewed reduce partition. A two-stage salted aggregate is not
needed for algebraic aggs (only for collect_list-style holistic ones).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from guackg.cc import canonicalize_keys
from guackg.link import normalize_surface_col


# The graph tables' merge_upsert layout, shared by every writer (the
# pipeline's ingest merge, the enrichment patch) and the compaction
# scripts. assume_unique: build_nodes dedups on canonical_key and the
# page: namespace is disjoint from every entity namespace; both edge
# branches are groupBys on the edge key and pred='mentions' is
# disjoint from the predicate vocab. Edges partition on two levels
# (pred, bucket=pmod(xxhash64(subj_key), B)): pred has cardinality
# O(10) and 'mentions' holds ~80% of all edges, so pruning on pred
# alone rewrites most of the table per increment — the key-derived
# bucket prunes rewrites to the buckets the delta actually touches.
NODE_SINK = {"keys": ["canonical_key"], "partition_by": ["kind"],
             "assume_unique": True}
EDGE_SINK = {"keys": ["subj_key", "pred", "obj_key"],
             "partition_by": ["pred", "bucket"], "assume_unique": True}


def page_key_map(extract: DataFrame) -> DataFrame:
    """(url, warc_ts, page_key) from the extract table: a page's node
    key is 'page:' || page_sha256 (the T10 HasSBOM-digest identity)."""
    return extract.select(
        "url", "warc_ts",
        F.concat(F.lit("page:"), F.col("page_sha256")).alias("page_key"))


def kind_of_key(col: F.Column) -> F.Column:
    """Entity kind derived from the canonical-key namespace
    (ent:<kind>/<slug>; page:<sha256> is a document node; anything
    else is an external identity). The extraction must NEVER yield an
    empty string: kind is the nodes table's partition column, and an
    empty partition value round-trips through the Hive layout as
    __HIVE_DEFAULT_PARTITION__ → NULL, which the incremental merge's
    affected-partition filter (isin on the delta's kinds) can never
    match — old rows in that partition would be silently dropped on
    the next upsert. Malformed ent: keys (no slash, empty kind
    segment) therefore fall back to 'external'.

    The accepted kind charset is FILESYSTEM-LITERAL ([A-Za-z0-9_.-])
    by construction: kind is a partition column, and Spark
    Hive-escapes other bytes in the directory name (':' → '%3A'),
    which would break merge_upsert's literal `col=value` directory
    arithmetic (emptied-partition cleanup) — a user dictionary whose
    canonical keys carry an exotic kind segment (`ent:a:b/x`) lands
    in 'external' instead of minting an escaped partition dir. The
    sink double-checks the same contract loudly (io.merge_upsert)."""
    # first char must be alphanumeric — EXACTLY io._PART_VALUE_SAFE's
    # rule, or a key like 'ent:_private/x' would mint a kind the sink
    # guard rejects (crash) instead of falling back to 'external'
    kind = F.nullif(
        F.regexp_extract(col, r"^ent:([A-Za-z0-9][A-Za-z0-9_.-]*)/", 1),
        F.lit(""))
    return F.when(col.startswith("ent:guac/"), F.lit("unlinked")) \
        .when(col.startswith("ent:"),
              F.coalesce(kind, F.lit("external"))) \
        .when(col.startswith("page:"), F.lit("page")) \
        .otherwise(F.lit("external"))


# link-method confidence ranks (C11 MatchFlags analog: the reference
# splits version-level vs name-level matches on every pkg predicate,
# bulk.go:334-365 / parser/common/helpers.go:125-131; here the levels
# are dictionary-exact / LSH-fuzzy / unlinked-fallback)
_METHOD_RANK = {"dict": 2, "lsh": 1, "fallback": 0}
MATCH_LEVELS = ["unlinked", "fuzzy", "exact"]  # index == rank


def match_level_col(rank_col: F.Column) -> F.Column:
    return F.element_at(F.array(*[F.lit(x) for x in MATCH_LEVELS]),
                        rank_col.cast("int") + 1)


def resolve_triples(triples: DataFrame, links: DataFrame,
                    components: DataFrame) -> DataFrame:
    """surface triples + links(norm→canonical_key) + CC components
    → triples with final canonical subj_key/obj_key.

    Two hash joins against the links table (small relative to triples;
    broadcast at test scale, shuffle join at web scale) + two CC
    rewrites. Each triple carries `match_level` (C11): the weaker of
    its two endpoints' link methods — exact (both dictionary), fuzzy
    (an LSH endpoint), unlinked (a fallback endpoint)."""
    rank = F.when(F.col("method") == "dict", 2) \
        .when(F.col("method") == "lsh", 1).otherwise(0)
    link_map = links.select("norm", "canonical_key", rank.alias("rank"))
    t = triples.withColumn("subj_norm",
                           normalize_surface_col(F.col("subj_surface"))) \
               .withColumn("obj_norm",
                           normalize_surface_col(F.col("obj_surface")))
    t = t.join(link_map.withColumnRenamed("norm", "subj_norm")
               .withColumnRenamed("canonical_key", "subj_key")
               .withColumnRenamed("rank", "subj_rank"),
               on="subj_norm", how="left")
    t = t.join(link_map.withColumnRenamed("norm", "obj_norm")
               .withColumnRenamed("canonical_key", "obj_key")
               .withColumnRenamed("rank", "obj_rank"),
               on="obj_norm", how="left")
    t = t.withColumn("subj_key", F.coalesce(
            "subj_key", F.concat(F.lit("ent:guac/"), F.col("subj_norm")))) \
         .withColumn("obj_key", F.coalesce(
            "obj_key", F.concat(F.lit("ent:guac/"), F.col("obj_norm")))) \
         .withColumn("match_rank",
                     F.least(F.coalesce("subj_rank", F.lit(0)),
                             F.coalesce("obj_rank", F.lit(0))))
    t = canonicalize_keys(t, "subj_key", components)
    t = canonicalize_keys(t, "obj_key", components)
    return t.select("url", "warc_ts", "subj_key", "pred", "obj_key",
                    "subj_surface", "obj_surface", "extractor",
                    match_level_col(F.col("match_rank"))
                    .alias("match_level"))


def build_nodes(resolved: DataFrame, components: DataFrame) -> DataFrame:
    """Node table: every distinct canonical key referenced by a triple
    or a component member (assembler GetPackages-style cross-predicate
    dedup, assembler.go:198-314)."""
    from_triples = resolved.select(
        F.col("subj_key").alias("canonical_key")).union(
        resolved.select(F.col("obj_key").alias("canonical_key")))
    from_components = components.select(
        F.col("canon_key").alias("canonical_key"))
    keys = from_triples.union(from_components) \
        .dropDuplicates(["canonical_key"])
    return keys.select(
        F.xxhash64("canonical_key").alias("entity_id"),
        kind_of_key(F.col("canonical_key")).alias("kind"),
        "canonical_key",
    )


def build_edges(resolved: DataFrame,
                n_buckets: int | None = None) -> DataFrame:
    """Edge table with evidence rollup. Evidence identity is the full
    property tuple (guac's exact-tuple duplicate rule,
    isDependency.go:109-149): n_evidence counts DISTINCT
    (url, extractor) witnesses per edge — one shuffle, with first/last
    seen over all sightings (deterministic, unlike dedup-then-min
    which keeps an arbitrary row's timestamp per duplicate tuple).
    `match_level` keeps the STRONGEST evidence level seen for the
    edge (C11: an edge proven by a dictionary match stays 'exact'
    even if a fuzzy sighting also exists).

    `n_buckets` (optional) makes the aggregation WRITE-ALIGNED: the
    edges table partitions on (pred, bucket=pmod(xxhash64(subj_key),
    B)), and since that tuple is a function of the grouping keys, the
    stream can be hash-distributed on it ONCE up front — both phases
    of the distinct aggregation then reuse that exchange (Catalyst's
    ClusteredDistribution subset rule: HashPartitioning(pred, bucket)
    clusters every (subj, pred, obj[, url, extractor]) group), the
    output lands already laid out for the partitioned sink, and no
    further repartition is needed before the write. One shuffle total
    instead of three (two agg exchanges + the sink spread). The
    output then carries the `bucket` column. Without n_buckets the
    plain (s, p, o)-hashed plan is kept (oracle queries)."""
    src = resolved
    if "match_level" not in src.columns:
        src = src.withColumn("match_level", F.lit("exact"))
    rank = F.when(F.col("match_level") == "exact", 2) \
        .when(F.col("match_level") == "fuzzy", 1).otherwise(0)
    src = src.withColumn("_rank", rank)
    group = ["subj_key", "pred", "obj_key"]
    extra = []
    if n_buckets is not None:
        src = src.withColumn(
            "bucket", F.pmod(F.xxhash64("subj_key"), F.lit(n_buckets))) \
            .repartition("pred", "bucket")
        group.append("bucket")
        extra = ["bucket"]
    return (src
            .groupBy(*group)
            .agg(F.countDistinct("url", "extractor").alias("n_evidence"),
                 F.min("warc_ts").alias("first_seen"),
                 F.max("warc_ts").alias("last_seen"),
                 F.max("_rank").alias("_best_rank"))
            .select(F.xxhash64("subj_key").alias("src_id"),
                    "pred",
                    F.xxhash64("obj_key").alias("dst_id"),
                    "n_evidence", "first_seen", "last_seen",
                    match_level_col(F.col("_best_rank"))
                    .alias("match_level"),
                    "subj_key", "obj_key", *extra))


def page_map_fits_broadcast(n_rows: int) -> bool:
    """Whether an extract-stage page map of `n_rows` rows fits the
    64 MiB broadcast budget at ~150 B/row (url + ts + 'page:'+sha key).
    Its one caller is pipeline.page_edges, which the ingest merge and
    the enrichment patch both build page edges through, feeding it the
    EXACT row count from lineage, not Catalyst's estimate."""
    return bool(n_rows) and n_rows * 150 <= 64 * 1024 * 1024


def page_mention_edges(resolved: DataFrame,
                       page_keys: DataFrame,
                       broadcast_page_map: bool = False,
                       n_buckets: int | None = None,
                       agg_salt: int = 1) -> DataFrame:
    """AGGREGATED page→entity `mentions` edges in the build_edges
    output shape — the HasSBOM page-digest link (T9/T10,
    parser/common/helpers.go:110-123: the document node points at
    everything it attests).

    Deliberately NOT routed through build_edges: the page key is 1:1
    with url, so evidence identity collapses to the extractor alone —
    grouping directly by (page_key, obj_key) skips the generic
    countDistinct(url, extractor) expansion over the exploded mention
    rows (2× the triple count), and the entity node set is untouched
    (page nodes are appended separately by `page_node_rows`).

    page_keys: (url, warc_ts, page_key) from `page_key_map` — it
    carries the url-level crawl timestamp so NO second scan of the
    resolved table is needed for ts bounds (a url's triples all
    inherit its single warc_ts; duplicate url rows, if any, fold in
    the final min/max).

    ONE heavy exchange total. The exploded mention stream joins the
    (url → page_key, ts) map FIRST, then aggregates straight to
    (page, entity, extractor). A url-level dropDuplicates before the
    join is deliberately ABSENT: the groupBy's map-side partial
    aggregation collapses exactly the same duplicate sightings the
    dedup would, without paying a second 2×|triples| shuffle
    (measured: the dedup-then-join plan cost ~3.5× more wall on this
    stage). Evidence stays a two-phase distinct-witness count (group
    by (page, entity, extractor), then count the witness groups) so
    every exchange is map-side combinable.

    `broadcast_page_map` contract: the page map is an O(corpus)
    relation, so the BROADCAST decision must come from REAL
    statistics, not Catalyst's plan-time estimate — measured failure:
    a project+explode over dictionary-compressed parquet estimates at
    ~2 bytes/row, so with any raised auto-broadcast threshold the
    planner broadcasts the 10×-larger MENTION stream through the
    driver. pipeline.page_edges passes True only when the extract
    lineage's exact row count bounds the map under the broadcast
    budget; False PINS a shuffle join with a merge hint — correct at
    10^12 docs where the map measures in TBs, and free in
    between (with the real map >10 MB, AQE would never have converted
    to broadcast anyway). The hint exists because leaving the planner
    free is actively unsafe here: the ~2 B/row estimate puts the
    mention stream under ANY threshold at small-to-mid corpus sizes,
    and the planner then builds a multi-GB hash relation on the
    driver."""
    pairs = (resolved
             .select("url", "extractor",
                     F.explode(F.array("subj_key", "obj_key"))
                     .alias("obj_key")))
    pmap = (F.broadcast(page_keys) if broadcast_page_map
            else page_keys.hint("merge"))
    joined = pairs.join(pmap, on="url")
    group1 = ["page_key", "obj_key", "extractor"]
    group2 = ["page_key", "obj_key"]
    extra = []
    if n_buckets is not None:
        # write-aligned distribution, same rule as build_edges: the
        # sink partitions this branch under (pred='mentions',
        # bucket=pmod(xxhash64(page_key), B)), so hash-distributing on
        # the bucket once lets BOTH aggregation levels and the
        # partitioned write reuse a single exchange. With fewer
        # buckets than cores that one exchange would also CAP the
        # branch at n_buckets tasks — `agg_salt` (deploy-sized to
        # ~cores/buckets; 1 when buckets ≥ cores) widens it with a
        # key-DETERMINISTIC salt on the object: salt = f(obj_key)
        # rides in both grouping levels without splitting any
        # (page, obj) group, so semantics are untouched and each
        # bucket dir simply gets agg_salt parallel-encoded files (the
        # Iceberg fanout-writer shape).
        joined = joined.withColumn(
            "bucket", F.pmod(F.xxhash64("page_key"), F.lit(n_buckets)))
        parts = ["bucket"]
        if agg_salt > 1:
            joined = joined.withColumn(
                "_osalt", F.pmod(F.xxhash64("obj_key"), F.lit(agg_salt)))
            parts.append("_osalt")
            group1.append("_osalt")
            group2.append("_osalt")
        joined = joined.repartition(*parts)
        group1.append("bucket")
        group2.append("bucket")
        extra = ["bucket"]
    witnesses = (joined
                 .groupBy(*group1)
                 .agg(F.min("warc_ts").alias("_ts_min"),
                      F.max("warc_ts").alias("_ts_max")))
    return (witnesses
            .groupBy(*group2)
            .agg(F.count("*").alias("n_evidence"),
                 F.min("_ts_min").alias("first_seen"),
                 F.max("_ts_max").alias("last_seen"))
            .select(F.xxhash64("page_key").alias("src_id"),
                    F.lit("mentions").alias("pred"),
                    F.xxhash64("obj_key").alias("dst_id"),
                    "n_evidence", "first_seen", "last_seen",
                    F.lit("exact").alias("match_level"),
                    F.col("page_key").alias("subj_key"),
                    "obj_key", *extra))


def page_node_rows(page_keys: DataFrame) -> DataFrame:
    """Page document nodes in the nodes-table shape (distinct by
    sha256 identity — duplicate html bodies collapse)."""
    return (page_keys.select(F.col("page_key").alias("canonical_key"))
            .dropDuplicates(["canonical_key"])
            .select(F.xxhash64("canonical_key").alias("entity_id"),
                    F.lit("page").alias("kind"), "canonical_key"))

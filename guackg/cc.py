"""Stage 4 — CANONICALIZE: connected components over equivalence edges.

The reference gets component identity for free: one process, one
RW-mutex, one interning trie — every equivalent surface lands on the
same in-memory node (/root/reference/pkg/assembler/backends/inmem/
backend.go:73-106, pkg.go:344-434). A distributed pipeline must
compute it: we run the alternating large-star/small-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14) as iterated DataFrame self-joins.

Node ids are the canonical-key STRINGS; the component representative
is the lexicographic min of the component (deterministic — no
sequence numbers, the scale-out replacement for guac's atomic uint32
id, backend.go:73-75).

Paths: a graph inside the driver bounds is solved by driver
union-find. A larger graph first has its degree-1 nodes (leaves)
peeled, and the driver-or-star rule then applies to the core: the
edges whose two endpoints both have degree > 1. The core is never
peeled again.

Leaf peeling: alias surface → canonical key is one edge per linked
surface, so most nodes of a real equivalence graph are leaves (94 %
of the nodes of the benchmark's long-tail graph, whose 1.05M edges
leave a 43k-edge core). One groupBy over both edge ends gives every
node its degree d and minimum neighbour m (a leaf's only neighbour).
It is exact because every inner node of a simple path has degree
≥ 2: the non-leaves of a component are connected by core edges
alone, and each of its leaves hangs off one of them — or off another
leaf, an isolated pair, whose canon is the smaller end. A non-leaf's
label is its core canon (itself if it has no core edge), a leaf takes
its neighbour's label, and the canon is the min over the label of
least(node, m), so a leaf can still be its component's minimum.

Cost: the groupBy over 2 × edges rows, two semi joins and one
relabel join, plus an aggregate over the non-leaves only. The
non-leaf set is broadcast to the joins when its measured size fits
Spark's autoBroadcastJoinThreshold, so the edges are scanned, not
shuffled. A graph with no leaves pays the groupBy and goes straight
to star contraction on all its edges: on a 1.1M-edge graph of
cycles (4 CPUs, local mode) that costs ~1 s on top of the ~30 s of
star contraction alone.

Star contraction: every iteration is two groupBys + two joins on the
node key (one of each per star step). Lineage is cut with
localCheckpoint every iteration (on a real cluster: checkpoint to the
job's scratch Iceberg/HDFS dir) so the plan doesn't grow
exponentially. Convergence is O(log n) iterations. The loop stops
after the first iteration whose oriented edges (u > v) form a star
forest: every u has one edge and no v is also a u. Star steps
preserve components and edges point down, so each star is a whole
component rooted at its minimum: an exact test, no confirming round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_ITERATIONS = 25

# Below these bounds the equivalence graph is collected and solved
# with driver-side union-find — the same adaptive small-side rule as a
# broadcast join (Spark's autoBroadcastJoinThreshold): a graph that
# fits on the driver costs one collect instead of O(log n) shuffle
# iterations. The star iterations remain the large-graph path. The
# BYTES bound is the binding one (1M edges of long URL keys is
# hundreds of MB once in a Python dict); 128 MB of raw key bytes
# ≈ ≲1 GB resident driver-side — safe inside an 8 GB driver.
DRIVER_CC_MAX_EDGES = 1_000_000
DRIVER_CC_MAX_BYTES = 128 * 1024 * 1024


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect strictly-larger neighbors to
    m = min(N(u) ∪ {u}). Output (v, m) has v > u ≥ m: already oriented,
    possibly duplicated (small star deduplicates)."""
    sym = edges.union(edges.select("v", "u"))  # by position: (v, u)
    mins = sym.groupBy("u").agg(F.least(F.min("v"), "u").alias("m"))
    return (sym.join(mins, on="u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v")))


def _small_star(edges: DataFrame) -> DataFrame:
    """Edges arrive oriented (u > v). For each u: connect all
    neighbors ≤ u (and u itself) to m = min neighbor."""
    mins = edges.groupBy("u").agg(F.min("v").alias("m"))
    nbr_edges = (edges.join(mins, on="u")
                 .select(F.col("v").alias("u"), F.col("m").alias("v")))
    self_edges = mins.select("u", F.col("m").alias("v"))
    return (nbr_edges.union(self_edges)
            .filter(F.col("u") != F.col("v"))
            .distinct())


def _is_star_forest(edges: DataFrame) -> bool:
    """True when no node that is a u has a second edge, in or out."""
    ends = edges.select("u", F.lit(1).alias("out")).union(
        edges.select("v", F.lit(0)))
    deg = ends.groupBy("u").agg(F.max("out").alias("out"),
                                F.count("*").alias("deg"))
    return deg.filter((F.col("out") == 1) & (F.col("deg") > 1)).count() == 0


def _checksum(edges: DataFrame) -> tuple[int, int]:
    """(edge count, total key bytes) in ONE 1-row agg — the sizes the
    driver-path decision needs."""
    row = edges.select(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.length("u") + F.length("v")), F.lit(0))
        .alias("b"),
    ).collect()[0]
    return int(row["n"]), int(row["b"])


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Small-graph path: collect edges, union-find on the driver,
    min-string representative — bit-identical output to the star
    iterations."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    # one collect job, NOT toLocalIterator: the latter runs a separate
    # sequential job per partition — pure per-job dispatch overhead
    # that grows with executor count (measured: the canonicalize stage
    # got SLOWER 2.7→5.0 s going 1→4 executor JVMs). The byte bound
    # checked by the caller guarantees the collect fits on the driver.
    for row in edges.collect():
        ra, rb = find(row[0]), find(row[1])
        if ra != rb:
            # min-string wins ⇒ canon == lexicographic component min
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    rows = [(k, find(k)) for k in parent]
    return edges.sparkSession.createDataFrame(
        rows, "member_key string, canon_key string")


def _star_contraction(edges: DataFrame, n_edges: int) -> DataFrame:
    """Large-star/small-star rounds up to the star forest, then its
    (member, root) mapping."""
    for _ in range(MAX_ITERATIONS):
        edges = _small_star(_large_star(edges)).localCheckpoint()
        if _is_star_forest(edges):
            break
    else:
        # never fall through silently: a member can still carry edges
        # to several roots, splitting its component in every table
        raise RuntimeError(
            f"connected_components did not converge after "
            f"{MAX_ITERATIONS} star iterations ({n_edges} edges); "
            "raise MAX_ITERATIONS — star contraction needs "
            "O(log n) rounds, so this indicates pathological input")

    # A star forest: every edge is (member, root), one per member.
    roots = edges.select(F.col("v").alias("member_key"),
                         F.col("v").alias("canon_key")).distinct()
    members = edges.select(F.col("u").alias("member_key"),
                           F.col("v").alias("canon_key"))
    return members.union(roots)


def _fits_driver(n_edges: int, n_bytes: int, driver_max_edges: int) -> bool:
    return n_edges <= driver_max_edges and n_bytes <= DRIVER_CC_MAX_BYTES


def _peeled_components(edges: DataFrame, n_edges: int,
                       driver_max_edges: int) -> DataFrame:
    """Peel the leaves, solve the core by the driver-or-star rule, and
    give every node its component minimum (module docstring)."""
    nodes = (edges.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
             .union(edges.select("v", "u"))
             .groupBy("node")
             .agg(F.count("*").alias("d"), F.min("nbr").alias("m"))
             .localCheckpoint())
    inner_flag = F.col("d") > 1
    stats = nodes.agg(
        F.count(F.when(~inner_flag, 1)).alias("leaves"),
        F.count(F.when(inner_flag, 1)).alias("inner"),
        F.coalesce(F.sum(F.when(inner_flag, F.octet_length("node"))),
                   F.lit(0)).alias("inner_bytes"),
    ).collect()[0]
    if stats["leaves"] == 0:
        return _star_contraction(edges, n_edges)

    # Broadcast by the measured size (an UnsafeRow is a 16-byte header
    # plus the key bytes), never Catalyst's estimate: unhinted, the
    # semi joins can shuffle every edge. The relabel map holds a
    # second key per row, so the same size doubled must fit.
    threshold = (edges.sparkSession._jsparkSession.sessionState().conf()
                 .autoBroadcastJoinThreshold())
    size = 16 * stats["inner"] + stats["inner_bytes"]
    small = 2 * size <= threshold

    def side(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small else df

    inner = nodes.filter(inner_flag)
    core = (edges
            .join(side(inner.select(F.col("node").alias("u"))), "u",
                  "left_semi")
            .join(side(inner.select(F.col("node").alias("v"))), "v",
                  "left_semi")
            .select("u", "v")  # a USING join puts its key first
            .localCheckpoint())
    n_core, core_bytes = _checksum(core)
    if _fits_driver(n_core, core_bytes, driver_max_edges):
        core_comp = _driver_union_find(core)
    else:
        core_comp = _star_contraction(core, n_core)

    labelled = (inner
                .join(core_comp.withColumnRenamed("member_key", "node"),
                      "node", "left")
                .select("node",
                        F.coalesce("canon_key", "node").alias("label"),
                        F.least("node", "m").alias("lm"))
                .localCheckpoint())
    canon = labelled.groupBy("label").agg(F.min("lm").alias("canon"))
    relabel = labelled.join(canon, "label").select(
        F.col("node").alias("key"), "canon")
    return (nodes
            .withColumn("key", F.when(inner_flag, F.col("node"))
                        .otherwise(F.col("m")))
            .join(side(relabel), "key", "left")
            .select(F.col("node").alias("member_key"),
                    F.coalesce("canon", F.least("node", "m"))
                    .alias("canon_key")))


def connected_components(
    equivalence_edges: DataFrame,
    key_a: str = "key_a",
    key_b: str = "key_b",
    driver_max_edges: int = DRIVER_CC_MAX_EDGES,
) -> DataFrame:
    """equivalence_edges → components(member_key, canon_key), one row
    per node that appears in any edge (singletons are implicit: a key
    absent here is its own canon)."""
    a, b = F.col(key_a), F.col(key_b)
    # oriented u > v, so an edge given both ways counts once
    edges = (equivalence_edges
             .filter(a.isNotNull() & b.isNotNull() & (a != b))
             .select(F.greatest(a, b).alias("u"), F.least(a, b).alias("v"))
             .distinct()
             .localCheckpoint())

    n_edges, n_bytes = _checksum(edges)
    if _fits_driver(n_edges, n_bytes, driver_max_edges):
        return _driver_union_find(edges)
    return _peeled_components(edges, n_edges, driver_max_edges)


def canonicalize_keys(df: DataFrame, key_col: str,
                      components: DataFrame) -> DataFrame:
    """Replace key_col with its component representative (identity for
    keys with no component). Broadcast when components is small; at
    web scale this is a shuffle hash join on the key."""
    comp = components.withColumnRenamed("member_key", key_col)
    return (df.join(comp, on=key_col, how="left")
            .withColumn(key_col, F.coalesce("canon_key", F.col(key_col)))
            .drop("canon_key"))

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

Scale notes: every iteration is two groupBys + two joins on the node
key (one of each per star step). Lineage is cut with localCheckpoint
every iteration (on a real cluster: checkpoint to the job's scratch
Iceberg/HDFS dir) so the plan doesn't grow exponentially. Convergence
is O(log n) iterations; a star of 10^6 aliases around its minimum
converges in 1.

The loop stops after the first iteration whose oriented edges (u > v)
form a star forest: every u has one edge and no v is also a u. Star
steps preserve components and edges point down, so each star is a whole
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


def connected_components(
    equivalence_edges: DataFrame,
    key_a: str = "key_a",
    key_b: str = "key_b",
    driver_max_edges: int = DRIVER_CC_MAX_EDGES,
) -> DataFrame:
    """equivalence_edges → components(member_key, canon_key), one row
    per node that appears in any edge (singletons are implicit: a key
    absent here is its own canon)."""
    edges = (equivalence_edges
             .select(F.col(key_a).alias("u"), F.col(key_b).alias("v"))
             .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
             .filter(F.col("u") != F.col("v"))
             .distinct()
             .localCheckpoint())

    n_edges, n_bytes = _checksum(edges)
    if n_edges <= driver_max_edges and n_bytes <= DRIVER_CC_MAX_BYTES:
        return _driver_union_find(edges)
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


def canonicalize_keys(df: DataFrame, key_col: str,
                      components: DataFrame) -> DataFrame:
    """Replace key_col with its component representative (identity for
    keys with no component). Broadcast when components is small; at
    web scale this is a shuffle hash join on the key."""
    comp = components.withColumnRenamed("member_key", key_col)
    return (df.join(comp, on=key_col, how="left")
            .withColumn(key_col, F.coalesce("canon_key", F.col(key_col)))
            .drop("canon_key"))

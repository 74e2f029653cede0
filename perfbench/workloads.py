"""The benchmark's workloads, their correctness checks and metrics.

One closed-loop client runs one operation at a time on local[nproc]:

- full_build: the 5-stage pipeline into a fresh workdir over the
  closed-vocabulary corpus.
- longtail_build: the 5-stage pipeline over pages with a Heaps'-law
  novel-name vocabulary and a >1M-edge assertion graph, which takes
  link onto MinHash-LSH and canonicalize onto star contraction.

The traced full_build run also runs one traced pass of the graph query
mix over the KG it built, which gives the graph layer's numbers.
"""

from __future__ import annotations

import hashlib
import os
import random
import time
import traceback

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BinaryType, StringType,
                               StructField, StructType, TimestampType)

from guackg.testing.gen import PAGE_COLS
from perfbench import gen
from perfbench.trace import DRIVER_GRAPH_OPS, ROOT_SPAN, Tracer

FULL_PAGES = 4000
LONGTAIL_PAGES = 1200
GEN_PARTITIONS = 16
MIN_PR = 0.95

_GEN_SCHEMA = StructType([
    StructField("url", StringType()), StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()), StructField("text", StringType()),
    StructField("lang", StringType()),
    StructField("golden", ArrayType(StringType())),
])


# ---- inputs ------------------------------------------------------------

def write_pages(spark, path: str, lo: int, hi: int, seed: int,
                longtail: bool = False) -> None:
    """Pages [lo, hi) plus each page's golden triples as tab-joined
    'subj_key\\tpred\\tobj_key' strings, written as one parquet table."""
    def gen_batches(it):
        for pdf in it:
            rows = []
            for i in pdf["id"]:
                r, golden = gen.page_row(int(i), seed, longtail)
                r["golden"] = ["\t".join(g[1:]) for g in golden]
                rows.append(r)
            yield pd.DataFrame(rows, columns=PAGE_COLS + ["golden"])

    (spark.range(lo, hi, numPartitions=GEN_PARTITIONS)
     .mapInPandas(gen_batches, schema=_GEN_SCHEMA)
     .write.mode("overwrite").parquet(path))


def golden_triples(table):
    parts = F.split(F.col("g"), "\t")
    return (table.select("url", F.explode("golden").alias("g"))
            .select("url", parts[0].alias("subj_key"), parts[1].alias("pred"),
                    parts[2].alias("obj_key")))


def remap_golden(golden, rep_df):
    """Map golden keys through the assertion union-find (rep_df holds
    only keys whose representative differs from themselves)."""
    for col in ("subj_key", "obj_key"):
        m = rep_df.select(F.col("key").alias(col), F.col("rep").alias("_rep"))
        golden = (golden.join(F.broadcast(m), on=col, how="left")
                  .withColumn(col, F.coalesce("_rep", F.col(col))).drop("_rep"))
    return golden


# ---- checks ------------------------------------------------------------

def precision_recall(resolved, golden) -> tuple[float, float]:
    cols = ["url", "subj_key", "pred", "obj_key"]
    e = resolved.select(*cols).distinct().withColumn("_e", F.lit(1))
    g = golden.select(*cols).distinct().withColumn("_g", F.lit(1))
    row = (e.join(g, on=cols, how="full")
           .agg(F.count("_e").alias("ne"), F.count("_g").alias("ng"),
                F.count(F.when(F.col("_e").isNotNull() & F.col("_g").isNotNull(), 1))
                .alias("both"))).collect()[0]
    return row["both"] / max(row["ne"], 1), row["both"] / max(row["ng"], 1)


def text_mismatches(pages, extract_table) -> tuple[int, int]:
    """(urls whose extracted text differs from the golden text or is
    missing, urls checked), by sha256."""
    want = pages.select("url", "warc_ts", F.sha2("text", 256).alias("want"))
    got = extract_table.select("url", "warc_ts",
                               F.sha2("extracted_text", 256).alias("got"))
    row = (want.join(got, on=["url", "warc_ts"], how="left")
           .agg(F.count("*").alias("n"),
                F.count(F.when(F.col("got").isNull() | (F.col("got") != F.col("want")), 1))
                .alias("bad"))).collect()[0]
    return int(row["bad"]), int(row["n"])


def dir_bytes(path: str) -> int:
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        total += sum(os.path.getsize(os.path.join(root, f))
                     for f in files if f.endswith(".parquet"))
    return total


# ---- host calibration --------------------------------------------------

def calibrate(spark) -> dict[str, float]:
    """A fixed CPU-bound probe in pure Python and as one small Spark job
    (run twice, the second timed, so JIT warm-up stays out of it)."""
    t = time.perf_counter()
    h = hashlib.sha256()
    for i in range(600_000):
        h.update(i.to_bytes(8, "little") * 8)
    py_s = time.perf_counter() - t

    def job():   # a new plan each time: a re-run plan reuses its shuffle output
        return spark.range(0, 4_000_000, numPartitions=4) \
            .agg(F.max(F.sha2(F.col("id").cast("string"), 256))).collect()
    job()
    t = time.perf_counter()
    job()
    return {"py_s": py_s, "spark_s": time.perf_counter() - t}


def io_stall_s() -> float:
    """Seconds some task of this host was stalled on I/O (Linux PSI)."""
    with open("/proc/pressure/io") as f:
        return int(f.readline().rsplit("total=", 1)[1]) / 1e6


# ---- the run -----------------------------------------------------------

class Run:
    """State of one benchmark invocation."""

    def __init__(self, spark, work: str, seed: int, seconds: float) -> None:
        from guackg.testing.gen import generate_corpus
        self.spark, self.work, self.seed, self.seconds = spark, work, seed, seconds
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.tracer = Tracer(spark)
        self.tracer.install()
        self.stage_secs: list[dict] = []
        self.io_stall_s: list[float] = []
        fx = generate_corpus(0)
        self.alias = spark.createDataFrame(fx["alias_dict"])
        self.ctx_assertions = list(map(tuple, fx["assertions"].values.tolist()))

    def path(self, *p: str) -> str:
        return os.path.join(self.work, *p)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"check {name} failed {detail}".strip())

    def attempt(self, fn):
        """Runs one operation; an exception counts as a failed one."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            self.errors.append(traceback.format_exc())
            raise

    def build(self, workdir: str, pages, assertions, fingerprint: str) -> float:
        from guackg.pipeline import KGPipeline
        pipe = KGPipeline(self.spark, workdir)
        t = time.perf_counter()
        if self.tracer.active:
            with self.tracer.span(ROOT_SPAN):
                pipe.run(pages, self.alias, assertions, input_fingerprint=fingerprint)
        else:
            pipe.run(pages, self.alias, assertions, input_fingerprint=fingerprint)
        self.stage_secs.append(pipe.stage_secs)   # the pipeline's own per-stage walls
        return time.perf_counter() - t

    def measure(self, op) -> list[float]:
        """Closed loop: the next operation starts when the previous one
        ends, until `seconds` have passed (at least one operation).
        Records the host's I/O stall seconds (PSI) during each op."""
        walls: list[float] = []
        t0 = time.perf_counter()
        while not walls or time.perf_counter() - t0 < self.seconds:
            stall = io_stall_s()
            walls.append(self.attempt(lambda: op(len(walls))))
            self.io_stall_s.append(io_stall_s() - stall)
        return walls


# ---- query mix -----------------------------------------------------------

def traversal_keys(seed: int) -> list[str]:
    from guackg.testing.gen import get_ctx
    ctx = get_ctx()
    keys = sorted({ctx.final_key(e["canonical_key"]) for e in ctx.entities
                   if e["kind"] in ("org", "place", "person")})
    return random.Random(f"{seed}|traversal").sample(keys, 4)


def query_pass(run: Run, edges_path: str) -> dict[str, float]:
    """Analytics on the entity subgraph (pred != 'mentions'), traversals
    over the full edges table; every result is consumed."""
    import guackg.graph as G
    from guackg import io as gio

    edges = gio.read_table(run.spark, edges_path)
    ent = edges.filter(F.col("pred") != "mentions").select("subj_key", "obj_key")
    k = traversal_keys(run.seed)

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    ops = [
        ("pagerank", lambda: noop(G.pagerank(ent))),
        ("triangle_count", lambda: noop(G.triangle_count(ent))),
        ("k_core", lambda: noop(G.k_core(ent, max_iterations=300))),
        ("degree_stats", lambda: noop(G.degree_stats(ent))),
        ("reachable_from", lambda: noop(G.reachable_from(edges, [k[0]], max_depth=3))),
        ("bfs_path", lambda: G.bfs_path(edges, k[1], k[2], max_depth=4,
                                        direction="both")),
        ("blast_radius", lambda: noop(G.blast_radius(edges, [k[3]], max_depth=2))),
    ]
    out = {}
    for name, fn in ops:
        t = time.perf_counter()
        run.attempt(fn)
        out[name] = time.perf_counter() - t
    return out


# ---- workloads -----------------------------------------------------------

class FullBuild:
    """setup() prepares the inputs; op(i) is the timed operation (one
    build into a fresh workdir) and returns its wall seconds; finish()
    checks the last build's outputs and returns its numbers."""
    name = "full_build"
    n_pages = FULL_PAGES

    def __init__(self, run: Run) -> None:
        self.run = run

    def setup(self) -> None:
        r = self.run
        write_pages(r.spark, r.path("inputs", "pages"), 0, self.n_pages, r.seed)
        self.table = r.spark.read.parquet(r.path("inputs", "pages"))
        self.pages = self.table.select(*PAGE_COLS)
        self.assertions = r.spark.createDataFrame(
            r.ctx_assertions, "key_a string, key_b string")
        self.last = None

    def op(self, i: int) -> float:
        wd = self.run.path("ops", f"build{i}")
        wall = self.run.build(wd, self.pages, self.assertions,
                              f"{self.name}:{self.run.seed}")
        self.last = wd
        return wall

    def finish(self) -> dict[str, float]:
        return check_build(self.run, self.last, self.table, golden_triples(self.table))


def check_build(run: Run, wd: str, table, golden) -> dict[str, float]:
    from guackg import io as gio
    p, rc = precision_recall(gio.read_table(run.spark, os.path.join(wd, "materialize")),
                             golden)
    run.check("triple_precision", p >= MIN_PR, f"P={p:.4f}")
    run.check("triple_recall", rc >= MIN_PR, f"R={rc:.4f}")
    bad, n = text_mismatches(table, gio.read_table(run.spark, os.path.join(wd, "extract")))
    run.check("text", bad == 0, f"{bad} of {n} urls differ")
    n_triples = (gio.read_table(run.spark, os.path.join(wd, "triples"))
                 .filter(F.col("pred") != "same_as").count())
    return {"triple_precision": p, "triple_recall": rc,
            "text_match_ratio": 1.0 - bad / max(n, 1),
            "n_triples": float(n_triples), "n_pages": float(n)}


class LongtailBuild(FullBuild):
    name = "longtail_build"
    n_pages = LONGTAIL_PAGES

    def setup(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq
        r = self.run
        write_pages(r.spark, r.path("inputs", "pages"), 0, self.n_pages, r.seed,
                    longtail=True)
        self.table = r.spark.read.parquet(r.path("inputs", "pages"))
        self.pages = self.table.select(*PAGE_COLS)
        edges = r.ctx_assertions + gen.longtail_assertions(r.seed)
        os.makedirs(r.path("inputs", "assertions"))
        pq.write_table(pa.table({"key_a": [e[0] for e in edges],
                                 "key_b": [e[1] for e in edges]}),
                       r.path("inputs", "assertions", "part-0.parquet"),
                       row_group_size=1 << 16)   # splittable into many scan tasks
        self.assertions = r.spark.read.parquet(r.path("inputs", "assertions"))
        self.last = None

    def finish(self) -> dict[str, float]:
        """The golden union-find is built here, after the timed builds,
        so the driver's peak RSS during them holds none of it."""
        from guackg import io as gio
        r = self.run
        lt = gen.longtail_assertions(r.seed)
        uf = gen.union_find(lt)
        # golden keys are real-entity keys or novel ent:guac/ keys
        moved = [(k, root) for k in uf.parent if k.startswith(("ent:", "alt"))
                 for root in [uf.find(k)] if root != k]
        rep = r.spark.createDataFrame(moved, "key string, rep string")
        out = check_build(r, self.last, self.table,
                          remap_golden(golden_triples(self.table), rep))
        got = gio.read_table(r.spark, os.path.join(self.last, "canonicalize")) \
            .toPandas().set_index("member_key")["canon_key"].to_dict()
        keys = {k for e in lt for k in e}
        bad = sum(got.get(k) != uf.find(k) for k in keys)
        r.check("longtail_components", bad == 0,
                f"{bad} of {len(keys)} assertion keys in the wrong component")
        return out


WORKLOADS = {w.name: w for w in (FullBuild, LongtailBuild)}


# graph.py's default driver byte bound (GUACKG_GRAPH_DRIVER_BOUND unset)
GRAPH_DRIVER_MAX_BYTES = 64 * 1024 * 1024


def layer_probes(run: Run, wd: str) -> dict[str, float]:
    """Counts and path decisions read after the traced operation, from
    its outputs and the inputs the wrappers saw."""
    from guackg import io as gio
    from guackg.cc import DRIVER_CC_MAX_BYTES, DRIVER_CC_MAX_EDGES
    from guackg.graph import GRAPH_DRIVER_MAX_EDGES
    from guackg.link import lsh_bucket_stats

    sp, t, p = run.spark, run.tracer, {}

    def size(df, a, b):
        row = (df.select(F.col(a).alias("u"), F.col(b).alias("v"))
               .filter(F.col("u").isNotNull() & F.col("v").isNotNull()
                       & (F.col("u") != F.col("v"))).distinct()
               .agg(F.count("*").alias("n"),
                    F.coalesce(F.sum(F.length("u") + F.length("v")), F.lit(0))
                    .alias("b"))).collect()[0]
        return int(row["n"]), int(row["b"])

    p["extract.quarantined_rows"] = gio.read_table(
        sp, os.path.join(wd, "extract")).filter(~F.col("valid")).count()
    vocab = t.rows.get("mention_freq", 0)
    fallback = gio.read_table(sp, os.path.join(wd, "link")) \
        .filter(F.col("method") == "fallback").count()
    p["link.fallback_ratio"] = fallback / vocab if vocab else 0.0
    p["link.lsh_capped_buckets"] = \
        lsh_bucket_stats(run.alias).collect()[0]["capped_buckets"]
    if t.cc_inputs:
        n, b = size(t.cc_inputs[-1], "key_a", "key_b")
        p["cc.edges_in"] = n
        p["cc.star_path"] = float(n > DRIVER_CC_MAX_EDGES or b > DRIVER_CC_MAX_BYTES)
    p["cc.components"] = gio.read_table(sp, os.path.join(wd, "canonicalize")) \
        .select("canon_key").distinct().count()
    for op, edges in t.graph_inputs.items():
        if op in DRIVER_GRAPH_OPS:
            n, b = size(edges, "subj_key", "obj_key")
            p[f"graph.{op}.driver_path"] = float(
                n <= GRAPH_DRIVER_MAX_EDGES and b <= GRAPH_DRIVER_MAX_BYTES)
    return {k: float(v) for k, v in p.items()}

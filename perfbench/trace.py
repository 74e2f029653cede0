"""Spans around calls into guackg, Spark job tagging and the event-log
reader that turns a traced run into per-layer numbers.

`Tracer.install()` replaces public guackg functions with wrappers for
the rest of the process. Each wrapper opens a span named
`<layer>.<span>` and, while it is open, tags every Spark job the
calling thread starts with `pb:<layer>.<span>` through
`setJobDescription`. After the SparkContext stops, `read_event_log`
aggregates the task metrics of the event log that guackg/session.py
writes when GUACKG_EVENT_LOG is set, keyed by that tag.

Stage outputs are lazy, so a stage's compute runs inside the
`io.write_table` / `io.merge_upsert` call that writes it; that sink
call is the stage's span, named after the target table.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

TAG_PREFIX = "pb:"

# sink table name -> layer
SINK_LAYER = {
    "extract": "extract", "triples": "triples", "tombstones": "triples",
    "mention_freq": "link", "link": "link", "equivalence_edges": "link",
    "identifier_candidates": "link", "canonicalize": "cc",
    "materialize": "materialize",
}
MERGE_SPAN = {"nodes": "io.nodes_merge", "edges": "io.edges_merge"}

GRAPH_OPS = ("pagerank", "triangle_count", "k_core", "degree_stats",
             "reachable_from", "bfs_path", "blast_radius")
# the ops that collect a small enough edge list onto the driver
DRIVER_GRAPH_OPS = ("k_core", "reachable_from", "bfs_path", "blast_radius")


class Tracer:
    """Installed in every run. While `active` is false the wrappers only
    remember the DataFrames handed to sinks, for the plan check after
    the timed region; the traced operation runs with `active` true."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.frames: list[tuple[str, object]] = []
        self.active = False
        self.spans: list[dict] = []
        self.local = threading.local()
        self.calls: dict[str, int] = defaultdict(int)
        self.values: dict[str, float] = {}
        self.rows: dict[str, int] = {}
        self.cc_inputs: list = []
        self.graph_inputs: dict[str, object] = {}
        self.merge_dirs: dict[str, dict] = {}
        self.bookkeeping_s = 0.0   # time the tracer itself adds to an op

    # ---- spans -----------------------------------------------------
    @contextmanager
    def span(self, name: str):
        t_enter = time.perf_counter()
        stack = self.local.__dict__.setdefault("stack", [])
        rec = {"name": name, "parent": stack[-1]["id"] if stack else None,
               "id": len(self.spans), "children_s": 0.0}
        self.spans.append(rec)
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(TAG_PREFIX + name)
        stack.append(rec)
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            stack.pop()
            self.sc.setJobDescription(prev)
            if stack:
                stack[-1]["children_s"] += rec["t1"] - rec["t0"]
            self.bookkeeping_s += time.perf_counter() - rec["t1"] + rec["t0"] - t_enter

    def in_span(self, prefix: str) -> bool:
        return any(s["name"].startswith(prefix)
                   for s in self.local.__dict__.get("stack", []))

    def span_totals(self) -> dict[str, dict]:
        out: dict[str, dict] = {}
        for s in self.spans:
            if "t1" not in s:
                continue
            t = out.setdefault(s["name"], {"wall_s": 0.0, "self_s": 0.0})
            wall = s["t1"] - s["t0"]
            t["wall_s"] += wall
            t["self_s"] += wall - s["children_s"]
        return out

    def batch_eval_python(self) -> list[str]:
        """Tables whose write plan holds a row-at-a-time Python node."""
        return [name for name, df in self.frames
                if "BatchEvalPython" in
                df._jdf.queryExecution().executedPlan().toString()]

    # ---- wrappers --------------------------------------------------
    def _wrap(self, module, attr: str, span: str, after=None):
        orig = getattr(module, attr)
        tracer = self

        def wrapper(*a, **kw):
            if not tracer.active:
                return orig(*a, **kw)
            tracer.calls[span] += 1
            with tracer.span(span):
                out = orig(*a, **kw)
            if after is not None:
                after(out, *a, **kw)
            return out
        wrapper.__wrapped__ = orig
        setattr(module, attr, wrapper)

    def install(self) -> None:
        import guackg.graph as G
        import guackg.io as gio
        import guackg.lineage as L
        import guackg.pipeline as P

        tracer = self
        orig_write, orig_merge = gio.write_table, gio.merge_upsert

        def write_table(df, path, *a, **kw):
            name = os.path.basename(path)
            tracer.frames.append((name, df))
            if not tracer.active or tracer.in_span("io."):  # a merge's own write
                return orig_write(df, path, *a, **kw)
            with tracer.span(f"{SINK_LAYER.get(name, 'io')}.{name}"):
                return orig_write(df, path, *a, **kw)

        def merge_upsert(spark, df, path, *a, **kw):
            tracer.frames.append((os.path.basename(path), df))
            if not tracer.active:
                return orig_merge(spark, df, path, *a, **kw)
            name = MERGE_SPAN.get(os.path.basename(path),
                                  "io." + os.path.basename(path))
            t = time.perf_counter()
            before = leaf_files(path)
            tracer.bookkeeping_s += time.perf_counter() - t
            with tracer.span(name):
                out = orig_merge(spark, df, path, *a, **kw)
            t = time.perf_counter()
            tracer.merge_dirs[name] = merge_io(before, leaf_files(path))
            tracer.bookkeeping_s += time.perf_counter() - t
            return out

        gio.write_table, gio.merge_upsert = write_table, merge_upsert

        orig_record = L.Lineage.record

        def record(lin, stage, fingerprint, df, table_path=None):
            if not tracer.active:
                return orig_record(lin, stage, fingerprint, df, table_path)
            tracer.calls["lineage.record"] += 1
            with tracer.span("lineage.record"):
                rec = orig_record(lin, stage, fingerprint, df, table_path)
            tracer.rows[stage] = rec["total_rows"]
            return rec
        L.Lineage.record = record

        self._wrap(P, "link_mentions", "link.link_mentions")
        self._wrap(P, "link_mentions_driver", "link.link_mentions_driver")
        self._wrap(P, "connected_components", "cc.connected_components",
                   after=lambda out, edges, *a, **kw:
                   tracer.cc_inputs.append(edges))
        self._wrap(P, "resolve_triples", "materialize.resolve_triples")
        self._wrap(P, "page_map_fits_broadcast",
                   "materialize.page_map_fits_broadcast",
                   after=lambda out, *a, **kw:
                   tracer.values.__setitem__("materialize.page_map_broadcast",
                                             float(bool(out))))
        for op in GRAPH_OPS:
            self._wrap(G, op, f"graph.{op}",
                       after=lambda out, edges, *a, _op=op, **kw:
                       tracer.graph_inputs.setdefault(_op, edges))


# ---- sink file accounting -------------------------------------------

def leaf_files(table: str) -> dict[str, dict[str, tuple[int, int]]]:
    """leaf partition dir -> {file name: (size, inode)} of a table's
    visible data files ('_'/'.'-prefixed dirs are invisible to Spark)."""
    out: dict[str, dict] = {}
    if not os.path.isdir(table):
        return out
    for root, dirs, files in os.walk(table):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        data = {f: (st.st_size, st.st_ino) for f in files
                if f.endswith(".parquet")
                for st in [os.stat(os.path.join(root, f))]}
        if data:
            out[os.path.relpath(root, table)] = data
    return out


def merge_io(before: dict, after: dict) -> dict[str, float]:
    new = {(d, f): v for d, fs in after.items() for f, v in fs.items()
           if before.get(d, {}).get(f) != v}
    return {
        "files_written": float(len(new)),
        "bytes_written": float(sum(v[0] for v in new.values())),
        "leaf_dirs_rewritten": float(len({d for d, _ in new})),
        "leaf_dirs_total": float(len(after)),
    }


# ---- event log --------------------------------------------------------

def _roll_index(path: str):
    name = os.path.basename(path)
    parts = name.split("_")
    return (os.path.dirname(path),
            int(parts[1]) if name.startswith("events_") and parts[1].isdigit() else 0)


def _lines(files):
    for path in files:
        with open(path) as f:
            yield from f


PY_METRICS = {"data sent to Python workers": "python_bytes_sent",
              "data returned from Python workers": "python_bytes_returned",
              "time to run Python workers": "python_run_ms"}


def read_event_log(ev_dir: str) -> dict[str, dict]:
    """tag -> aggregated task metrics of the stages its jobs ran; jobs
    without a `pb:` tag aggregate under ''."""
    # Spark 4 rolls event logs by default: eventlog_v2_<app>/events_<n>_<app>
    files = sorted((f for f in glob.glob(os.path.join(ev_dir, "**"), recursive=True)
                    if os.path.isfile(f)
                    and not os.path.basename(f).startswith("appstatus")),
                   key=_roll_index)
    if not files:
        raise RuntimeError(f"no Spark event log in {ev_dir}")
    stage_tag: dict[int, str] = {}
    agg: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    durations: dict[str, list[float]] = defaultdict(list)
    for line in _lines(files):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            stage_tag[ev["Stage Info"]["Stage ID"]] = \
                desc[len(TAG_PREFIX):] if desc.startswith(TAG_PREFIX) else ""
        elif kind == "SparkListenerTaskEnd":
            tag = stage_tag.get(ev["Stage ID"], "")
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            a = agg[tag]
            a["tasks"] += 1
            durations[tag].append(info["Finish Time"] - info["Launch Time"])
            a["executor_run_ms"] += m.get("Executor Run Time", 0)
            a["gc_ms"] += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + \
                sr.get("Local Bytes Read", 0)
            a["shuffle_write_bytes"] += \
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + \
                m.get("Disk Bytes Spilled", 0)
            for acc in info.get("Accumulables") or []:
                key = PY_METRICS.get(acc.get("Name"))
                if key is not None:
                    a[key] += float(acc.get("Update") or 0)
    for tag, ds in durations.items():
        med = statistics.median(ds)
        agg[tag]["task_max_over_median"] = max(ds) / med if med > 0 else 1.0
    return {t: dict(v) for t, v in agg.items()}


# ---- per-layer metrics --------------------------------------------------

UDF_STAGES = ("extract.extract", "triples.triples")
UDF_METRICS = ("wall_s", "self_s", "rows_out", "executor_run_s",
               "task_max_over_median", "gc_s", "python_bytes_sent",
               "python_bytes_returned", "python_run_s")
MERGES = ("io.nodes_merge", "io.edges_merge")
MERGE_METRICS = ("wall_s", "executor_run_s", "task_max_over_median",
                 "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                 "files_written", "bytes_written", "leaf_dirs_rewritten",
                 "leaf_dirs_total")
ENGINE_SPANS = ("link.link", "cc.connected_components", "materialize.materialize")
GRAPH_METRICS = ("wall_s", "tasks", "shuffle_read_bytes", "shuffle_write_bytes")
OTHER = (
    "extract.quarantined_rows", "triples.tombstones",
    "link.wall_s", "link.mention_freq.wall_s", "link.link_mentions.wall_s",
    "link.link_mentions_driver.wall_s", "link.lsh_calls", "link.driver_calls",
    "link.vocab", "link.fallback_ratio", "link.lsh_capped_buckets",
    "cc.wall_s", "cc.canonicalize.wall_s", "cc.edges_in", "cc.components",
    "cc.star_path", "materialize.page_map_broadcast",
    "lineage.record_s", "lineage.calls",
    "pipeline.wall_s", "pipeline.untraced_wall_s", "pipeline.trace_overhead_s",
    "pipeline.trace_bookkeeping_s",
    "pipeline.driver_other_s", "pipeline.untagged_tasks",
    "pipeline.untagged_executor_run_s",
    "host.calib_py_s", "host.calib_spark_s", "host.throttled",
)


def per_layer_names() -> list[str]:
    names = [f"{s}.{m}" for s in UDF_STAGES for m in UDF_METRICS]
    names += [f"{s}.{m}" for s in MERGES for m in MERGE_METRICS]
    names += [f"{s}.{m}" for s in ENGINE_SPANS
              for m in ("wall_s", "executor_run_s", "shuffle_write_bytes")
              if f"{s}.{m}" not in names]
    names += [f"graph.{op}.{m}" for op in GRAPH_OPS for m in GRAPH_METRICS]
    names += [f"graph.{op}.driver_path" for op in DRIVER_GRAPH_OPS]
    names += [n for n in OTHER if n not in names]
    return names


ROOT_SPAN = "pipeline.run"   # the traced KGPipeline.run call


def per_layer_metrics(tracer: Tracer, engine: dict[str, dict],
                      probes: dict[str, float]) -> dict[str, float]:
    """Every name of `per_layer_names()`; a layer the workload never
    entered reads 0."""
    spans = tracer.span_totals()
    m = {n: 0.0 for n in per_layer_names()}

    def span(name, key="wall_s"):
        return spans.get(name, {}).get(key, 0.0)

    def eng(tag, key):
        return float(engine.get(tag, {}).get(key, 0.0))

    def engine_block(tag):
        return {"executor_run_s": eng(tag, "executor_run_ms") / 1e3,
                "gc_s": eng(tag, "gc_ms") / 1e3,
                "python_run_s": eng(tag, "python_run_ms") / 1e3,
                "tasks": eng(tag, "tasks"),
                "task_max_over_median": eng(tag, "task_max_over_median"),
                **{k: eng(tag, k) for k in ("shuffle_read_bytes",
                                            "shuffle_write_bytes", "spill_bytes",
                                            "python_bytes_sent",
                                            "python_bytes_returned")}}

    for s in UDF_STAGES + MERGES + ENGINE_SPANS:
        vals = {"wall_s": span(s), "self_s": span(s, "self_s"),
                "rows_out": float(tracer.rows.get(s.split(".", 1)[1], 0)),
                **engine_block(s), **tracer.merge_dirs.get(s, {})}
        for k, v in vals.items():
            if f"{s}.{k}" in m:
                m[f"{s}.{k}"] = float(v)
    for op in GRAPH_OPS:
        vals = {"wall_s": span(f"graph.{op}"), **engine_block(f"graph.{op}")}
        for k in GRAPH_METRICS:
            m[f"graph.{op}.{k}"] = float(vals[k])

    def layer_wall(layer):   # a layer's spans never nest in each other
        return sum(t["wall_s"] for n, t in spans.items()
                   if n.startswith(layer + "."))

    m.update({
        "link.wall_s": layer_wall("link"),
        "link.mention_freq.wall_s": span("link.mention_freq"),
        "link.link_mentions.wall_s": span("link.link_mentions"),
        "link.link_mentions_driver.wall_s": span("link.link_mentions_driver"),
        "link.lsh_calls": float(tracer.calls.get("link.link_mentions", 0)),
        "link.driver_calls": float(tracer.calls.get("link.link_mentions_driver", 0)),
        "link.vocab": float(tracer.rows.get("mention_freq", 0)),
        "cc.wall_s": layer_wall("cc"),
        "cc.canonicalize.wall_s": span("cc.canonicalize"),
        "triples.tombstones": float(tracer.rows.get("tombstones", 0)),
        "materialize.page_map_broadcast":
            tracer.values.get("materialize.page_map_broadcast", 0.0),
        "lineage.record_s": span("lineage.record"),
        "lineage.calls": float(tracer.calls.get("lineage.record", 0)),
        "pipeline.driver_other_s": span(ROOT_SPAN, "self_s"),
        "pipeline.trace_bookkeeping_s": tracer.bookkeeping_s,
        # jobs the root span tagged ran under no layer span
        "pipeline.untagged_tasks": eng(ROOT_SPAN, "tasks"),
        "pipeline.untagged_executor_run_s": eng(ROOT_SPAN, "executor_run_ms") / 1e3,
    })
    m.update({k: float(v) for k, v in probes.items() if k in m})
    return m


"""Property-based tests (hypothesis) for the pure-function cores —
deeper than the reference's table-driven goldens (SURVEY §5: the
reference has no randomized testing; these pin the algebraic
contracts the golden fixtures can't sweep).

Driver-side Python mirrors are the specification here; the Spark
expressions are checked against them over generated inputs in ONE
createDataFrame→collect round trip per case batch (no per-example
Spark jobs — hypothesis generates the batch, Spark evaluates it
vectorized)."""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from guackg.ops.version import (VERSION_SCALE_MAJOR, VERSION_SCALE_MINOR,
                                _MAX, constraint_bounds, version_num)

_COMPONENT = st.integers(min_value=0, max_value=999)
_VERSION = st.tuples(_COMPONENT, _COMPONENT, _COMPONENT)
_OP = st.sampled_from(["^", "~", ">=", "<", "="])


def _py_matches(op: str, c: tuple, v: tuple) -> bool:
    """Reference semantics of one constraint branch, straight from the
    grammar's prose (ops/version.py docstring / depversion.go:43-91)."""
    if op == "=":
        return v == c
    if op == ">=":
        return v >= c
    if op == "<":
        return v < c
    if op == "^":  # same major, at or above
        return v >= c and v[0] == c[0]
    if op == "~":  # same major.minor, at or above
        return v >= c and v[:2] == c[:2]
    raise AssertionError(op)


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.tuples(_OP, _VERSION, _VERSION),
                min_size=1, max_size=60))
def test_constraint_bounds_match_python_semantics(spark, cases):
    """For every (op, constraint-version, candidate-version): the
    JVM-side [lo, hi) bound test equals the Python reference
    predicate. One Spark round trip for the whole generated batch."""
    rows = [(i, f"{op}{c[0]}.{c[1]}.{c[2]}", f"{v[0]}.{v[1]}.{v[2]}")
            for i, (op, c, v) in enumerate(cases)]
    df = spark.createDataFrame(rows, "i int, con string, ver string")
    lo, hi = constraint_bounds(F.col("con"))
    got = {r["i"]: bool(r["m"]) for r in
           df.select("i", ((version_num(F.col("ver")) >= lo)
                           & (version_num(F.col("ver")) < hi))
                     .alias("m")).collect()}
    for i, (op, c, v) in enumerate(cases):
        assert got[i] == _py_matches(op, c, v), \
            f"{op}{c} vs {v}: spark={got[i]}"


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_VERSION, min_size=2, max_size=60))
def test_version_num_is_order_isomorphic(spark, versions):
    """version_num embeds the component-tuple order exactly: for any
    generated set, sorting by vnum equals sorting by tuple — the
    property that makes the range test two integer comparisons."""
    rows = [(i, f"{a}.{b}.{c}") for i, (a, b, c) in enumerate(versions)]
    df = spark.createDataFrame(rows, "i int, ver string")
    nums = {r["i"]: r["n"] for r in
            df.select("i", version_num(F.col("ver")).alias("n")).collect()}
    for i, v in enumerate(versions):
        assert nums[i] == (v[0] * VERSION_SCALE_MAJOR
                           + v[1] * VERSION_SCALE_MINOR + v[2])
        assert nums[i] < _MAX
    by_num = sorted(range(len(versions)), key=lambda i: (nums[i], i))
    by_tup = sorted(range(len(versions)), key=lambda i: (versions[i], i))
    assert by_num == by_tup


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz"
             "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 .,'-\t\u00a0",
    min_size=0, max_size=30), min_size=1, max_size=50))
def test_normalize_surface_jvm_equals_python_and_idempotent(spark, texts):
    """The JVM normalizer (link.normalize_surface_col) and the Python
    one (vocab.normalize_surface) are the SAME function — the
    byte-identical-normalization contract linking and candidate
    promotion both depend on — and normalization is idempotent."""
    from guackg.link import normalize_surface_col
    from guackg.vocab import normalize_surface
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "i int, t string")
    got = {r["i"]: r["n"] for r in
           df.select("i", normalize_surface_col(F.col("t")).alias("n"))
           .collect()}
    for i, t in enumerate(texts):
        py = normalize_surface(t)
        assert got[i] == py, f"{t!r}: jvm={got[i]!r} py={py!r}"
        assert normalize_surface(py) == py, f"not idempotent: {t!r}"


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.tuples(st.integers(0, 40), st.integers(0, 40)),
                min_size=1, max_size=80))
def test_connected_components_match_union_find(spark, pairs):
    """The distributed large-star/small-star CC equals a plain Python
    union-find on arbitrary generated edge sets (duplicates included),
    with canon = min member key. Self-loops drop first — the
    documented implicit-singleton contract (cc.py docstring: a key
    absent from the output is its own canon; every consumer resolves
    via coalesce(canon, key))."""
    from guackg.cc import connected_components
    edges = [(f"n{a}", f"n{b}") for a, b in pairs if a != b]
    df = spark.createDataFrame(edges, "key_a string, key_b string")
    # BOTH execution paths must agree with the reference: the driver
    # union-find fast path (default at this size) and the distributed
    # large-star/small-star iteration (forced via driver_max_edges=0)
    got = {r["member_key"]: r["canon_key"]
           for r in connected_components(df).collect()}
    dist_rows = connected_components(df, driver_max_edges=0).collect()
    got_dist = {r["member_key"]: r["canon_key"] for r in dist_rows}
    assert len(dist_rows) == len(got_dist)  # one row per member_key

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comps: dict = {}
    for n in parent:
        comps.setdefault(find(n), []).append(n)
    want = {}
    for members in comps.values():
        canon = min(members)
        for m in members:
            want[m] = canon
    assert got == want
    assert got_dist == want


_ASCII = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    max_size=40)
_LABEL = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789-",
    min_size=1, max_size=6)
_URLISH = st.builds(
    lambda scheme, user, labels, fqdn_dot, port, path: (
        f"{scheme}://{user}{'.'.join(labels)}{fqdn_dot}{port}{path}"),
    st.sampled_from(["http", "https", "ftp", "x+z.a", "9bad"]),
    st.sampled_from(["", "u@", "u:p@"]),
    st.one_of(st.lists(_LABEL, min_size=1, max_size=5),
              # IPv4-ish hosts (incl. out-of-range octet counts)
              st.lists(st.integers(0, 300).map(str),
                       min_size=3, max_size=5)),
    st.sampled_from(["", ".", ".."]),   # trailing-dot FQDN forms
    st.sampled_from(["", ":8080"]),
    st.sampled_from(["", "/", "/p?q=1#f", "?x", "#y"]))


def _py_host(url):
    import re
    if url is None:
        return ""
    m = re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/?#@]*@)?([^/:?#]+)",
                 url)
    return re.sub(r"\.+$", "", m.group(1).lower()) if m else ""


def _py_domain(url):
    import re

    from guackg.ops.urlstats import SECOND_LEVEL_SUFFIXES
    h = _py_host(url)
    if h == "":
        return None
    if re.fullmatch(r"\d{1,3}(\.\d{1,3}){3}", h):
        return h
    parts = h.split(".")
    if len(parts) <= 2:
        return h
    if ".".join(parts[-2:]) in SECOND_LEVEL_SUFFIXES:
        return ".".join(parts[-3:])
    return ".".join(parts[-2:])


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.one_of(_ASCII, _URLISH), min_size=1, max_size=50))
def test_url_host_domain_match_python(spark, urls):
    """Spark host/registered-domain expressions == the driver-side
    Python reference over generated URL-ish and junk strings (ASCII
    only — unicode case-mapping differences between JVM and Python
    are out of contract). One Spark round trip per batch."""
    from guackg.ops.urlstats import host_col, registered_domain_col
    rows = [(i, u) for i, u in enumerate(urls)]
    df = spark.createDataFrame(rows, "id long, url string")
    got = {r.id: (r.h, r.d) for r in
           df.select("id", host_col().alias("h"),
                     registered_domain_col().alias("d")).collect()}
    for i, u in rows:
        assert got[i] == (_py_host(u), _py_domain(u)), (u, got[i])


# ---- round-4 session ops: pack prefix-sum and stratified sampling


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.one_of(st.integers(-3, 50), st.none()),
                min_size=1, max_size=80),
       st.integers(1, 40), st.integers(1, 7))
def test_pack_sequences_matches_python_prefix_sum(spark, toks, cap,
                                                  parts):
    """The two-phase distributed prefix sum equals the sequential
    Python scan (with the documented NULL/negative→0 clamp) for any
    token list, capacity, and partition count."""
    from guackg.ops.pack import pack_sequences
    rows = [(i, t) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = {r.doc_id: (r.n_tokens, r.start_token, r.seq_id, r.seq_offset)
           for r in pack_sequences(df, cap, partitions=parts).collect()}
    acc = 0
    for i, t in enumerate(toks):
        n = max(t or 0, 0)
        assert got[i] == (n, acc, acc // cap, acc % cap), \
            f"doc {i}: {got[i]} vs n={n} start={acc}"
        acc += n


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.tuples(st.integers(0, 10**6),
                          st.one_of(st.none(),
                                    st.sampled_from(["en", "de", "fr"]))),
                min_size=1, max_size=80, unique_by=lambda t: t[0]),
       st.dictionaries(st.sampled_from(["en", "de", "fr"]),
                       st.floats(0, 1), max_size=3),
       st.floats(0, 1))
def test_stratified_sample_matches_python_md5_rule(spark, rows, rates,
                                                   default):
    """The per-stratum threshold rule replays exactly in Python:
    keep iff md5(str(key)) < threshold(stratum), NULL strata at the
    default rate."""
    import hashlib
    from guackg.ops.dedup import stratified_hash_sample
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    got = {r.doc_id for r in
           stratified_hash_sample(df, rates, "lang", default).collect()}
    def thr(rate):
        return "g" if rate >= 1 else \
            format(int(max(rate, 0.0) * (1 << 128)), "032x")
    want = {k for k, lang in rows
            if hashlib.md5(str(k).encode()).hexdigest()
            < thr(rates.get(lang, default) if lang is not None
                  else default)}
    assert got == want

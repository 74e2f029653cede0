"""Stage 4 tests: connected components — chains (multi-hop
convergence), the leaf-peeling corner cases (a 100-alias star peels
completely, isolated pairs, a leaf that is its component's minimum,
an edge given both ways, a leafless cycle that skips the peel), the
star-forest stop condition on a leafless cycle, exact agreement with
the union-find golden fixture, and exact agreement between the
distributed path and the driver fast path."""

import pytest

from guackg import cc
from guackg.cc import canonicalize_keys, connected_components

# 0 forces the distributed large-star/small-star path even on tiny
# test graphs; default exercises the driver union-find fast path.
BOTH_PATHS = pytest.mark.parametrize("driver_max", [0, 1_000_000],
                                     ids=["stars", "driver-uf"])


CHAIN = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"),
         ("f", "g"), ("g", "h")]


@BOTH_PATHS
def test_chain_converges(spark, driver_max):
    edges = spark.createDataFrame(CHAIN, "key_a string, key_b string")
    comp = connected_components(edges, driver_max_edges=driver_max)
    got = {r.member_key: r.canon_key for r in comp.collect()}
    assert got == {k: "a" for k in "abcdefgh"}


@BOTH_PATHS
def test_two_components_and_star(spark, driver_max):
    rows = [("x1", "x2"), ("x2", "x3"), ("x2", "x1")]  # x1-x2 both ways
    # a hub whose neighbours are all leaves never enters the core
    rows += [("hub", f"leaf{i:03d}") for i in range(100)]
    rows += [("p2", "p1")]  # an isolated pair: both ends are leaves
    # a core triangle whose minimum is the leaf b0
    rows += [("c1", "c2"), ("c2", "c3"), ("c3", "c1"), ("c2", "b0")]
    edges = spark.createDataFrame(rows, "key_a string, key_b string")
    comp = connected_components(edges, driver_max_edges=driver_max).collect()
    got = {r.member_key: r.canon_key for r in comp}
    assert len(comp) == len(got) == 3 + 101 + 2 + 4
    assert got["x3"] == "x1" and got["x2"] == "x1" and got["x1"] == "x1"
    assert got["leaf099"] == "hub"
    assert len({v for k, v in got.items() if k.startswith("leaf")}) == 1
    assert got["p1"] == got["p2"] == "p1"
    assert {got[k] for k in ("b0", "c1", "c2", "c3")} == {"b0"}

    cycle = spark.createDataFrame([("c1", "c2"), ("c2", "c3"), ("c3", "c1")],
                                  "key_a string, key_b string")
    comp = connected_components(cycle, driver_max_edges=driver_max)
    assert {r.member_key: r.canon_key for r in comp.collect()} == {
        "c1": "c1", "c2": "c1", "c3": "c1"}


def test_star_path_stops_at_star_forest(spark, monkeypatch):
    """A 100-leaf star peels completely and takes no star round. The
    leafless 8-node cycle skips the peel and stops in the round that
    produces the star forest, without a confirming round (a round that
    reproduces the previous edge set would make it 4)."""
    rounds, small_star = [], cc._small_star

    def counting(edges):  # small star closes every round
        rounds.append(1)
        return small_star(edges)

    monkeypatch.setattr(cc, "_small_star", counting)
    star = spark.createDataFrame([("hub", f"leaf{i:03d}") for i in range(100)],
                                 "key_a string, key_b string")
    comp = connected_components(star, driver_max_edges=0).collect()
    assert len(rounds) == 0
    assert len(comp) == 101 and {r.canon_key for r in comp} == {"hub"}

    cycle = spark.createDataFrame(CHAIN + [("h", "a")],
                                  "key_a string, key_b string")
    comp = connected_components(cycle, driver_max_edges=0).collect()
    assert len(rounds) == 3
    assert len(comp) == 8 and {r.canon_key for r in comp} == {"a"}


def test_star_path_raises_when_not_converged(spark, monkeypatch):
    """Running out of iterations before the star forest raises; it
    never returns a partial mapping."""
    monkeypatch.setattr(cc, "MAX_ITERATIONS", 1)
    chain = spark.createDataFrame(CHAIN, "key_a string, key_b string")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, driver_max_edges=0)


def test_matches_golden_components(spark, corpus):
    """Distributed CC must agree exactly with the generation-time
    union-find over alias dict + typos + assertion chains."""
    ctx_edges = []
    for r in corpus["alias_dict"].itertuples():
        ctx_edges.append(("sfc:" + r.surface, r.canonical_key))
    from guackg.testing.gen import get_ctx, surface_key
    ctx = get_ctx()
    for t in ctx.typo_by_ent.values():
        ctx_edges.append((surface_key(t["surface"]), t["canonical_key"]))
    ctx_edges += list(map(tuple, corpus["assertions"].itertuples(index=False)))

    edges = spark.createDataFrame(ctx_edges, "key_a string, key_b string")
    for driver_max in (0, 1_000_000):  # star path AND driver fast path
        comp = connected_components(edges, driver_max_edges=driver_max)
        got = {r.member_key: r.canon_key for r in comp.collect()}
        want = {r.member_key: r.canon_key
                for r in corpus["golden_components"].itertuples()}
        assert got == want


def test_canonicalize_keys_rewrites_and_passes_through(spark):
    comp = spark.createDataFrame([("b", "a")], "member_key string, canon_key string")
    df = spark.createDataFrame([("b",), ("z",)], "k string")
    out = canonicalize_keys(df, "k", comp)
    assert sorted(r.k for r in out.collect()) == ["a", "z"]

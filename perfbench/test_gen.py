"""The benchmark's generators are pure functions of the seed.

Run from the root of the checkout: python3 -m pytest perfbench -q
"""

import hashlib

from perfbench import gen


def _digest(rows) -> str:
    h = hashlib.sha256()
    for page, golden in rows:
        h.update(page["url"].encode())
        h.update(page["html"])
        h.update(page["text"].encode())
        h.update(repr(golden).encode())
    return h.hexdigest()


def _pages(seed, longtail):
    return [gen.page_row(i, seed, longtail) for i in range(60)]


def test_same_seed_is_byte_identical():
    for longtail in (False, True):
        assert _digest(_pages(7, longtail)) == _digest(_pages(7, longtail))
    assert gen.longtail_assertions(7) == gen.longtail_assertions(7)


def test_other_seed_changes_pages_not_their_index_identity():
    a, b = _pages(7, True), _pages(8, True)
    for (pa, _), (pb, _) in zip(a, b):
        assert pa["warc_ts"] == pb["warc_ts"]
        assert pa["url"].rsplit("/", 1)[1] == pb["url"].rsplit("/", 1)[1]
    assert sum(pa["html"] != pb["html"] for (pa, _), (pb, _) in zip(a, b)) > 50
    assert gen.longtail_assertions(7) != gen.longtail_assertions(8)


def test_longtail_pages_add_novel_golden_triples():
    page, golden = gen.page_row(3, 7, longtail=True)
    plain, plain_golden = gen.page_row(3, 7)
    assert page["lang"] == "en" and len(golden) > len(plain_golden)
    novel = [g for g in golden[len(plain_golden):] if g[1].startswith("ent:guac/")]
    assert novel and all(g[0] == page["url"] for g in novel)


def test_assertion_graph_shape_and_union_find():
    edges = gen.longtail_assertions(7)
    assert len(edges) > 1_000_000          # past DRIVER_CC_MAX_EDGES
    uf = gen.union_find(edges)
    centre = gen.novel_key(5, 7)
    far = gen.novel_key(5 + gen.COMPONENTS, 7)
    # a star leaf, the chain and the far end share the centre's component,
    # represented by its lexicographic minimum
    members = [centre, far, "ltk:7/5/0", f"ltc:7/5/{gen.CHAIN - 1}"]
    assert len({uf.find(k) for k in members}) == 1
    assert uf.find(centre) == min(members)
    assert uf.find(gen.novel_key(6, 7)) != uf.find(centre)


def test_benchmark_json_matches_the_code():
    import json

    from perfbench.run import E2E_UNITS, layer_unit
    from perfbench.trace import per_layer_names
    from perfbench.workloads import WORKLOADS

    with open("BENCHMARK.json") as f:
        doc = json.load(f)
    assert [w["name"] for w in doc["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == E2E_UNITS
    assert [(m["name"], m["unit"]) for m in doc["per_layer"]] == \
        [(n, layer_unit(n)) for n in per_layer_names()]
    bounds = {m["name"]: m["bound"] for m in doc["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())

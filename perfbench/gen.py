"""Benchmark-owned input generators, each a pure function of the seed.

- `page_row(i, seed)`: page i of the closed-vocabulary corpus of
  `guackg.testing.gen.gen_page` (the bytes `spark_generate_pages`
  writes) plus its golden (url, subj_key, pred, obj_key) triples. The
  url path `page-<i>` and the timestamp depend on the index only; the
  seed changes the domain and the content.
- `page_row(i, seed, longtail=True)`: the same page with extra
  sentences whose subjects (and half their objects) are novel names
  drawn from an 810k-name pool with density ~ rank^(-2/3), so the
  mention vocabulary keeps growing with the corpus (Heaps' law) instead
  of saturating at the ~7k surfaces of the closed vocabulary.
- `longtail_assertions(seed)`: more than 1M equivalence edges, shaped as
  stars with a short chain hanging off each centre, over novel keys,
  synthetic keys and a few real entity keys.

Golden triples carry pre-assertion keys (`ctx.final_key` for real
entities, `ent:guac/<norm>` for novel names); `union_find` maps them
through every assertion the pipeline receives.
"""

from __future__ import annotations

import random

from guackg.extract import extract_text_bytes
from guackg.testing.gen import _pick_surface, _zipf_idx, gen_page, get_ctx
from guackg.vocab import normalize_surface

# Syllables share no 3-gram with the dictionary's names often enough to
# reach the linker's Jaccard threshold, so novel names stay unlinked
# (fallback keys) and the golden key of a novel name is known up front.
_SYL = ["kav", "tre", "mol", "sib", "rud", "pex", "lon", "vag", "zim", "tor",
        "fel", "nud", "wix", "hab", "quo", "jem", "dra", "cul", "bof", "yin",
        "gos", "pim", "rak", "sul", "ved", "ziu", "lam", "nix", "opa", "ruk"]
POOL = len(_SYL) ** 4
_STRIDE = 7919  # prime, coprime to POOL: rank -> pool slot is a bijection

NOVEL_MIN, NOVEL_MAX = 46, 74     # novel sentences per English html page
ZIPF_A = 3.0                      # rank = POOL * u**ZIPF_A

# longtail assertion graph: C components of one star (STAR leaves) and
# one chain (CHAIN hops) joining novel names of rank j and j + C
COMPONENTS = 21_500
STAR, CHAIN = 46, 2
REAL_EVERY = 500                  # every 500th centre joins a real entity


def novel_name(rank: int, seed: int) -> str:
    k = (rank * _STRIDE + seed * 104729) % POOL
    d = []
    for _ in range(4):
        k, r = divmod(k, len(_SYL))
        d.append(_SYL[r])
    return f"{(d[0] + d[1]).capitalize()} {(d[2] + d[3]).capitalize()}"


def novel_key(rank: int, seed: int) -> str:
    return "ent:guac/" + normalize_surface(novel_name(rank, seed))


def _novel_sentences(i: int, seed: int, url: str) -> tuple[list[str], list[tuple]]:
    ctx = get_ctx()
    rng = random.Random(f"{seed}|longtail|{i}")
    sents, golden = [], []
    for _ in range(rng.randint(NOVEL_MIN, NOVEL_MAX)):
        ps, pred, inv = ctx.pred_choices[rng.randrange(len(ctx.pred_choices))]
        r = int(POOL * rng.random() ** ZIPF_A)
        ssurf, sk = novel_name(r, seed), novel_key(r, seed)
        if rng.random() < 0.5:
            r2 = int(POOL * rng.random() ** ZIPF_A)
            osurf, ok = novel_name(r2, seed), novel_key(r2, seed)
        else:
            ent = ctx.entities[_zipf_idx(rng, len(ctx.entities), 4.0)]
            osurf, _ = _pick_surface(rng, ctx, ent)
            ok = ctx.final_key(ent["canonical_key"])
        sents.append(f"{ssurf} {ps} {osurf}.")
        if inv:
            sk, ok = ok, sk
        golden.append((url, sk, pred, ok))
    return sents, golden


_NAV = b"<nav>Home About Contact</nav>"


def page_row(i: int, seed: int, longtail: bool = False) -> tuple[dict, list[tuple]]:
    """One page (the `spark_generate_pages` columns) and its golden
    (url, subj_key, pred, obj_key) rows."""
    r = gen_page(i, seed)
    golden = [(g["url"], g["subj_key"], g["pred"], g["obj_key"])
              for g in r.pop("_golden")]
    if longtail and r["lang"] == "en" and _NAV in r["html"]:
        sents, extra = _novel_sentences(i, seed, r["url"])
        paras = "".join(f"<p>{s}</p>" for s in sents).encode("ascii")
        r["html"] = r["html"].replace(_NAV, _NAV + paras, 1)
        r["text"] = extract_text_bytes(r["html"])
        golden.extend(extra)
    return r, golden


def longtail_assertions(seed: int) -> list[tuple[str, str]]:
    """(key_a, key_b) edges: per component j a star of STAR synthetic
    leaves around novel key j, and a CHAIN-hop path of synthetic keys
    from novel key j to novel key j + COMPONENTS."""
    ents = get_ctx().entities
    out = []
    for j in range(COMPONENTS):
        centre = novel_key(j, seed)
        out.extend((centre, f"ltk:{seed}/{j}/{h}") for h in range(STAR))
        prev = centre
        for h in range(CHAIN):
            nxt = f"ltc:{seed}/{j}/{h}"
            out.append((prev, nxt))
            prev = nxt
        out.append((prev, novel_key(j + COMPONENTS, seed)))
        if j % REAL_EVERY == 0:
            out.append((centre, ents[(j // REAL_EVERY) % len(ents)]["canonical_key"]))
    random.Random(f"{seed}|lt-shuffle").shuffle(out)
    return out


class MinUnionFind:
    """Iterative union-find whose root is always the lexicographic
    minimum of its component — the representative the canonicalize
    stage picks."""

    def __init__(self) -> None:
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        parent = self.parent
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)

    def rep(self, key: str) -> str:
        return self.find(key) if key in self.parent else key


def union_find(assertions: list[tuple[str, str]]) -> MinUnionFind:
    """Union-find over the corpus context's own merges (aliases, typos,
    its assertion chains) plus `assertions`: the component structure
    the canonicalize stage must reproduce."""
    uf = MinUnionFind()
    for member, rep in get_ctx().rep.items():
        uf.union(member, rep)
    for a, b in assertions:
        uf.union(a, b)
    return uf

"""Entity canonicalization (operators/coref.py): the driver-side union-find
of ``canonical_map`` on hand-built graphs, cross-checked against the
large-star/small-star ``connected_components`` and the oracle's
``UnionFind``, plus the gazetteer bound on the coref edge set that makes
collecting the edges safe."""

from __future__ import annotations

import random
from itertools import combinations

import pytest

from ner_spark import spec
from ner_spark.operators.coref import canonical_map, connected_components
from oracle.ref_pipeline import UnionFind

EDGE_SCHEMA = "src_entity string, dst_entity string"


def _canon(spark, nodes, edges) -> dict[str, str]:
    links = spark.createDataFrame([(n,) for n in nodes], "entity_id string")
    e = spark.createDataFrame(list(edges), EDGE_SCHEMA)
    return {r.entity_id: r.canonical_id for r in canonical_map(links, e).collect()}


def _cc(spark, edges) -> dict[str, str]:
    e = spark.createDataFrame(list(edges), EDGE_SCHEMA)
    return {
        r.entity_id: r.canonical_id for r in connected_components(e).collect()
    }


def _oracle(nodes, edges) -> dict[str, str]:
    uf = UnionFind()
    for a, b in edges:
        uf.union(a, b)
    return {n: uf.find(n) for n in nodes}


def test_long_path_in_shuffled_order(spark):
    """A 40-node path takes large-star/small-star many rounds; the
    union-find labels it in one pass whatever the edge order."""
    nodes = [f"n{i:02d}" for i in range(40)]
    edges = [
        (a, b) if random.Random(i).random() < 0.5 else (b, a)
        for i, (a, b) in enumerate(zip(nodes, nodes[1:]))
    ]
    random.Random(7).shuffle(edges)
    got = _canon(spark, nodes + ["zz_single"], edges)
    assert got == {**{n: "n00" for n in nodes}, "zz_single": "zz_single"}


def test_two_components_and_singletons(spark):
    edges = [("b2", "b1"), ("b3", "b1"), ("a3", "a2"), ("a2", "a1")]
    nodes = ["a1", "a2", "a3", "b1", "b2", "b3", "c1", "d1"]
    assert _canon(spark, nodes, edges) == {
        "a1": "a1", "a2": "a1", "a3": "a1",
        "b1": "b1", "b2": "b1", "b3": "b1",
        "c1": "c1", "d1": "d1",
    }


def test_empty_edges_map_every_entity_to_itself(spark):
    nodes = ["e3", "e1", "e2"]
    assert _canon(spark, nodes, []) == {n: n for n in nodes}


def test_min_is_string_order_across_case_and_unicode(spark):
    """Python orders ``str`` by code point, Spark by UTF-8 bytes; both must
    pick the same component min. U+FB01 sorts before U+1F600 by code point
    and by UTF-8 bytes, but after it in UTF-16 (surrogate pairs), so a
    UTF-16 compare would disagree here."""
    comps = [
        ["a", "Z", "_"],  # '_' (0x5F) sits between 'Z' and 'a'
        ["\U0001F600x", "ﬁx", "éx"],
        ["\U0001F600", "ﬁ"],
        ["k", "k\x00", "k "],  # a prefix is smaller than its extensions
    ]
    edges = [(c[i], c[i + 1]) for c in comps for i in range(len(c) - 1)]
    want = {n: min(c) for c in comps for n in c}
    assert want["\U0001F600"] == "ﬁ" and want["a"] == "Z"
    nodes = [n for c in comps for n in c]
    assert _canon(spark, nodes, edges) == want
    assert _cc(spark, edges) == want


@pytest.mark.parametrize("seed", [3, 11])
def test_random_graphs_agree_with_cc_and_oracle(spark, seed):
    """Property: on a seeded random graph (duplicate and reversed edges,
    self-loops, isolated linked nodes) the union-find map equals the
    Spark large-star/small-star components and the oracle union-find."""
    rng = random.Random(seed)
    alphabet = "aZ09_éﬁ\U0001F600"
    nodes = sorted({
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 4)))
        for _ in range(60)
    })
    edges = [tuple(rng.sample(nodes, 2)) for _ in range(45)]
    edges += [(b, a) for a, b in edges[:5]] + [(nodes[0], nodes[0])]
    got = _canon(spark, nodes, edges)
    assert got == _oracle(nodes, edges)
    cc = _cc(spark, edges)
    assert {n: cc.get(n, n) for n in nodes} == got
    assert len(set(got.values())) < len(nodes)  # not all singletons


def test_canonical_map_is_one_small_job_not_star_rounds(spark):
    """The edges are collected once; no per-round jobs run before the
    result is consumed."""
    nodes = [f"n{i:02d}" for i in range(40)]
    links = spark.createDataFrame([(n,) for n in nodes], "entity_id string")
    e = spark.createDataFrame(list(zip(nodes, nodes[1:])), EDGE_SCHEMA)
    sc = spark.sparkContext
    sc.setJobGroup("test_coref_jobs", "canonical_map")
    try:
        canonical_map(links, e)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("test_coref_jobs")) <= 1


def test_coref_edges_bounded_by_gazetteer_surfaces(kg_small, small_inputs):
    """The union-find collect relies on this: every coref edge joins two
    entities that share a gazetteer norm_surface, so the edge set is at
    most Σ_s C(k_s, 2) over the gazetteer, whatever the corpus size."""
    gaz = small_inputs["gazetteer_pdf"]
    by_surface: dict[str, set] = {}
    for s, e in zip(gaz.surface_form, gaz.entity_id):
        by_surface.setdefault(spec.norm_surface(s), set()).add(e)
    allowed = {
        p for es in by_surface.values() for p in combinations(sorted(es), 2)
    }
    edges = {(r.src_entity, r.dst_entity) for r in kg_small["edges"].collect()}
    assert edges, "fixture has no coref edges; the bound would be vacuous"
    assert edges <= allowed
    assert len(edges) <= sum(
        len(es) * (len(es) - 1) // 2 for es in by_surface.values()
    )

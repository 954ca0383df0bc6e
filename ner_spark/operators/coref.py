"""Co-reference edges, entity canonicalization and iterative-join connected
components (SURVEY.md §2.4 B3, §2.6 B10/B11).

Two connected-component operators, split by how large the graph can get:

- ``canonical_map`` canonicalizes linked entities. Its graph has gazetteer
  entities as nodes, and an edge only joins two entities that share a
  ``norm_surface`` in the gazetteer, so its size is bounded by the
  gazetteer, not the corpus. It collects the edges and runs one
  path-compressing union-find on the driver.
- ``connected_components`` serves graphs that grow with the corpus (the
  near-duplicate document clusters of ``plans/curation.py`` and
  ``queries_text.py``). GraphFrames is unavailable in this sandbox
  (SURVEY.md §0 [V]), so it is the alternating large-star / small-star
  algorithm of Kiveris et al., "Connected Components in MapReduce and
  Beyond" (SOCC'13), expressed as DataFrame joins: O(log n) rounds, each
  round = two groupBy/join stages, ``localCheckpoint`` per round to
  truncate lineage, convergence = emitted edge set stable.

Node ids are strings and both operators label a component with its min id
in string order (matches the oracle's union-find canonical = min
entity_id). Python compares ``str`` by code point and Spark compares
strings by UTF-8 bytes; the two orders agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def coref_edges(links: DataFrame) -> DataFrame:
    """Within one conversation, surfaces linked to >=2 distinct entities
    produce all unordered entity pairs (spec: co-reference evidence).

    One shuffle total: groupBy(conv, surface) with collect_set dedups and
    groups in a single hash aggregate (map-side partial), then pairs are
    expanded JVM-side from the tiny sorted entity array. The equivalent
    distinct → self-join → distinct formulation costs three full-width
    shuffles of the links table."""
    ents = (
        links.groupBy("conv_id", "norm_surface")
        .agg(F.array_sort(F.collect_set("entity_id")).alias("es"))
        .where(F.size("es") >= 2)
    )
    # all i<j pairs of the sorted array (src < dst by construction)
    pairs = F.flatten(
        F.transform(
            "es",
            lambda x, i: F.transform(
                F.slice(F.col("es"), i + 2, F.size("es")),
                lambda y: F.struct(x.alias("src_entity"), y.alias("dst_entity")),
            ),
        )
    )
    return (
        ents.select(F.explode(pairs).alias("p"))
        .select("p.src_entity", "p.dst_entity")
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Connect strictly-larger neighbors to the min of each neighborhood."""
    sym = e.select("u", "v").union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Connect smaller-or-equal neighbors to the neighborhood min."""
    # orient edges u >= v
    o = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    m = o.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    j = o.join(m, "u")
    out = j.select(F.col("v").alias("u"), F.col("m").alias("v")).union(
        j.select(F.col("u"), F.col("m").alias("v"))
    )
    return out.where(F.col("u") != F.col("v")).distinct()


def connected_components(edges: DataFrame, max_rounds: int = 25) -> DataFrame:
    """edges(src_entity, dst_entity) → (entity_id, canonical_id).

    For graphs that grow with the corpus (document clusters); the entity
    graph, bounded by the gazetteer, goes through ``canonical_map``.

    Alternating large-star/small-star until the edge set is stable; the
    final edge set is a union of stars (node → component min). Nodes only
    ever appearing as a component min map to themselves via the union at
    the end. Each round localCheckpoints (lineage truncation, SURVEY.md
    §4.5) and the convergence check is one count() action.
    """
    e = (
        edges.select(
            F.col("src_entity").alias("u"), F.col("dst_entity").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    n_old = e.count()
    for _ in range(max_rounds):
        e2 = _small_star(_large_star(e)).localCheckpoint()
        # converged iff same edge set (both are distinct sets). The count
        # is carried between rounds (one action per round, not two) and the
        # expensive set-difference check only runs once counts agree.
        n_new = e2.count()
        if n_old == n_new and e.exceptAll(e2).isEmpty():
            e = e2
            break
        e, n_old = e2, n_new
    stars = e.select(F.col("u").alias("entity_id"), F.col("v").alias("canonical_id"))
    roots = e.select(F.col("v").alias("entity_id")).distinct().withColumn(
        "canonical_id", F.col("entity_id")
    )
    return stars.unionByName(roots).distinct()


def canonical_map(links: DataFrame, edges: DataFrame) -> DataFrame:
    """(entity_id, canonical_id) covering every linked entity (singletons →
    self); canonical_id is the min entity_id of the entity's component.

    ``edges`` is the ``coref_edges`` output. Both ends of an edge were
    linked from one ``norm_surface``, and linking only joins a mention to
    the gazetteer entities listed under its ``norm_surface``. So the edge
    set is at most Σ_s C(k_s, 2), where k_s is the number of gazetteer
    entities under surface s, whatever the corpus size. That bound is what
    makes it safe to collect the edges and run a union-find on the driver:
    one small job instead of the O(log n) rounds of Spark jobs that
    ``connected_components`` spends. Do not reuse this collect on a graph
    without such a bound; ``connected_components`` is for those.

    The union-find roots each component at its smaller id (the rule of
    ``oracle.ref_pipeline.UnionFind``). Its (entity_id, canonical_id) rows
    become a local frame, broadcast into a left join from the distinct
    linked entities.
    """
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for src, dst in edges.select("src_entity", "dst_entity").collect():
        a, b = find(src), find(dst)
        if a != b:
            parent[max(a, b)] = min(a, b)
    cc = links.sparkSession.createDataFrame(
        [(e, find(e)) for e in parent], "entity_id string, canonical_id string"
    )
    all_nodes = links.select("entity_id").distinct()
    return (
        all_nodes.join(F.broadcast(cc), "entity_id", "left")
        .withColumn("canonical_id", F.coalesce("canonical_id", "entity_id"))
        .select("entity_id", "canonical_id")
    )


def entity_rollup(links: DataFrame, canon: DataFrame) -> DataFrame:
    """links + canonical map → one row per canonical entity: sorted
    distinct aliases, mention count and most frequent ner_type (B8)."""
    return (
        links.join(F.broadcast(canon), "entity_id")
        .groupBy(F.col("canonical_id").alias("entity_id"))
        .agg(
            F.array_sort(F.collect_set("norm_surface")).alias("aliases"),
            F.count(F.lit(1)).alias("n_mentions"),
            F.mode("ner_type").alias("ner_type"),
        )
    )

"""North-star theme 2: entity-merge correctness.

Alias fixtures with known coreference clusters; connected components must
produce exactly the expected partition of entity ids, idempotently.
"""

import pytest

from collections import defaultdict

from pyspark.sql import functions as F


def test_alias_clusters_exact(kg_result):
    from llm_knowledge_graph_spark.corpus import expected_alias_clusters

    clusters = expected_alias_clusters()
    variant_to_cluster = {}
    for ci, cluster in enumerate(clusters):
        for v in cluster:
            variant_to_cluster[v] = ci

    mapping = {(r.type, r.id): r.canonical_id for r in kg_result.mapping.collect()}
    observed = defaultdict(set)
    for (t, name), canon in mapping.items():
        if t != "Person":
            continue
        assert name in variant_to_cluster, f"unexpected person: {name!r}"
        observed[variant_to_cluster[name]].add(canon)

    # no split: every true cluster maps to exactly one canonical id
    for ci, canons in observed.items():
        assert len(canons) == 1, (clusters[ci], canons)
    # no merge: canonical ids unique across true clusters
    canon_owner = {}
    for ci, canons in observed.items():
        c = next(iter(canons))
        assert c not in canon_owner, (clusters[ci], c)
        canon_owner[c] = ci


def test_canonical_id_is_cluster_member_minimum(kg_result):
    """Canonical id = lexicographic min of the observed member set —
    deterministic across runs."""
    rows = [(r.id, r.canonical_id) for r in
            kg_result.mapping.filter(F.col("type") == "Person").collect()]
    members = defaultdict(set)
    for nid, canon in rows:
        members[canon].add(nid)
    for canon, ids in members.items():
        assert canon == min(ids | {canon})


@pytest.mark.heavy
def test_connected_components_chain_and_star(spark):
    from llm_knowledge_graph_spark.operators.components import connected_components

    verts = spark.createDataFrame(
        [(c,) for c in "abcdefgh"] + [("z",)], "id string")
    # chain a-b-c-d, star e<-f,g,h ; z isolated
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"),
         ("f", "e"), ("g", "e"), ("h", "e")], "a string, b string")
    comp = {r.id: r.component for r in
            connected_components(verts, edges).collect()}
    assert comp == {"a": "a", "b": "a", "c": "a", "d": "a",
                    "e": "e", "f": "e", "g": "e", "h": "e", "z": "z"}


@pytest.mark.heavy
def test_connected_components_idempotent(spark):
    from llm_knowledge_graph_spark.operators.components import connected_components

    verts = spark.createDataFrame([("x",), ("y",), ("w",)], "id string")
    edges = spark.createDataFrame([("y", "x"), ("w", "y")], "a string, b string")
    first = sorted(map(tuple, connected_components(verts, edges).collect()))
    second = sorted(map(tuple, connected_components(verts, edges).collect()))
    assert first == second == [("w", "w"), ("x", "w"), ("y", "w")]


@pytest.mark.heavy
def test_star_contraction_matches_label_propagation(spark):
    """connected_components_star ≡ connected_components on chain + star +
    isolated; and star handles a 100-node chain (diameter 99) within its
    O(log n) round budget, where label propagation would need 99 rounds."""
    from llm_knowledge_graph_spark.operators.components import (
        connected_components, connected_components_star)

    verts = spark.createDataFrame(
        [(c,) for c in "abcdefgh"] + [("z",)], "id string")
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"),
         ("f", "e"), ("g", "e"), ("h", "e")], "a string, b string")
    lab = sorted(map(tuple, connected_components(verts, edges).collect()))
    star = sorted(map(tuple,
                      connected_components_star(verts, edges).collect()))
    assert lab == star

    n = 100
    ids = [f"n{i:03d}" for i in range(n)]
    chain_v = spark.createDataFrame([(i,) for i in ids], "id string")
    chain_e = spark.createDataFrame(
        list(zip(ids, ids[1:])), "a string, b string")
    got = {r.id: r.component for r in connected_components_star(
        chain_v, chain_e, max_iterations=12).collect()}
    assert got == {i: "n000" for i in ids}


@pytest.mark.heavy
def test_connected_components_cap_raises(spark):
    """An iteration cap that ends before the fixpoint is an error, not a
    silently non-canonical labelling — on both CC algorithms."""
    from llm_knowledge_graph_spark.operators.components import (
        connected_components, connected_components_star)

    ids = [f"n{i:03d}" for i in range(100)]
    chain_v = spark.createDataFrame([(i,) for i in ids], "id string")
    chain_e = spark.createDataFrame(
        list(zip(ids, ids[1:])), "a string, b string")
    for cc in (connected_components, connected_components_star):
        with pytest.raises(RuntimeError, match="max_iterations=1 "):
            cc(chain_v, chain_e, max_iterations=1)


@pytest.mark.heavy
def test_canonical_mapping_driver_vs_distributed(spark):
    """The driver union-find fast path and the distributed checkpointed
    min-label propagation produce the SAME mapping (driver_threshold=0
    forces the distributed loop on the same edges)."""
    from llm_knowledge_graph_spark.operators.components import canonical_mapping

    nodes = spark.createDataFrame(
        [(c, "Person") for c in "abcdefgh"] + [("z", "Person")],
        "id string, type string")
    sim = spark.createDataFrame(
        [("a", "b", "Person", 1.0), ("b", "c", "Person", 1.0),
         ("f", "e", "Person", 1.0), ("g", "e", "Person", 1.0)],
        "a string, b string, type string, jaccard double")
    via_driver = sorted(map(tuple, canonical_mapping(
        nodes, sim, driver_threshold=200_000).collect()))
    via_distributed = sorted(map(tuple, canonical_mapping(
        nodes, sim, driver_threshold=0).collect()))
    # same linked keys, same canonical targets (identity rows may only
    # appear in the distributed variant — compare the non-identity core)
    core = lambda rows: sorted((t, i, c) for (t, i, c) in rows if i != c)
    assert core(via_driver) == core(via_distributed)
    assert {(t, i, c) for (t, i, c) in via_distributed if i != c} == {
        ("Person", "b", "a"), ("Person", "c", "a"),
        ("Person", "f", "e"), ("Person", "g", "e")}


def test_canonical_mapping_is_an_arrow_local_relation(spark):
    """The driver-built mapping enters the plan as a local relation, not a
    pickled Python RDD: reading it (every AQE stage of the rewrite's
    broadcast) must start no Python worker — linked and empty alike. Its
    rows are driver_union_find's, with the documented schema."""
    from llm_knowledge_graph_spark.operators.components import (
        canonical_mapping, driver_union_find)

    nodes = spark.createDataFrame(
        [(c, "Person") for c in "abcefgz"], "id string, type string")
    sim = spark.createDataFrame(
        [("a", "b", "Person", 1.0), ("b", "c", "Person", 1.0),
         ("f", "e", "Person", 1.0), ("g", "e", "Person", 1.0)],
        "a string, b string, type string, jaccard double")
    for edges in (sim, sim.limit(0)):
        mapping = canonical_mapping(nodes, edges)
        lineage = mapping._jdf.queryExecution().toRdd().toDebugString()
        assert "PythonRDD" not in lineage, lineage
        assert mapping.schema.simpleString() == (
            "struct<type:string,id:string,canonical_id:string>")
        expect = sorted(("Person", k, v) for k, v in driver_union_find(
            [(r.a, r.b) for r in edges.collect()]).items())
        assert sorted(map(tuple, mapping.collect())) == expect
    assert expect == []  # the second pass really was the empty case


def test_minhash_lsh_recall_on_aliases(spark):
    """Every true alias pair must survive LSH blocking + scoring."""
    from llm_knowledge_graph_spark.corpus import alias_variants
    from llm_knowledge_graph_spark.operators.linking import similarity_edges

    names = []
    for first, last in [("John", "Doe"), ("Jane", "Smith"), ("Wei", "Chen")]:
        names += [(v, "Person") for v in alias_variants(first, last)]
    names += [("Acme Corp", "Organization"), ("Acme Corporation", "Organization")]
    df = spark.createDataFrame(names, "id string, type string")
    got = {(min(r.a, r.b), max(r.a, r.b)) for r in similarity_edges(df).collect()}
    # within-cluster pairs all present
    for first, last in [("John", "Doe"), ("Jane", "Smith"), ("Wei", "Chen")]:
        vs = sorted(alias_variants(first, last))
        for i in range(len(vs)):
            for j in range(i + 1, len(vs)):
                assert (min(vs[i], vs[j]), max(vs[i], vs[j])) in got
    # and no cross-person links
    for a, b in got:
        sa = set(a.split()) - {"Doctor", "Jr"}
        sb = set(b.split()) - {"Doctor", "Jr"}
        if {"Acme"} & sa:
            continue
        assert sa == sb, (a, b)

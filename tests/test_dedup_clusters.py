"""Fuzzy-dedup cluster resolution: connected components over near-dup
pairs and one-keeper-per-cluster semantics (VERDICT r3 #2)."""

from __future__ import annotations

import pyspark.sql.functions as F

from safe_zone_spark.operators.dedup import connected_components, fuzzy_dedup_docs


def _cc(spark, edges):
    """Run BOTH the driver union-find fast path (default threshold) and the
    distributed large-star/small-star loop (driver_threshold=0), assert they
    agree with exactly one row per node, return the label map."""
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    fast_rows = connected_components(df).collect()
    dist_rows = connected_components(df, driver_threshold=0).collect()
    fast = {r["u"]: r["label"] for r in fast_rows}
    dist = {r["u"]: r["label"] for r in dist_rows}
    assert len(fast_rows) == len(fast) and len(dist_rows) == len(dist)
    assert fast == dist
    return fast


def test_connected_components_basic(spark):
    # two components: {1,2,3} (chain) and {7,9}
    labels = _cc(spark, [(1, 2), (2, 3), (7, 9)])
    assert labels == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}
    # a node named only by a self-pair is its own component; a self-pair on
    # a node with real edges changes nothing
    assert _cc(spark, [(1, 1), (2, 3)]) == {1: 1, 2: 2, 3: 2}
    assert _cc(spark, [(1, 2), (2, 2), (2, 3), (5, 5)]) == {
        1: 1, 2: 1, 3: 1, 5: 5
    }


def test_connected_components_long_chain(spark):
    # a 12-node path needs multiple propagation rounds (diameter 11) —
    # proves the fixpoint loop actually iterates past round one
    edges = [(i, i + 1) for i in range(10, 22)]
    labels = _cc(spark, edges)
    assert set(labels.values()) == {10}
    assert len(labels) == 13


def test_connected_components_bridge_merge(spark):
    # two dense families joined by one bridge edge collapse to ONE cluster
    fam_a = [(1, 2), (1, 3), (2, 3)]
    fam_b = [(20, 21), (20, 22), (21, 22)]
    labels = _cc(spark, fam_a + fam_b + [(3, 20)])
    assert set(labels.values()) == {1}


def test_fuzzy_dedup_transitive_single_keeper(spark):
    # TRUE chain: under bands=8/threshold=0.5 the deterministic minhash
    # yields est(1,2)=est(2,3)=0.5625 (kept) but est(1,3)=0.25 (filtered) —
    # docs 1 and 3 never pair directly, yet transitive closure must put all
    # three in ONE cluster with exactly one keeper.
    w = [f"w{i:02d}" for i in range(30)]
    rows = [
        (1, " ".join(w)),
        (2, " ".join(w[:24] + [f"x{i}" for i in range(6)])),
        (3, " ".join([f"y{i}" for i in range(6)] + w[6:24]
                     + [f"x{i}" for i in range(6)])),
        (50, "completely different content about something else entirely ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = fuzzy_dedup_docs(df, threshold=0.5, bands=8).collect()
    by = {r["doc_id"]: r for r in out}
    assert len(by) == 4  # every input doc has a row
    cluster = {by[i]["cluster_id"] for i in (1, 2, 3)}
    assert cluster == {1}  # one transitive cluster, min-id label
    keepers = [r["doc_id"] for r in out if r["is_keeper"]]
    assert 1 in keepers and 2 not in keepers and 3 not in keepers
    assert by[1]["cluster_size"] == 3
    # the unrelated doc is its own singleton keeper
    assert by[50]["cluster_id"] == 50 and by[50]["is_keeper"]
    assert by[50]["cluster_size"] == 1


def test_fuzzy_dedup_partitioning_invariant(spark):
    rows = [(i, f"shared boilerplate text body number {i % 3} end") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(
        (r["doc_id"], r["cluster_id"], r["is_keeper"])
        for r in fuzzy_dedup_docs(df.repartition(2)).collect()
    )
    b = sorted(
        (r["doc_id"], r["cluster_id"], r["is_keeper"])
        for r in fuzzy_dedup_docs(df.repartition(7)).collect()
    )
    assert a == b
    # keepers == distinct clusters (exactly one keeper each)
    keepers = [t for t in a if t[2]]
    assert len(keepers) == len({t[1] for t in a})


def test_cc_star_equals_driver_on_random_graphs(spark):
    """The distributed large-star/small-star path must produce the IDENTICAL
    label map as the driver union-find — seeded pseudo-random graphs with
    mixed component shapes, plus a long path and a bridge."""
    import random

    cases = []
    for seed in (11, 12, 13):
        rng = random.Random(seed)
        nodes = list(range(seed * 100, seed * 100 + 40))
        edges = [
            tuple(sorted(rng.sample(nodes, 2))) for _ in range(rng.randint(10, 50))
        ]
        cases.append(edges)
    cases.append([(i, i + 1) for i in range(200, 215)])          # path
    cases.append([(1, 2), (1, 3), (2, 3), (20, 21), (3, 20)])    # bridge

    for edges in cases:
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        a = {r["u"]: r["label"] for r in connected_components(df).collect()}
        b = {
            r["u"]: r["label"]
            for r in connected_components(df, driver_threshold=0).collect()
        }
        assert a == b, f"divergence on {edges[:5]}..."


def test_cc_deep_path_converges_at_defaults(spark):
    """Shallow clique families plus one 41-node path (ids shuffled along
    it): the distributed path resolves it at default settings in O(log d)
    rounds and matches the driver labels. Min-label propagation needed one
    round per hop and raised at its default cap of 25."""
    import random

    edges = []
    for f in range(20):
        fam = range(1000 + 10 * f, 1006 + 10 * f)
        edges += [(a, b) for a in fam for b in fam if a < b]
    path = list(range(41))
    random.Random(7).shuffle(path)
    edges += list(zip(path, path[1:]))
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {r["u"]: r["label"] for r in connected_components(df).collect()}
    stats: dict = {}
    dist = {
        r["u"]: r["label"]
        for r in connected_components(
            df, driver_threshold=0, stats=stats
        ).collect()
    }
    assert dist == fast
    assert {fast[i] for i in range(41)} == {0}
    assert stats["path"] == "star" and stats["rounds"] <= 12


def test_fuzzy_dedup_star_and_precontract_match_default(spark):
    """Both the distributed star CC loop (driver_threshold=0) and exact-dup
    pre-contraction must leave the end-to-end cluster output unchanged on a
    corpus of >=shingle_n-word docs with verbatim replicas (the boilerplate
    shape pre-contraction exists to defuse)."""
    rows = [(i, f"shared boilerplate text body number {i % 3} end") for i in range(24)]
    rows += [(100 + i, f"wholly unique document number {i} talks about topic {i}")
             for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = sorted(tuple(r) for r in fuzzy_dedup_docs(df).collect())
    star = sorted(
        tuple(r) for r in fuzzy_dedup_docs(df, driver_threshold=0).collect()
    )
    contracted = sorted(
        tuple(r) for r in fuzzy_dedup_docs(df, pre_contract_exact=True).collect()
    )
    both = sorted(
        tuple(r)
        for r in fuzzy_dedup_docs(
            df, driver_threshold=0, pre_contract_exact=True
        ).collect()
    )
    assert base == star == contracted == both


def test_precontract_clusters_subshingle_exact_dups(spark):
    """Texts too short to shingle can never pair in the LSH graph; with
    pre-contraction their exact copies still collapse to one keeper — the
    documented strict improvement."""
    rows = [(1, "tiny doc"), (2, "tiny doc"), (3, "tiny doc"),
            (9, "some other text")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    plain = {r["doc_id"]: r["cluster_id"] for r in fuzzy_dedup_docs(df).collect()}
    assert plain == {1: 1, 2: 2, 3: 3, 9: 9}  # unsignable -> singletons
    con = {r["doc_id"]: r for r in
           fuzzy_dedup_docs(df, pre_contract_exact=True).collect()}
    assert {con[i]["cluster_id"] for i in (1, 2, 3)} == {1}
    assert con[1]["is_keeper"] and not con[2]["is_keeper"]
    assert con[1]["cluster_size"] == 3


def test_cc_nonconvergence_raises(spark):
    """Exhausting max_iter must fail LOUDLY — silent partial labels would
    ship corrupt keep/drop decisions and diverge from the oracle's full
    recursive closure."""
    import pytest

    edges = [(i, i + 1) for i in range(300, 330)]  # diameter 30
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=1, driver_threshold=0)
    # the driver fast path has no iteration cap — same input resolves fine
    labels = {r["u"]: r["label"] for r in connected_components(df).collect()}
    assert set(labels.values()) == {300}


def test_cc_string_ids_both_paths(spark):
    """id_col is a public parameter — string ids (urls, hash-hex) must work
    on the driver fast path AND the distributed loop (the old convergence
    check summed ids and only worked for numerics)."""
    edges = [("urlB", "urlC"), ("urlA", "urlB"), ("x", "y")]
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    want = {"urlA": "urlA", "urlB": "urlA", "urlC": "urlA", "x": "x", "y": "x"}
    fast = {r["u"]: r["label"] for r in connected_components(df).collect()}
    dist = {
        r["u"]: r["label"]
        for r in connected_components(df, driver_threshold=0).collect()
    }
    assert fast == dist == want


def test_precontract_null_text_stays_singleton(spark):
    """NULL text (failed extraction) is NOT an exact-dup family: md5(NULL)
    groups under one NULL key unless keyed uniquely — unrelated rows must
    not be discarded as duplicates of each other."""
    rows = [(1, None), (2, None), (3, "real text body here"), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           fuzzy_dedup_docs(df, pre_contract_exact=True).collect()}
    assert all(out[i]["cluster_id"] == i and out[i]["is_keeper"]
               and out[i]["cluster_size"] == 1 for i in (1, 2, 4))

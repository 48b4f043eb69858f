"""Connected-components closure of the dedup operators over a pair
graph: transitive chains close into one component, disjoint cliques
stay apart, and the minimum id is the keeper."""

from __future__ import annotations


def test_connected_components_chain_and_cliques(spark):
    """Hash-min propagation must close transitive chains (a-b, b-c, c-d
    → one component) and keep disjoint cliques apart; keeper = min id."""
    from s1tiling_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 10), (20, 21)],
        "doc_a long, doc_b long",
    )
    got = {
        r["doc_id"]: (r["component"], r["keep"])
        for r in connected_components(pairs).collect()
    }
    assert got == {
        1: (1, True), 2: (1, False), 3: (1, False), 4: (1, False),
        10: (10, True), 11: (10, False),
        20: (20, True), 21: (20, False),
    }

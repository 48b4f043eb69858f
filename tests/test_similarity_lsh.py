"""The Jaccard stop-shingle guard of the dedup operators: a no-op at a
sane threshold, and it drops a shingle every document shares."""

from __future__ import annotations


def test_jaccard_stop_shingle_guard_noop(spark, sf_dir):
    """At a sane max_df the guard drops nothing on the fixture — pair
    results identical with and without it (VERDICT r1 item 5)."""
    from s1tiling_spark.operators.dedup import jaccard_pairs
    from s1tiling_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    unguarded = set(
        map(tuple, jaccard_pairs(docs, k=3, tau=0.8).select("doc_a", "doc_b").collect())
    )
    guarded = set(
        map(
            tuple,
            jaccard_pairs(docs, k=3, tau=0.8, max_df=100)
            .select("doc_a", "doc_b")
            .collect(),
        )
    )
    assert guarded == unguarded


def test_jaccard_stop_shingle_guard_drops_hot(spark):
    """A shingle shared by every doc is dropped by the guard: the
    boilerplate-only pair disappears, the genuine near-dup stays."""
    from s1tiling_spark.operators.dedup import jaccard_pairs

    boiler = "the quick brown fox jumps"
    rows = [
        (1, f"{boiler} alpha beta gamma delta epsilon"),
        (2, f"{boiler} alpha beta gamma delta zeta"),  # near-dup of 1
        (3, f"{boiler} one two three four five"),
        (4, f"{boiler} six seven eight nine ten"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # without guard: (1,2) plus boilerplate-inflated pairs like (3,4)
    unguarded = set(
        map(tuple, jaccard_pairs(docs, k=3, tau=0.2).select("doc_a", "doc_b").collect())
    )
    guarded = set(
        map(
            tuple,
            jaccard_pairs(docs, k=3, tau=0.2, max_df=3)
            .select("doc_a", "doc_b")
            .collect(),
        )
    )
    assert (3, 4) in unguarded  # boilerplate-only overlap passes tau
    assert guarded == {(1, 2)}  # guard prunes it; genuine near-dup stays

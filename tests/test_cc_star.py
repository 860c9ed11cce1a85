"""Large-star/small-star connected components (Kiveris et al., SoCC 2014):
equality with a pure-Python union-find ground truth, O(log n) round
convergence on long chains, reliable checkpointing, and the component
canonicals near_dedup assigns."""

import random

import pytest

from modern_document_converter_for_ai_library_spark.operators.dedup import (
    connected_canonical,
)


def _pairs_df(spark, pairs):
    return spark.createDataFrame(pairs, ["a", "b"])


def _labels(df):
    return {r["node"]: r["canonical"] for r in df.collect()}


def _union_find_truth(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical = component min: path-compress fully then take min per root
    roots = {}
    for n in list(parent):
        roots.setdefault(find(n), []).append(n)
    out = {}
    for r, members in roots.items():
        m = min(members)
        for n in members:
            out[n] = m
    return out


def test_star_equals_union_find_truth_on_random_graphs(spark):
    rng = random.Random(20260819)
    for trial in range(4):
        n = rng.choice([12, 30, 60])
        n_edges = rng.randint(n // 3, 2 * n)
        pairs = []
        for _ in range(n_edges):
            a, b = rng.sample(range(n), 2)
            pairs.append(("n%03d" % a, "n%03d" % b))
        df = _pairs_df(spark, pairs)
        truth = _union_find_truth(pairs)
        star = _labels(connected_canonical(df))
        assert star == truth, f"trial {trial} diverged"


def test_star_converges_logarithmically_on_long_chain(spark):
    # a 60-node path has diameter 59: min-label propagation (2 hops/round)
    # would need ~30 materializations; the star alternation halves tree
    # heights per round and finishes well inside 8
    chain = [("n%03d" % i, "n%03d" % (i + 1)) for i in range(59)]
    df = _pairs_df(spark, chain)
    labels = _labels(connected_canonical(df, max_iter=8))
    assert set(labels) == {"n%03d" % i for i in range(60)}
    assert set(labels.values()) == {"n000"}


def test_thousand_link_chain_collapses_to_one_canonical(spark):
    # min-label propagation raised on this chain at its default max_iter;
    # star needs ~log2(1001) rounds, inside the default budget
    chain = [(i, i + 1) for i in range(1000)]
    labels = _labels(connected_canonical(_pairs_df(spark, chain)))
    assert len(labels) == 1001
    assert set(labels.values()) == {0}


def test_star_nonconvergence_raises_instead_of_partial(spark):
    chain = [("n%03d" % i, "n%03d" % (i + 1)) for i in range(59)]
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_canonical(_pairs_df(spark, chain), max_iter=1)


def test_star_reliable_checkpoint_writes_stable_storage(spark, tmp_path):
    verified = _pairs_df(spark, [("b", "c"), ("a", "b"), ("x", "y")])
    local = _labels(connected_canonical(verified))
    reliable = _labels(
        connected_canonical(verified, checkpoint_dir=str(tmp_path / "ck"))
    )
    assert local == reliable == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    # the reliable variant actually wrote checkpoint data to stable storage
    assert any((tmp_path / "ck").rglob("*"))


def test_near_dedup_collapses_chain_to_component_min(spark):
    from modern_document_converter_for_ai_library_spark.operators.dedup import (
        near_dedup,
    )

    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = [
        ("d1", base * 4),
        ("d2", base * 4 + "tail one"),          # near-dup of d1
        ("d3", base * 4 + "tail one more"),     # chains to d2
        ("d4", "completely different content about spark partitions " * 5),
        ("d5", "another unrelated document on tokenizers and vocabularies " * 5),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["canonical_doc_id"], r["is_near_duplicate"])
        for r in near_dedup(df, threshold_micros=300_000).collect()
    }
    assert out == {
        "d1": ("d1", False),
        "d2": ("d1", True),
        "d3": ("d1", True),
        "d4": ("d4", False),
        "d5": ("d5", False),
    }


def test_star_empty_and_single_pair(spark):
    empty = spark.createDataFrame([], "a: string, b: string")
    assert connected_canonical(empty).count() == 0
    one = _labels(connected_canonical(_pairs_df(spark, [("q", "p")])))
    assert one == {"p": "p", "q": "p"}

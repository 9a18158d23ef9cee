"""Connected-components operator: star vs min-label equivalence, long-chain
convergence, non-convergence raising, and q48's dedup-applied-corpus
semantics. Ground truth via a driver-side union-find (test-only)."""

import os
import random
from collections import defaultdict

import pandas as pd
import pytest

from real_time_anomaly_detection_spark.operators.components import (
    ComponentsNotConverged,
    connected_components,
)


def _labels_of(spark, edges, **kw):
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    return {r.doc_id: r.label for r in connected_components(df, **kw).collect()}


def _union_find_truth(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = defaultdict(list)
    for n in parent:
        comp[find(n)].append(n)
    return {n: min(comp[find(n)]) for n in parent}


def test_star_converges_on_long_chain_within_log_rounds(spark):
    """A 121-node path (diameter 120) — min-label would need 120 rounds;
    star contraction must finish within 10 (O(log^2 n))."""
    chain = [(i, i + 1) for i in range(120)]
    got = _labels_of(spark, chain, algorithm="star", max_iters=10)
    assert got == {i: 0 for i in range(121)}


def test_min_label_raises_rather_than_returning_wrong_labels(spark):
    """The failure mode the star default exists for: a component whose
    diameter exceeds the iteration budget. Silent partial labels would be
    WRONG (non-minimal cluster ids); the operator must raise."""
    chain = [(i, i + 1) for i in range(40)]
    with pytest.raises(ComponentsNotConverged):
        _labels_of(spark, chain, algorithm="min_label", max_iters=5)


def test_star_equals_min_label_equals_union_find_on_random_graph(spark):
    rnd = random.Random(7)
    edges = [(rnd.randrange(200), rnd.randrange(200)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    truth = _union_find_truth(edges)
    assert _labels_of(spark, edges, algorithm="star") == truth
    assert _labels_of(spark, edges, algorithm="min_label", max_iters=50) == truth


def test_star_on_cliques_and_isolated_edge(spark):
    edges = (
        [(i, j) for i in range(5) for j in range(i + 1, 5)]
        + [(i, j) for i in range(50, 56) for j in range(i + 1, 56)]
        + [(100, 101)]
    )
    got = _labels_of(spark, edges, algorithm="star")
    assert got == _union_find_truth(edges)


def _write_chain_corpus(spark, tmp_path):
    """The q47 transitivity corpus: one 3-chain, one pair, one loner."""
    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9".split()
    mk = " ".join
    docs = pd.DataFrame(
        [(0, mk(base + ["a0"])),
         (1, mk(base + ["a1"])),
         (2, mk(base[1:] + ["a1", "a2"])),
         (10, mk([f"x{j}" for j in range(10)] + ["b0"])),
         (11, mk([f"x{j}" for j in range(10)] + ["b1"])),
         (20, mk([f"z{j}" for j in range(12)]))],
        columns=["doc_id", "text"],
    )
    path = str(tmp_path / "docs")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        os.path.join(path, "documents.parquet"))
    return path


def test_q48_dedup_corpus_keeps_keepers_and_loners(spark, tmp_path):
    """q48 = documents minus non-keeper cluster members: the cluster {0,1,2}
    survives as doc 0, the pair {10,11} as doc 10, and the loner 20 (in no
    near-dup pair) survives untouched."""
    from real_time_anomaly_detection_spark.queries import QUERIES

    path = _write_chain_corpus(spark, tmp_path)
    got = sorted(
        r.doc_id for r in QUERIES["q48_dedup_corpus"](spark, path).collect()
    )
    assert got == [0, 10, 20]


def test_q48_matches_oracle_on_chain_corpus(spark, tmp_path):
    import duckdb

    from real_time_anomaly_detection_spark.queries import _Q48_SQL, QUERIES

    path = _write_chain_corpus(spark, tmp_path)
    got = sorted(
        r.doc_id for r in QUERIES["q48_dedup_corpus"](spark, path).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet('%s')"
        % os.path.join(path, "documents.parquet", "*.parquet")
    )
    want = sorted(int(x) for (x,) in con.execute(_Q48_SQL).fetchall())
    assert got == want


def test_incremental_components_equals_batch(spark):
    """VERDICT r5 #2: folding each epoch's NEW pairs into the previous
    star forest must reproduce batch CC over all accumulated pairs —
    including epochs whose edges MERGE two previously-separate clusters
    (the case where reusing labels could go wrong)."""
    from real_time_anomaly_detection_spark.operators.components import (
        incremental_components,
    )

    # deterministic merge case: epoch 2's (2,5) unites epoch 1's clusters
    labels = None
    acc = []
    for ep in ([(1, 2), (5, 6)], [(2, 5)], [(7, 8)]):
        acc.extend(ep)
        new = spark.createDataFrame(ep, "doc_a long, doc_b long")
        labels = incremental_components(new, labels).localCheckpoint(eager=True)
        got = {r.doc_id: r.label for r in labels.collect()}
        assert got == _union_find_truth(acc), acc

    # randomized: 4 interleaved epochs over a 200-node graph (merges across
    # epochs are near-certain at this density)
    rng = random.Random(7)
    all_edges = [tuple(rng.sample(range(200), 2)) for _ in range(260)]
    epochs = [all_edges[i::4] for i in range(4)]
    labels, acc = None, []
    for ep in epochs:
        acc.extend(ep)
        new = spark.createDataFrame(ep, "doc_a long, doc_b long")
        labels = incremental_components(new, labels).localCheckpoint(eager=True)
    got = {r.doc_id: r.label for r in labels.collect()}
    assert got == _union_find_truth(acc)


def test_update_clusters_store_flow(spark, tmp_path):
    """The persisted incremental path: epoch-idempotent snapshots +
    state-then-marker commit. Covers fold, merge-across-updates, no-op
    re-call, crash-retry (marker reverted after snapshot write), and the
    wrong-pairs-root guard."""
    from real_time_anomaly_detection_spark.operators.components import (
        connected_components,
    )
    from real_time_anomaly_detection_spark.streaming import clusters as C

    pairs_root = str(tmp_path / "pairs")
    out = str(tmp_path / "cl")

    def write_epoch(e, rows):
        spark.createDataFrame(
            [(a, b, 1.0) for a, b in rows],
            "doc_a long, doc_b long, similarity double",
        ).write.mode("overwrite").parquet(
            os.path.join(pairs_root, f"epoch_id={e}")
        )

    def head_map():
        return {r.doc_id: r.label for r in C.head_labels(spark, out).collect()}

    write_epoch(0, [(1, 2), (10, 11)])
    r = C.update_clusters(spark, pairs_root, out)
    assert r["head"] == 0 and r["new_epochs"] == [0] and r["n_labels"] == 4
    assert head_map() == {1: 1, 2: 1, 10: 10, 11: 10}

    write_epoch(1, [(2, 10)])  # merges the two clusters
    r = C.update_clusters(spark, pairs_root, out)
    assert r["head"] == 1
    assert head_map() == {1: 1, 2: 1, 10: 1, 11: 1}

    # no new epochs: no-op
    r = C.update_clusters(spark, pairs_root, out)
    assert r == {"head": 1, "new_epochs": [], "n_labels": None}

    # crash between snapshot and marker: revert the marker, retry must
    # recompute the same head snapshot and commit
    write_epoch(2, [(20, 21)])
    r = C.update_clusters(spark, pairs_root, out)
    assert r["head"] == 2
    C._commit_head(out, {"head": 1, "n_labels": 4, "folded_epochs": 2})
    r = C.update_clusters(spark, pairs_root, out)
    assert r["head"] == 2 and r["new_epochs"] == [2]
    assert head_map() == {1: 1, 2: 1, 10: 1, 11: 1, 20: 20, 21: 20}

    # incremental result == batch CC over everything accumulated
    batch = connected_components(
        spark.read.parquet(pairs_root).select("doc_a", "doc_b")
    )
    assert head_map() == {r.doc_id: r.label for r in batch.collect()}

    # a clusters store pointed at the wrong pairs root fails loudly
    other = str(tmp_path / "other_pairs")
    spark.createDataFrame(
        [(50, 51, 1.0)], "doc_a long, doc_b long, similarity double"
    ).write.parquet(os.path.join(other, "epoch_id=7"))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="wrong pairs root"):
        C.update_clusters(spark, other, out)


def test_update_clusters_snapshot_retention(spark, tmp_path):
    """retain_snapshots prunes full-label lineage snapshots below the head
    AFTER the commit — labels stay identical to batch CC, the head snapshot
    (the incremental state) is never pruned, and crash-retry still works
    when all pre-head lineage is gone."""
    from real_time_anomaly_detection_spark.operators.components import (
        connected_components,
    )
    from real_time_anomaly_detection_spark.streaming import clusters as C

    pairs_root = str(tmp_path / "pairs")
    out = str(tmp_path / "cl")

    def write_epoch(e, rows):
        spark.createDataFrame(
            [(a, b, 1.0) for a, b in rows],
            "doc_a long, doc_b long, similarity double",
        ).write.mode("overwrite").parquet(
            os.path.join(pairs_root, f"epoch_id={e}")
        )

    def snaps():
        store = os.path.join(out, C.STORE_DIR)
        return sorted(int(d.split("=")[1]) for d in os.listdir(store)
                      if d.startswith("epoch_id="))

    write_epoch(0, [(1, 2)])
    r = C.update_clusters(spark, pairs_root, out, retain_snapshots=2)
    assert r["pruned_snapshots"] == []
    write_epoch(1, [(3, 4)])
    C.update_clusters(spark, pairs_root, out, retain_snapshots=2)
    assert snaps() == [0, 1]
    write_epoch(2, [(2, 3)])
    r = C.update_clusters(spark, pairs_root, out, retain_snapshots=2)
    assert r["pruned_snapshots"] == [0] and snaps() == [1, 2]

    # keep-only-head: prune everything below on the next update
    write_epoch(3, [(10, 11)])
    r = C.update_clusters(spark, pairs_root, out, retain_snapshots=1)
    assert snaps() == [3]

    # crash between snapshot write and marker commit (the prune runs only
    # AFTER the commit, so the previous head snapshot is still present in
    # this window): revert the marker to simulate, then retry WITH
    # retention — it recomputes the head, commits, and prunes
    write_epoch(4, [(11, 12)])
    C.update_clusters(spark, pairs_root, out)  # snap 4 written, snaps [3,4]
    head4 = {r_.doc_id: r_.label
             for r_ in C.head_labels(spark, out).collect()}
    C._commit_head(out, {"head": 3, "n_labels": 6, "folded_epochs": 4})
    C.update_clusters(spark, pairs_root, out, retain_snapshots=1)
    assert snaps() == [4]
    assert {r_.doc_id: r_.label
            for r_ in C.head_labels(spark, out).collect()} == head4

    # labels ≡ batch CC over all accumulated pairs despite pruning
    batch = connected_components(
        spark.read.parquet(pairs_root).select("doc_a", "doc_b"))
    assert head4 == {r_.doc_id: r_.label for r_ in batch.collect()}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="retain_snapshots"):
        C.update_clusters(spark, pairs_root, out, retain_snapshots=0)


def test_string_id_clusters_and_update_flow(spark, tmp_path):
    """STRING ids (audio clip_ids) through the whole cluster stack: both
    batch algorithms agree with a Python union-find under lexicographic
    min-labels, and update_clusters folds string-id pairs epochs."""
    import os

    from real_time_anomaly_detection_spark.operators.components import (
        connected_components,
    )
    from real_time_anomaly_detection_spark.streaming import clusters as C

    # chain c1-c2-c10 (min 'c1' lexicographically) + island (z9, z10):
    # 'z10' < 'z9' as STRINGS — catches any numeric-cast shortcut
    e0 = [("c2", "c1"), ("c2", "c10")]
    e1 = [("z9", "z10")]
    for algo in ("star", "min_label"):
        labels = {
            r.doc_id: r.label
            for r in connected_components(
                spark.createDataFrame(e0 + e1, "doc_a string, doc_b string"),
                algorithm=algo,
            ).collect()
        }
        assert labels == {"c1": "c1", "c2": "c1", "c10": "c1",
                          "z9": "z10", "z10": "z10"}, algo

    pairs_root = str(tmp_path / "spairs")
    out = str(tmp_path / "scl")
    for e, rows in enumerate((e0, e1)):
        spark.createDataFrame(
            [(a, b, 1.0) for a, b in rows],
            "doc_a string, doc_b string, similarity double",
        ).write.parquet(os.path.join(pairs_root, f"epoch_id={e}"))
    r = C.update_clusters(spark, pairs_root, out)
    assert r["head"] == 1 and r["n_labels"] == 5
    got = {x.doc_id: x.label for x in C.head_labels(spark, out).collect()}
    assert got == {"c1": "c1", "c2": "c1", "c10": "c1",
                   "z9": "z10", "z10": "z10"}

"""Similarity-search quality contracts: the banded-LSH scale paths must be
(a) sound — every returned pair/neighbor passes the same exact integer
test as the exhaustive baseline (subset property), and (b) useful — recall
vs the exhaustive result stays above a stated floor on the driver's
embedding table."""

import os

import pytest
from pyspark.sql import functions as F

from rayjoin_spark.operators import simsearch

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# stated recall floors (measured 0.75 neardup / 0.84 ann at sf0.001;
# floors leave headroom so the test pins quality without seed-brittleness)
NEARDUP_RECALL_FLOOR = 0.55
ANN_RECALL_FLOOR = 0.6


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_neardup_lsh_sound_and_recall(spark, emb):
    exact = {
        (r["id_a"], r["id_b"])
        for r in simsearch.neardup_cosine(emb, min_cosine=0.35, exhaustive=True).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in simsearch.neardup_cosine(emb, min_cosine=0.35, exhaustive=False).collect()
    }
    assert lsh <= exact, "LSH path returned a pair failing the exact threshold"
    recall = len(lsh) / max(len(exact), 1)
    assert recall >= NEARDUP_RECALL_FLOOR, f"neardup recall {recall:.3f}"


def test_ann_lsh_recall(spark, emb):
    qs = emb.filter(F.pmod(F.col("vec_id"), 100) == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = simsearch.topk_dot(emb, qs, k=5)
    ann = simsearch.ann_lsh_topk(emb, qs, k=5)
    recall = simsearch.ann_recall(exact, ann)
    assert recall >= ANN_RECALL_FLOOR, f"ann recall {recall:.3f}"


def test_ann_ivf_recall_and_bucketing(spark, emb):
    """IVF path: recall floor at default probe width, plus the structural
    guarantee that shrinking n_probe shrinks (never grows) the candidate
    set — each corpus vector lives in exactly one bucket."""
    qs = emb.filter(F.pmod(F.col("vec_id"), 100) == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = simsearch.topk_dot(emb, qs, k=5)
    ivf = simsearch.ann_ivf_topk(emb, qs, k=5)
    recall = simsearch.ann_recall(exact, ivf)
    # sf0.001 has few centroids, so the default n_probe covers most buckets
    assert recall >= ANN_RECALL_FLOOR, f"ivf recall {recall:.3f}"
    # results are always drawn from probed buckets: a 1-probe search
    # returns a subset of dots present in the full ranking
    narrow = simsearch.ann_ivf_topk(emb, qs, k=5, n_probe=1)
    full = {(r["query_id"], r["corpus_id"]) for r in ivf.collect()}
    nset = {(r["query_id"], r["corpus_id"]) for r in narrow.collect()}
    got_all = {
        (r["query_id"], r["corpus_id"])
        for r in simsearch.ann_ivf_topk(emb, qs, k=10**6, n_probe=10**6).collect()
    }
    assert nset, "1-probe search returned nothing"
    assert nset <= got_all


def test_neardup_components_chain_and_cliques(spark):
    """Connected components: a 40-node path (adversarial for plain
    min-propagation), two cliques, bridges and singletons — labels must
    match a python union-find, and the pointer-jumped loop must converge
    well under the O(diameter) round count."""
    from rayjoin_spark.functions.textops import neardup_components

    # path 0-1-2-...-39, clique {100..104}, pair {200, 201},
    # bridge 39-100, singletons 300, 301
    edges = [(i, i + 1) for i in range(39)]
    edges += [(a, b) for a in range(100, 105) for b in range(a + 1, 105)]
    edges += [(200, 201), (39, 100)]
    node_ids = sorted({v for e in edges for v in e} | {300, 301})

    parent = {v: v for v in node_ids}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        parent[find(a)] = find(b)
    want = {v: min(u for u in node_ids if find(u) == find(v)) for v in node_ids}

    ids = spark.createDataFrame([(v,) for v in node_ids], "doc_id long")
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["is_canonical"])
        for r in neardup_components(ids, pairs).collect()
    }
    assert set(got) == set(node_ids)
    sizes = {}
    for v in node_ids:
        sizes[want[v]] = sizes.get(want[v], 0) + 1
    for v in node_ids:
        assert got[v] == (want[v], sizes[want[v]], v == want[v]), (v, got[v])

    # empty pair set: every node is its own singleton cluster
    none = neardup_components(ids, pairs.limit(0)).collect()
    assert all(
        r["cluster_id"] == r["doc_id"] and r["cluster_size"] == 1 and r["is_canonical"]
        for r in none
    )


def test_neardup_components_round_cap_is_loud(spark, monkeypatch):
    """A chain that needs more rounds than the label loop's cap raises
    instead of returning half-propagated labels."""
    from rayjoin_spark.functions.textops import neardup_components
    from rayjoin_spark.plans import labels

    monkeypatch.setattr(labels, "MAX_ROUNDS", 1)
    ids = spark.createDataFrame([(v,) for v in (1, 2, 3, 4)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="no fixpoint"):
        neardup_components(ids, pairs).collect()


def test_sampling_and_chunking(spark):
    """Deterministic sampling: fraction accuracy, salt independence,
    subset stability. Chunking: overlap/tail/empty-text edge cases."""
    from rayjoin_spark.functions.textops import (
        chunk_documents, hex_threshold, sample_deterministic, sample_stratified,
    )

    assert hex_threshold(0.0) == "00000000"
    assert hex_threshold(1.0) == "g"  # sorts after every hex digest
    assert hex_threshold(0.5) == "80000000"

    df = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.pmod("id", 4) == 0, "en").otherwise("de").alias("lang"),
    )
    s = sample_deterministic(df, 0.25, key_col="doc_id")
    n = s.count()
    assert abs(n / 4000 - 0.25) < 0.03
    # deterministic + monotone: smaller fraction selects a subset
    sub = {r["doc_id"] for r in sample_deterministic(df, 0.1).collect()}
    assert sub < {r["doc_id"] for r in s.collect()}
    # a different salt decorrelates the selection
    other = {r["doc_id"] for r in sample_deterministic(df, 0.25, salt="x").collect()}
    inter = len(sub and other and ({r["doc_id"] for r in s.collect()} & other))
    assert abs(inter / 4000 - 0.0625) < 0.03

    st = sample_stratified(df, {"en": 1.0, "de": 0.0}, strata_col="lang")
    rows = st.collect()
    assert len(rows) == 1000 and all(r["lang"] == "en" for r in rows)

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b"), (3, "")],
        "doc_id long, text string",
    )
    ch = {(r["doc_id"], r["chunk_id"]): r for r in
          chunk_documents(docs, size=4, stride=3).collect()}
    # doc 1: 10 tokens -> starts 0,3,6,9
    assert sorted(c for d, c in ch if d == 1) == [0, 1, 2, 3]
    assert ch[(1, 0)]["chunk_text"] == "t0 t1 t2 t3"
    assert ch[(1, 1)]["chunk_text"] == "t3 t4 t5 t6"  # overlap of 1
    assert ch[(1, 3)]["chunk_text"] == "t9" and ch[(1, 3)]["n_chunk_tokens"] == 1
    assert ch[(2, 0)]["chunk_text"] == "a b" and len([1 for d, _ in ch if d == 2]) == 1
    # empty text: one chunk, the empty token
    assert ch[(3, 0)]["n_chunk_tokens"] == 1 and ch[(3, 0)]["chunk_text"] == ""


def test_kmeans_labels_two_obvious_clusters(spark):
    from rayjoin_spark.operators.simsearch import kmeans_labels

    # two tight 2-D blobs; init = two smallest ids, one in each blob
    rows = [
        (0, [0.0, 0.0]), (2, [0.01, -0.01]), (4, [-0.02, 0.01]),
        (1, [1.0, 1.0]), (3, [0.99, 1.02]), (5, [1.01, 0.98]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {r["vec_id"]: r for r in kmeans_labels(emb, k=2, iters=2).collect()}
    assert {out[i]["cluster"] for i in (0, 2, 4)} == {0}
    assert {out[i]["cluster"] for i in (1, 3, 5)} == {1}
    # centroid of blob 0 after any round is the integer mean of quantized
    # members: ((0+10-20)//3, (0-10+10)//3) = (-3, 0); vec 0's final
    # sq_dist = 3^2 + 0^2
    assert out[0]["sq_dist"] == 9


def test_kmeans_labels_partitioning_invariant(spark):
    from rayjoin_spark.operators.simsearch import kmeans_labels

    rows = [
        (i, [float(((i * 37) % 19) - 9) / 3.0, float(((i * 53) % 23) - 11) / 4.0,
             float((i % 7) - 3) / 2.0])
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    a = sorted(map(tuple, kmeans_labels(emb, k=4, iters=2).collect()))
    b = sorted(map(tuple, kmeans_labels(emb.repartition(13), k=4, iters=2).collect()))
    assert a == b


def test_kmeans_representatives(spark):
    from rayjoin_spark.operators.simsearch import (
        kmeans_labels,
        kmeans_representatives,
    )

    rows = [
        (0, [0.0, 0.0]), (2, [0.01, -0.01]), (4, [-0.02, 0.01]),
        (1, [1.0, 1.0]), (3, [0.99, 1.02]), (5, [1.01, 0.98]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    reps = {
        r["cluster"]: r
        for r in kmeans_representatives(kmeans_labels(emb, k=2, iters=2)).collect()
    }
    # blob 0 centroid is the integer mean (-3, 0): vec 0 at sq_dist 9 is
    # nearest; blob 1 centroid is exactly (1000, 1000) = vec 1
    assert reps[0]["rep_id"] == 0 and reps[0]["sq_dist"] == 9
    assert reps[1]["rep_id"] == 1 and reps[1]["sq_dist"] == 0


def test_semdedup_groups_and_keep_rule(spark):
    # two far-apart blobs (clusters); inside blob A three mutual near-dups
    # plus one distinct vector; inside blob B two near-dups. keep = the
    # group member FARTHEST from its centroid (max sq_dist, ties -> max id).
    rows = [
        (0, [1.00, 0.0]), (1, [1.01, 0.0]), (2, [0.99, 0.0]),  # A dups
        (3, [0.0, 1.0]),                                        # in A, orthogonal: singleton
        (10, [100.0, 100.0]), (11, [100.5, 100.2]),             # B dups
        (12, [100.0, -100.0]),                                  # in B, orthogonal: singleton
    ]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id bigint, embedding array<float>",
    )
    out = {
        r["vec_id"]: r
        for r in simsearch.semdedup(emb, k=2, iters=2, min_cosine=0.999).collect()
    }
    assert set(out) == {0, 1, 2, 3, 10, 11, 12}
    # 0,1,2 are one duplicate group (pairwise cosine ~1); exactly one kept
    g = {out[i]["dup_group"] for i in (0, 1, 2)}
    assert len(g) == 1 and out[0]["group_size"] == 3
    kept = [i for i in (0, 1, 2) if out[i]["keep"] == 1]
    assert len(kept) == 1
    # the kept one is the argmax of (sq_dist, vec_id) within the group
    expect = max((0, 1, 2), key=lambda i: (out[i]["sq_dist"], i))
    assert kept == [expect]
    # 10,11 near-dups (cosine ~1 → same group), one kept
    assert out[10]["dup_group"] == out[11]["dup_group"]
    assert out[10]["group_size"] == 2
    assert out[10]["keep"] + out[11]["keep"] == 1
    # singletons keep themselves
    for i in (3, 12):
        assert out[i]["group_size"] == 1 and out[i]["keep"] == 1
    # total kept = number of groups
    assert sum(r["keep"] for r in out.values()) == len({r["dup_group"] for r in out.values()})

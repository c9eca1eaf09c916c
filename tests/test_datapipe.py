"""Datapipe operators: planted-duplicate recall for MinHash-LSH and
SimHash, LSH-ANN recall vs brute force, multimodal plumbing shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_minhash_lsh_finds_planted_near_dups(spark, docs):
    from textract_demo_spark.datapipe.dedup import minhash_dedup_pairs
    base = docs.select("doc_id", "text").filter(F.col("doc_id") < 200)
    near = (base.filter(F.col("doc_id") % 10 == 0)
            .select((F.col("doc_id") + 1000000).alias("doc_id"),
                    F.concat("text", F.lit(" tail noise words"))
                     .alias("text")))
    pairs = minhash_dedup_pairs(base.unionByName(near),
                                threshold=0.5).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    planted = {(d, d + 1000000) for d in range(0, 200, 10)}
    recall = len(found & planted) / len(planted)
    assert recall >= 0.9, f"LSH recall {recall}, found={sorted(found)[:5]}"
    # jaccard verification bound holds for everything returned
    assert all(r["jaccard"] >= 0.5 for r in pairs)


def test_simhash_near_dups_have_small_hamming(spark, docs):
    from textract_demo_spark.datapipe.dedup import (with_shingles,
                                                    with_simhash)
    base = docs.select("doc_id", "text").filter(F.col("doc_id") < 100)
    near = (base.select((F.col("doc_id") + 1000000).alias("doc_id"),
                        F.concat("text", F.lit(" xyz")).alias("text")))
    sims = {r["doc_id"]: r["simhash"] for r in
            with_simhash(with_shingles(base.unionByName(near)))
            .select("doc_id", "simhash").collect()}
    hammings = []
    for d in range(100):
        h = bin((sims[d] ^ sims[d + 1000000]) & ((1 << 64) - 1)).count("1")
        hammings.append(h)
    assert sum(h <= 12 for h in hammings) / len(hammings) >= 0.9, (
        f"simhash hamming too large: {sorted(hammings)[-5:]}")
    # unrelated docs should be far apart on average
    import statistics
    unrelated = [bin((sims[d] ^ sims[d + 1]) & ((1 << 64) - 1)).count("1")
                 for d in range(0, 98, 2)]
    assert statistics.mean(unrelated) > 15


def test_lsh_ann_recall_vs_brute_force(spark):
    from textract_demo_spark.datapipe.similarity import cosine_topk, lsh_topk
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = (emb.filter(F.col("vec_id") < 8)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    exact = cosine_topk(emb, q, k=10).collect()
    approx = lsh_topk(emb, q, k=10, n_bits=16, bands=8).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["qid"], set()).add(r["vec_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["qid"], set()).add(r["vec_id"])
    recalls = [len(exact_sets[q0] & approx_sets.get(q0, set())) / 10
               for q0 in exact_sets]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.5, f"ANN recall too low: {recalls}"


def test_embedding_neardup_lsh_recall_vs_brute(spark):
    from textract_demo_spark.datapipe.dedup import embedding_neardup_pairs
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    # low threshold so enough pairs exist at this tiny sf
    exact = {(r["id_a"], r["id_b"]) for r in
             embedding_neardup_pairs(emb, threshold=0.30).collect()}
    approx = {(r["id_a"], r["id_b"]) for r in
              embedding_neardup_pairs(emb, threshold=0.30, use_lsh=True,
                                      n_bits=16, bands=8).collect()}
    assert exact, "expected some near-dup pairs at threshold 0.30"
    # LSH candidates are a subset (it only prunes), with decent recall
    assert approx <= exact
    assert len(approx) / len(exact) >= 0.5, (
        f"LSH neardup recall {len(approx)}/{len(exact)}")


def test_ngram_jaccard_self_is_one(spark, docs):
    from textract_demo_spark.datapipe.dedup import ngram_jaccard_pairs
    base = docs.select("doc_id", "text").filter(F.col("doc_id") < 50)
    dup = base.filter(F.col("doc_id") == 3).select(
        (F.col("doc_id") + 500).alias("doc_id"), "text")
    out = ngram_jaccard_pairs(base.unionByName(dup), other_ids=[3])
    rows = {r["doc_id"]: r["jaccard"] for r in out.collect()}
    assert rows[503] == pytest.approx(1.0)  # identical text
    assert all(0.0 <= v <= 1.0 for v in rows.values())


def test_multimodal_frames_shape_and_determinism(spark, docs):
    from textract_demo_spark.datapipe.multimodal import (attach_media,
                                                         extract_frames)
    media = attach_media(docs.filter(F.col("doc_id") < 50))
    frames = extract_frames(media)
    rows = frames.collect()
    assert all(len(r["feature"]) == 8 for r in rows)
    assert all(0.0 <= v <= 1.0 for r in rows for v in r["feature"])
    # frames per doc = ceil(n_bytes / 256)
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    meta = {r["doc_id"]: r["n_bytes"] for r in media.collect()}
    for d, rs in by_doc.items():
        expected = max(1, -(-meta[d] // 256))
        assert len(rs) == expected
    # determinism
    rows2 = extract_frames(media).collect()
    assert sorted(map(str, rows)) == sorted(map(str, rows2))


def test_real_decode_is_explicitly_stubbed():
    from textract_demo_spark.datapipe import multimodal
    with pytest.raises(NotImplementedError):
        multimodal._real_decode(b"\x89PNG")


def test_simhash_arrow_matches_sql_form(spark, docs):
    """The Arrow numpy kernel and the pure-SQL higher-order form must
    produce bit-identical fingerprints (the kernel only changes WHERE
    the bit-sums run, not the definition)."""
    from pyspark.sql import functions as F

    from textract_demo_spark.datapipe.dedup import (with_shingles,
                                                    with_simhash)
    sh = with_shingles(docs.limit(60))
    fast = {r["doc_id"]: r["simhash"]
            for r in with_simhash(sh, use_arrow=True)
            .select("doc_id", "simhash").collect()}
    slow = {r["doc_id"]: r["simhash"]
            for r in with_simhash(sh, use_arrow=False)
            .select("doc_id", "simhash").collect()}
    assert fast == slow and len(fast) == 60
    # empty-text edge: split('') yields one '' token on both paths —
    # the two forms must still agree bit-for-bit
    empty = spark.createDataFrame([(1, "")], "doc_id long, text string")
    got = {arrow: with_simhash(with_shingles(empty), use_arrow=arrow)
           .select("simhash").first()[0] for arrow in (True, False)}
    assert got[True] == got[False]


def test_ivf_ann_recall_vs_brute_force(spark):
    from textract_demo_spark.datapipe.similarity import cosine_topk, ivf_topk
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = (emb.filter(F.col("vec_id") < 8)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    exact = cosine_topk(emb, q, k=10).collect()
    approx = ivf_topk(emb, q, k=10, n_centroids=8, n_probe=3,
                      iters=1).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r["qid"], set()).add(r["vec_id"])
    for r in approx:
        approx_sets.setdefault(r["qid"], set()).add(r["vec_id"])
    recalls = [len(exact_sets[q0] & approx_sets.get(q0, set())) / 10
               for q0 in exact_sets]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.5, f"IVF recall too low: {recalls}"
    # determinism: same call twice yields identical rankings
    again = ivf_topk(emb, q, k=10, n_centroids=8, n_probe=3,
                     iters=1).collect()
    assert sorted(map(tuple, approx)) == sorted(map(tuple, again))


def test_simhash_banded_pairs_recall_is_total(spark, docs):
    """Banded pair generation == brute-force Hamming <= k pair set:
    recall is guaranteed by pigeonhole (k <= bands-1), precision by
    the in-bucket bit_count verification."""
    from textract_demo_spark.datapipe.dedup import (simhash_pairs,
                                                    with_shingles,
                                                    with_simhash)
    base = docs.select("doc_id", "text")
    near = base.select((F.col("doc_id") + 1000000).alias("doc_id"),
                       F.concat("text", F.lit(" tail words")).alias("text"))
    fp = with_simhash(with_shingles(base.unionByName(near)))
    banded = {(r.id_a, r.id_b, r.hamming)
              for r in simhash_pairs(fp, bands=4, max_hamming=3).collect()}
    rows = fp.select("doc_id", "simhash").collect()

    def ham(a, b):  # 64-bit two's-complement popcount of the xor
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    brute = {(min(a.doc_id, b.doc_id), max(a.doc_id, b.doc_id),
              ham(a.simhash, b.simhash))
             for i, a in enumerate(rows) for b in rows[i + 1:]
             if ham(a.simhash, b.simhash) <= 3}
    assert banded == brute
    assert len(banded) > 0  # planted near-dups actually exercised


def test_simhash_pairs_rejects_impossible_recall_config():
    import pytest as _pytest

    from textract_demo_spark.datapipe.dedup import simhash_pairs
    with _pytest.raises(ValueError):
        simhash_pairs(None, bands=4, max_hamming=4)


def test_minhash_release_cached_frees_storage(spark, docs):
    """Repeated dedup sweeps must not leak cached partitions once the
    caller releases the handle (caller contract on
    lsh_candidate_pairs/minhash_dedup_pairs)."""
    from textract_demo_spark.datapipe.dedup import (minhash_dedup_pairs,
                                                    release_cached)
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    for _ in range(3):
        pairs = minhash_dedup_pairs(docs, num_hashes=16, bands=8)
        pairs.count()
        release_cached(pairs)
    assert jsc.getPersistentRDDs().size() == before


def test_incremental_dedup_matches_brute_force(spark, docs):
    """incremental_dedup_pairs (batch vs frozen index + within batch)
    returns exactly the brute-force >= threshold relation set:
    precision is exact by construction (Jaccard verification), and on
    this corpus banded recall is total."""
    from textract_demo_spark.datapipe.dedup import (
        build_minhash_index, incremental_dedup_pairs, release_cached,
        with_shingles)
    corpus = docs.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    batch = (docs.filter(F.col("doc_id") % 3 == 0)
             .select("doc_id", "text")
             .unionByName(
                 corpus.filter(F.col("doc_id") % 5 == 1)
                 .select((F.col("doc_id") + 1000000).alias("doc_id"),
                         F.concat("text", F.lit(" tail noise"))
                          .alias("text"))))
    idx = build_minhash_index(corpus, num_hashes=32)
    out = incremental_dedup_pairs(batch, idx, threshold=0.5,
                                  num_hashes=32, bands=16)
    got = {(r["doc_id"], r["match_id"], r["match_src"]): r["jaccard"]
           for r in out.collect()}
    release_cached(out)

    def sets(df):
        return {r["doc_id"]: set(r["shingles"])
                for r in with_shingles(df).collect()}
    c_sh, b_sh = sets(corpus), sets(batch)
    want = {}
    for bid, bsh in b_sh.items():
        for cid, csh in c_sh.items():
            j = len(bsh & csh) / len(bsh | csh)
            if j >= 0.5 and cid != bid:
                want[(bid, cid, "corpus")] = j
        for aid, ash in b_sh.items():
            if aid < bid:
                j = len(bsh & ash) / len(bsh | ash)
                if j >= 0.5:
                    want[(bid, aid, "batch")] = j
    assert set(got) == set(want), (
        f"missing={set(want) - set(got)} extra={set(got) - set(want)}")
    for k, j in want.items():
        assert abs(got[k] - j) < 1e-12


def test_incremental_dedup_exact_reingest_and_novel(spark, docs):
    """A batch doc byte-identical to a corpus doc matches at Jaccard
    1.0 against the frozen index; a doc with no near-dup produces no
    row; the persisted banded frame is released by the caller
    contract."""
    from textract_demo_spark.datapipe.dedup import (
        build_minhash_index, incremental_dedup_pairs, release_cached)
    corpus = docs.filter(F.col("doc_id") < 30).select("doc_id", "text")
    reingest = (corpus.filter(F.col("doc_id") < 5)
                .select((F.col("doc_id") + 1000000).alias("doc_id"),
                        "text"))
    novel = spark.createDataFrame(
        [(2000000, "completely unrelated zebra quantum fjord text")],
        "doc_id long, text string")
    idx = build_minhash_index(corpus)
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    out = incremental_dedup_pairs(reingest.unionByName(novel), idx,
                                  threshold=0.9)
    rows = out.collect()
    release_cached(out)
    assert jsc.getPersistentRDDs().size() == before
    by_doc = {r["doc_id"]: r for r in rows}
    for d in range(5):
        r = by_doc[d + 1000000]
        assert (r["match_id"], r["match_src"]) == (d, "corpus")
        assert r["jaccard"] == 1.0
    assert 2000000 not in by_doc


def test_incremental_index_survives_parquet_roundtrip(spark, docs, tmp_path):
    """The signature index is a SNAPSHOT artifact — written once per
    corpus version, probed by every later batch. Probing a
    parquet-round-tripped index must give the identical pair set as
    probing the freshly computed frame (schema + values survive the
    table hop; at scale this is the only mode that matters)."""
    from textract_demo_spark.datapipe.dedup import (
        build_minhash_index, incremental_dedup_pairs, release_cached)
    corpus = docs.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    batch = (corpus.filter(F.col("doc_id") % 5 == 1)
             .select((F.col("doc_id") + 1000000).alias("doc_id"),
                     F.concat("text", F.lit(" tail noise")).alias("text")))
    fresh = build_minhash_index(corpus, num_hashes=32)
    path = str(tmp_path / "minhash_index")
    fresh.write.parquet(path)
    stored = spark.read.parquet(path)

    def pair_set(idx):
        out = incremental_dedup_pairs(batch, idx, threshold=0.5,
                                      num_hashes=32, bands=16)
        rows = {(r["doc_id"], r["match_id"], r["match_src"], r["jaccard"])
                for r in out.collect()}
        release_cached(out)
        return rows
    a, b = pair_set(fresh), pair_set(stored)
    assert a == b and len(a) > 0


def test_incremental_semantic_dedup_matches_reference(spark):
    """incremental_semantic_dedup returns exactly the relation set a
    per-cluster brute force computes from the same frozen snapshot
    (assignments collected, cosines in numpy): corpus matches for
    same-cluster kept vectors, batch matches only against smaller
    ids."""
    import numpy as np
    from textract_demo_spark.datapipe.dedup import release_cached
    from textract_demo_spark.datapipe.similarity import (
        assign_to_centroids, incremental_semantic_dedup, ivf_centroids)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0)
    cents = ivf_centroids(corpus, n_centroids=8, iters=1).persist()
    snap = (assign_to_centroids(corpus, cents)
            .join(corpus.select("vec_id", "embedding"), "vec_id"))
    thr = 0.4
    out = incremental_semantic_dedup(batch, cents, snap, threshold=thr)
    got = {(r["vec_id"], r["match_id"], r["match_src"])
           for r in out.collect()}
    release_cached(out)

    def load(df):
        return {r["vec_id"]: (r["cid"], np.array(r["embedding"]))
                for r in (assign_to_centroids(df, cents)
                          .join(df.select("vec_id", "embedding"),
                                "vec_id").collect())}
    c, b = load(corpus), load(batch)
    cents.unpersist()

    def cos(u, v):
        return float(u @ v / (np.linalg.norm(u) * np.linalg.norm(v)))
    want = set()
    for bid, (bc, bv) in b.items():
        for cid_, (cc, cv) in c.items():
            if cc == bc and cid_ != bid and cos(cv, bv) >= thr:
                want.add((bid, cid_, "corpus"))
        for aid, (ac, av) in b.items():
            if ac == bc and aid < bid and cos(av, bv) >= thr:
                want.add((bid, aid, "batch"))
    assert got == want and len(want) > 0, (
        f"missing={want - got} extra={got - want}")


def test_incremental_semantic_dedup_drops_planted_clones(spark):
    """Batch vectors byte-identical to snapshot vectors (new ids)
    match their originals at cos ~1.0 with match_src='corpus'."""
    from textract_demo_spark.datapipe.dedup import release_cached
    from textract_demo_spark.datapipe.similarity import (
        assign_to_centroids, incremental_semantic_dedup, ivf_centroids)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") < 200)
    clones = (corpus.filter(F.col("vec_id") % 20 == 0)
              .select((F.col("vec_id") + 1000000).alias("vec_id"),
                      "embedding"))
    cents = ivf_centroids(corpus, n_centroids=8, iters=1).persist()
    snap = (assign_to_centroids(corpus, cents)
            .join(corpus.select("vec_id", "embedding"), "vec_id"))
    out = incremental_semantic_dedup(clones, cents, snap, threshold=0.99)
    rows = out.collect()
    release_cached(out)
    cents.unpersist()
    matched = {r["vec_id"]: r for r in rows
               if r["match_id"] == r["vec_id"] - 1000000}
    for v in range(0, 200, 20):
        r = matched[v + 1000000]
        assert r["match_src"] == "corpus" and r["cos"] >= 0.999999


def test_md5_sign_bits_literal_matches_dynamic(spark):
    """The plan-time literal hyperplane matrix must reproduce the
    dynamic md5 SQL expression bit-for-bit (it is the same
    derivation, evaluated once instead of per row)."""
    from textract_demo_spark.datapipe.similarity import _sign_bits
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(50)
    lit = emb.selectExpr(
        "vec_id", f"{_sign_bits('embedding', 16, 'md5', dim=64)} AS s")
    dyn = emb.selectExpr(
        "vec_id", f"{_sign_bits('embedding', 16, 'md5')} AS s")
    assert ({(r.vec_id, tuple(r.s)) for r in lit.collect()}
            == {(r.vec_id, tuple(r.s)) for r in dyn.collect()})


def test_neardup_clusters_transitive_closure(spark):
    """Label propagation must merge CHAINS (a-b, b-c => one cluster
    with min-id representative), leave singletons alone, and converge
    — checked against a hand-built edge list, not LSH."""
    from textract_demo_spark.datapipe.dedup import (neardup_clusters,
                                                    release_cached)
    ids = spark.createDataFrame([(i,) for i in range(10)],
                                "doc_id long")
    # chain 0-1-2-3, pair 5-6, singletons 4,7,8,9
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    out = neardup_clusters(ids, pairs)
    got = {r.doc_id: r.cluster_id for r in out.collect()}
    release_cached(out)
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4,
                   5: 5, 6: 5, 7: 7, 8: 8, 9: 9}


def test_neardup_clusters_raises_on_non_convergence(spark):
    """A component with diameter > max_iters must raise, not silently
    return labels that are not the component min (ADVICE r03: chained
    templated near-dups form exactly such graphs)."""
    import pytest

    from textract_demo_spark.datapipe.dedup import neardup_clusters
    n = 8  # chain 0-1-...-7: diameter 7 > max_iters=3
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        out = neardup_clusters(ids, pairs, max_iters=3)
        out.collect()


def test_split_assignment_total_disjoint_and_stable(spark, docs):
    """Every row gets exactly one split; proportions track the ratios;
    the assignment is a pure function of (salt, id) — identical across
    hash modes' own reruns and across repartitioning."""
    from textract_demo_spark.datapipe.splits import with_split_assignment
    out = with_split_assignment(docs.select("doc_id"))
    rows = {r.doc_id: (r.split_bucket, r.split) for r in out.collect()}
    assert len(rows) == docs.count()
    n = len(rows)
    frac_train = sum(1 for _, s in rows.values() if s == "train") / n
    assert 0.7 <= frac_train <= 0.9
    assert {s for _, s in rows.values()} <= {"train", "val", "test"}
    # stability under repartitioning (membership must not depend on
    # physical layout)
    again = {r.doc_id: (r.split_bucket, r.split)
             for r in with_split_assignment(
                 docs.select("doc_id").repartition(7)).collect()}
    assert again == rows
    # re-salting re-rolls: some doc moves
    resalt = {r.doc_id: r.split for r in with_split_assignment(
        docs.select("doc_id"), salt="v2").collect()}
    assert any(resalt[d] != rows[d][1] for d in rows)


def test_hash_sample_nested_and_sized(spark, docs):
    """Same-salt samples nest (1% subset of 10%); fraction is honored
    within tolerance."""
    from textract_demo_spark.datapipe.splits import with_hash_sample
    ids = docs.select("doc_id")
    s10 = {r.doc_id for r in with_hash_sample(ids, 0.10)
           .filter("sampled").collect()}
    s01 = {r.doc_id for r in with_hash_sample(ids, 0.01)
           .filter("sampled").collect()}
    n = ids.count()
    assert s01 <= s10
    assert 0.04 * n <= len(s10) <= 0.16 * n
    # independent salt gives a different (overlapping-by-chance) draw
    other = {r.doc_id for r in with_hash_sample(ids, 0.10, salt="zz")
             .filter("sampled").collect()}
    assert other != s10


def test_contamination_overlap_plants_and_clears(spark):
    """A corpus doc embedding an eval doc's text is flagged with the
    eval doc's full shingle count; disjoint-vocabulary docs report 0.
    xxhash64 and md5 modes agree on the verdicts."""
    from textract_demo_spark.datapipe.dedup import contamination_overlap
    eval_docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(100, "intro words then the quick brown fox jumps over the"
               " lazy dog and more"),
         (101, "completely unrelated vocabulary here nothing shared"),
         (102, "quick brown fox appears alone")],
        "doc_id long, text string")
    for mode in ("xxhash64", "md5"):
        got = {r.doc_id: (r.n_overlap, r.contaminated)
               for r in contamination_overlap(
                   corpus, eval_docs, n=3, min_overlap=2,
                   hash_mode=mode).collect()}
        # eval doc has 7 distinct 3-gram shingles, all inside doc 100
        assert got[100] == (7, True)
        assert got[101] == (0, False)
        # one shared shingle ("quick brown fox") stays under
        # min_overlap=2
        assert got[102] == (1, False)


def test_repetition_stats_flags_planted_boilerplate(spark):
    """A keyword-stuffed doc scores high on both repetition markers;
    an all-distinct doc scores top_token = 1/n and zero dup 2-grams."""
    from textract_demo_spark.datapipe.textstats import with_repetition_stats
    docs = spark.createDataFrame(
        [(0, "buy now buy now buy now buy now"),
         (1, "eight totally distinct words appear exactly once here")],
        "doc_id long, text string")
    got = {r.doc_id: (r.top_token_frac_bp, r.dup_2gram_frac_bp)
           for r in with_repetition_stats(docs).collect()}
    # doc 0: 8 tokens, 'buy' x4 -> 500000 bp; 7 2-grams, 2 distinct
    # ("buy now", "now buy") -> floor(1e6 * (1 - 2/7)) = 714285
    assert got[0] == (500000, 714285)
    # doc 1: 8 distinct tokens -> 125000 bp; 7 distinct 2-grams -> 0
    assert got[1] == (125000, 0)


def test_mix_resample_integer_thresholds_and_quota(spark):
    """Skewed corpus (20 'a' docs, 5 'b' docs), equal target weights:
    'b' is most under-represented so it keeps everything; 'a' gets the
    exact integer threshold 2500 and keeps precisely the ids whose
    (salt, id) md5 bucket clears it. Unknown domains come back
    kept=false."""
    import hashlib
    from textract_demo_spark.datapipe.splits import with_mix_resample
    rows = ([(i, "a") for i in range(20)]
            + [(100 + i, "b") for i in range(5)]
            + [(200, "zz")])
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    got = {r.doc_id: (r.keep_thr, r.kept)
           for r in with_mix_resample(docs, {"a": 1, "b": 1},
                                      hash_mode="md5").collect()}
    assert all(got[100 + i] == (10000, True) for i in range(5))
    assert got[200] == (0, False)

    def bucket(i):
        return int(hashlib.md5(f"mx-{i}".encode()).hexdigest()[:15],
                   16) % 10000
    for i in range(20):
        assert got[i] == (2500, bucket(i) < 2500), i


def test_pii_detect_and_redact_planted(spark):
    """Each typed detector fires exactly on its planted string; the
    redactor swaps matches for digit-free placeholders and leaves
    clean text untouched."""
    from textract_demo_spark.datapipe.pii import redact_pii, with_pii_stats
    docs = spark.createDataFrame(
        [(0, "mail bob.smith+x@corp.example.org now"),
         (1, "call +1 555-123-4567 or wire 4111-1111-1111-1111"),
         (2, "host 192.168.0.1 ssn 078-05-1120"),
         (3, "nothing sensitive here")],
        "doc_id long, text string")
    out = {r.doc_id: r
           for r in redact_pii(with_pii_stats(docs)).collect()}
    assert (out[0].n_email, out[0].n_pii) == (1, 1)
    assert out[0].text_redacted == "mail <EMAIL> now"
    assert (out[1].n_phone, out[1].n_card) == (1, 1)
    assert out[1].text_redacted == "call <PHONE> or wire <CARD>"
    assert (out[2].n_ipv4, out[2].n_ssn) == (1, 1)
    assert out[2].text_redacted == "host <IP> ssn <SSN>"
    assert out[3].n_pii == 0 and not out[3].has_pii
    assert out[3].text_redacted == "nothing sensitive here"


def test_pack_greedy_boundaries_and_oversize(spark):
    """Single shard, budget 200, token lengths chosen so the greedy
    scan exercises: full pack, boundary overflow, oversize doc in its
    own pack, and refill after the oversize."""
    from textract_demo_spark.datapipe.packing import pack_greedy, pack_stats
    rows = list(enumerate([60, 60, 60, 90, 250, 10, 100, 100]))
    docs = spark.createDataFrame(rows, "doc_id long, n_tok long")
    out = pack_greedy(docs, budget=200, n_shards=1, hash_mode="md5")
    got = {r.doc_id: (r.pack_idx, r.pack_pos) for r in out.collect()}
    assert got == {0: (0, 0), 1: (0, 1), 2: (0, 2), 3: (1, 0),
                   4: (2, 0), 5: (3, 0), 6: (3, 1), 7: (4, 0)}
    stats = {r.pack_idx: (r.n_docs, r.pack_tokens, r.fill_bp)
             for r in pack_stats(out, budget=200).collect()}
    assert stats[0] == (3, 180, 9000)
    assert stats[2] == (1, 250, 10000)   # oversize pack caps at 100%
    # deterministic under repartitioning
    again = {r.doc_id: (r.pack_idx, r.pack_pos)
             for r in pack_greedy(docs.repartition(5), budget=200,
                                  n_shards=1, hash_mode="md5").collect()}
    assert again == got


def test_pack_greedy_sharded_total_and_consistent(spark, docs):
    """Every doc lands in exactly one (shard, pack, pos) slot; within
    each pack the positions are 0..n-1; no pack except oversize
    singletons exceeds the budget."""
    from textract_demo_spark.datapipe.packing import pack_greedy
    from textract_demo_spark.datapipe.textstats import with_token_stats
    budget = 120
    out = pack_greedy(with_token_stats(docs), budget=budget,
                      n_shards=4, tok_col="n_tokens").collect()
    assert len(out) == docs.count()
    assert len({r.doc_id for r in out}) == len(out)
    by_pack = {}
    for r in out:
        by_pack.setdefault((r.shard, r.pack_idx), []).append(r)
    for rows in by_pack.values():
        assert sorted(r.pack_pos for r in rows) == list(range(len(rows)))
        tot = sum(r.n_tok for r in rows)
        assert tot <= budget or len(rows) == 1


def test_token_topk_heavy_hitters(spark):
    """Per-group top-k with deterministic count-desc/token-asc ties;
    counts aggregate occurrences, not docs."""
    from textract_demo_spark.datapipe.textstats import token_topk
    docs = spark.createDataFrame(
        [(0, "a", "x x x y z"), (1, "a", "x y y w"), (2, "b", "q q r")],
        "doc_id long, source string, text string")
    got = {(r.source, r.rank): (r.token, r.n)
           for r in token_topk(docs, k=2).collect()}
    assert got == {("a", 1): ("x", 4), ("a", 2): ("y", 3),
                   ("b", 1): ("q", 2), ("b", 2): ("r", 1)}
    # global mode: one ranking across all groups
    g = {r.rank: r.token
         for r in token_topk(docs, k=2, group_col=None).collect()}
    assert g == {1: "x", 2: "y"}


def test_hashed_shingles_kernel_matches_sql(spark, docs):
    """The Arrow md5-shingle kernel and the SQL HOF form produce the
    identical (doc, hash) set."""
    from textract_demo_spark.datapipe.dedup import hashed_shingles
    a = {(r.doc_id, r.h) for r in hashed_shingles(
        docs, hash_mode="md5", use_arrow=True).collect()}
    b = {(r.doc_id, r.h) for r in hashed_shingles(
        docs, hash_mode="md5", use_arrow=False).collect()}
    assert a == b and len(a) > 0


def test_repetition_kernel_matches_sql(spark, docs):
    """Arrow repetition kernel is bit-identical to the SQL reference
    form (floor of the same IEEE division) on the corpus."""
    from textract_demo_spark.datapipe.textstats import with_repetition_stats
    cols = ("top_token_frac_bp", "dup_2gram_frac_bp")
    a = {r.doc_id: tuple(r[c] for c in cols)
         for r in with_repetition_stats(docs, use_arrow=True).collect()}
    b = {r.doc_id: tuple(r[c] for c in cols)
         for r in with_repetition_stats(docs, use_arrow=False).collect()}
    assert a == b


def test_semantic_dedup_drops_planted_near_vectors(spark):
    """Planted exact-duplicate embeddings must be dropped (kept=false
    for the higher id), singletons kept; exactly one representative
    (the min id) survives per planted duplicate group."""
    from textract_demo_spark.datapipe.similarity import semantic_dedup
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = (emb.filter(F.col("vec_id") < 100)
            .select("vec_id", "embedding"))
    clones = (base.filter(F.col("vec_id") % 10 == 0)
              .select((F.col("vec_id") + 1000000).alias("vec_id"),
                      "embedding"))
    out = semantic_dedup(base.unionByName(clones), threshold=0.99,
                         n_centroids=4, iters=1).collect()
    kept = {r.vec_id for r in out if r.kept}
    dropped = {r.vec_id for r in out if not r.kept}
    assert len(out) == base.count() + clones.count()
    # every clone has an identical lower-id twin IN THE SAME cluster
    # (identical vectors share a nearest centroid), so all are dropped
    assert {d + 1000000 for d in range(0, 100, 10)} <= dropped
    # the min-id representative of each pair survives
    assert {d for d in range(0, 100, 10)} <= kept
    # cluster assignment is total
    cids = {r.vec_id: r.cid for r in out}
    assert all(0 <= c < 4 for c in cids.values())


def test_semantic_dedup_pairs_stay_within_clusters(spark):
    """Determinism + cluster locality: two runs agree exactly, and a
    run with 1 centroid (every pair scored) drops a superset of the
    multi-cluster run (cross-cluster near-dups are the documented
    recall loss, never extra drops)."""
    from textract_demo_spark.datapipe.similarity import semantic_dedup
    emb = (spark.read.parquet(f"{SF}/embeddings.parquet")
           .filter(F.col("vec_id") < 150))
    a = {(r.vec_id, r.cid, r.kept)
         for r in semantic_dedup(emb, threshold=0.47,
                                 n_centroids=4).collect()}
    b = {(r.vec_id, r.cid, r.kept)
         for r in semantic_dedup(emb, threshold=0.47,
                                 n_centroids=4).collect()}
    assert a == b
    drop_multi = {v for v, _, k in a if not k}
    drop_one = {r.vec_id
                for r in semantic_dedup(emb, threshold=0.47,
                                        n_centroids=1).collect()
                if not r.kept}
    assert drop_multi <= drop_one


def test_unigram_surprisal_exact_small_corpus(spark):
    """Hand-computed surprisal on a 3-doc corpus: total=9 tokens
    (bits(9)=3); 'the' count 4 (bits 2), 'cat' count 3 (bits 1),
    'rare'/'word' count 1 => OOV (bits 0, max surprisal)."""
    from textract_demo_spark.datapipe.textstats import (
        with_unigram_surprisal)
    docs = spark.createDataFrame(
        [(0, "the cat the cat"), (1, "the cat the"), (2, "rare word")],
        "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.oov_bp, r.surprisal_milli_bits)
           for r in with_unigram_surprisal(docs).collect()}
    # doc0: tokens the,cat,the,cat -> sb = (3-2)+(3-1)+(3-2)+(3-1)=6
    #       mean*1000 = 6000/4 = 1500
    assert got[0] == (4, 0, 1500)
    # doc1: the,cat,the -> sb = 1+2+1 = 4 -> 4000 div 3 = 1333
    assert got[1] == (3, 0, 1333)
    # doc2: rare,word both OOV -> sb = 3+3 -> 3000; oov_bp = 1000000
    assert got[2] == (2, 1000000, 3000)


def test_unigram_surprisal_frozen_vocab_reuse(spark):
    """Scoring a second corpus against a frozen vocab table: OOV rule
    applies to tokens absent from the FROZEN vocab, not the scored
    corpus — the incremental-scoring contract."""
    from textract_demo_spark.datapipe.textstats import (
        token_bits_vocab, with_unigram_surprisal)
    train = spark.createDataFrame(
        [(0, "the cat the cat"), (1, "the cat the")],
        "doc_id long, text string")
    vocab = token_bits_vocab(train, min_count=2)
    new = spark.createDataFrame([(9, "the dog")],
                                "doc_id long, text string")
    row = with_unigram_surprisal(new, vocab=vocab).collect()[0]
    # 'dog' is OOV vs the frozen vocab even though it is the scored
    # corpus's own token; total comes from the SCORED corpus (2
    # tokens => total_bits=1): sb('the')=1-2=-1? no — bits('the')=2
    # exceeds total_bits of the tiny scored corpus; the operator is
    # meant for vocab from the same or larger corpus, so just assert
    # the OOV accounting here.
    assert row.n_tokens == 2 and row.oov_bp == 500000


def test_duplicated_spans_merges_and_offsets(spark):
    """Exact-substring spans: cross-doc run detected in both docs with
    correct token/char offsets; a within-doc verbatim repeat merges
    into one maximal span (contiguous coverage); short and unique docs
    emit nothing."""
    from textract_demo_spark.datapipe.dedup import duplicated_spans
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j k1 l1 m1 n1"),
         (2, "x1 y1 a b c d e f g h i j z1 w1"),
         (3, "p q r s t u v w p q r s t u v w"),
         (4, "short doc"),
         (5, "all unique tokens here nothing repeats at all ever once")],
        "doc_id INT, text STRING")
    got = {r.doc_id: r for r in
           duplicated_spans(docs, window=8).collect()}
    assert set(got) == {1, 2, 3}
    assert (got[1].tok_start, got[1].tok_end,
            got[1].char_start, got[1].char_end) == (0, 9, 0, 19)
    assert got[1].span_text == "a b c d e f g h i j"
    assert (got[2].tok_start, got[2].char_start) == (2, 6)
    assert got[2].span_text == "a b c d e f g h i j"
    # windows at pos 0 and 8 are identical; gap == window merges
    assert (got[3].tok_start, got[3].tok_end, got[3].n_windows) \
        == (0, 15, 2)


def test_duplicated_spans_hash_modes_agree(spark, docs):
    """xxhash64 (fast default) and md5 (oracle mode) must produce the
    identical span set — the hash family only names windows."""
    from textract_demo_spark.datapipe.dedup import duplicated_spans
    fast = sorted(map(tuple, duplicated_spans(
        docs, window=12, hash_mode="xxhash64").collect()))
    slow = sorted(map(tuple, duplicated_spans(
        docs, window=12, hash_mode="md5").collect()))
    assert fast == slow and len(fast) > 0


def test_duplicated_spans_disjoint_and_substring_valid(spark, docs):
    """Per-doc spans are disjoint (island merge is maximal) and every
    char range substrings the normalized text to exactly span_text."""
    from textract_demo_spark.datapipe.dedup import (duplicated_spans,
                                                    normalize_text)
    sp = duplicated_spans(docs, window=12)
    rows = sp.collect()
    assert rows, "sf0.001 corpus should contain duplicated 12-grams"
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_rows in by_doc.values():
        doc_rows.sort(key=lambda r: r.tok_start)
        for a, b in zip(doc_rows, doc_rows[1:]):
            assert a.tok_end < b.tok_start  # disjoint
    checked = (sp.join(docs.select("doc_id",
                                   normalize_text("text").alias("nt")),
                       "doc_id")
               .withColumn("cut", F.expr(
                   "substring(nt, cast(char_start AS INT) + 1,"
                   " cast(char_end - char_start AS INT))"))
               .filter(F.col("cut") != F.col("span_text")).count())
    assert checked == 0


def test_duplicated_spans_max_count_drops_boilerplate(spark):
    """max_count removes degenerate ultra-frequent windows (the
    stop-shingle mitigation) while keeping rare duplicates."""
    from textract_demo_spark.datapipe.dedup import duplicated_spans
    boiler = "subscribe to our newsletter now"
    rows = [(i, f"u{i} v{i} {boiler} w{i} z{i}") for i in range(10)]
    rows += [(100, "rare pair one two three four five six seven"),
             (101, "rare pair one two three four five six eight")]
    docs = spark.createDataFrame(rows, "doc_id INT, text STRING")
    all_spans = duplicated_spans(docs, window=5, include_text=False)
    capped = duplicated_spans(docs, window=5, max_count=5,
                              include_text=False)
    assert all_spans.filter("doc_id < 100").count() == 10
    got = capped.collect()
    assert all(r.doc_id >= 100 for r in got) and len(got) == 2


def test_duplication_stats_covers_all_docs(spark, docs):
    """Every doc appears exactly once; fractions are exact integer
    milli and bounded; span-free and sub-window docs report zero."""
    from textract_demo_spark.datapipe.dedup import duplication_stats
    st = duplication_stats(docs, window=12)
    n_docs = docs.count()
    rows = st.collect()
    assert len(rows) == n_docs
    for r in rows:
        assert 0 <= r.dup_tokens <= r.n_tokens
        assert r.dup_frac_milli == (1000 * r.dup_tokens) // r.n_tokens
    assert any(r.dup_tokens > 0 for r in rows)
    assert any(r.dup_tokens == 0 for r in rows)


def test_shuffle_shards_permutation_and_determinism(spark, docs):
    """Shard layout is a permutation (every doc exactly once,
    contiguous 0..n_i-1 positions per shard), deterministic across
    runs AND input partitionings, and uncorrelated with doc_id order
    (the layout is a real shuffle, not identity)."""
    from textract_demo_spark.datapipe.splits import shuffle_shards
    a = shuffle_shards(docs, n_shards=8, salt="t1").collect()
    b = shuffle_shards(docs.repartition(7), n_shards=8,
                       salt="t1").collect()
    key = lambda rows: sorted((r.doc_id, r.shard, r.shard_pos)
                              for r in rows)
    assert key(a) == key(b)
    assert len({r.doc_id for r in a}) == len(a) == docs.count()
    by_shard: dict = {}
    for r in a:
        by_shard.setdefault(r.shard, []).append(r.shard_pos)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))
    # not identity order: within some shard, ascending pos must not
    # mean ascending doc_id
    shuffled = any(
        [r.doc_id for r in sorted(rows, key=lambda r: r.shard_pos)]
        != sorted(r.doc_id for r in rows)
        for rows in [[x for x in a if x.shard == s] for s in by_shard]
        if len(rows) > 3)
    assert shuffled


def test_shuffle_shards_token_offsets_are_prefix_sums(spark, docs):
    """tok_offset is the exclusive in-shard prefix sum of tok_col in
    (shard_pos) order — the head-to-tail layout offsets."""
    from pyspark.sql import functions as F
    from textract_demo_spark.datapipe.splits import shuffle_shards
    d = docs.withColumn("n_tokens",
                        F.size(F.split("text", " ")).cast("long"))
    rows = shuffle_shards(d, n_shards=4, salt="t2",
                          tok_col="n_tokens").collect()
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    for sr in by_shard.values():
        sr.sort(key=lambda r: r.shard_pos)
        acc = 0
        for r in sr:
            assert r.tok_offset == acc
            acc += r.n_tokens


def test_remove_duplicated_spans_keep_first(spark):
    """Keep-first rewrite: the globally-first occurrence (min (id,
    pos)) of a duplicated run survives untouched; every later
    occurrence — cross-doc or within-doc — is excised; pass-through
    docs keep their normalized text."""
    from textract_demo_spark.datapipe.dedup import remove_duplicated_spans
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j k1 l1 m1 n1"),
         (2, "x1 y1 a b c d e f g h i j z1 w1"),
         (3, "p q r s t u v w p q r s t u v w"),
         (4, "short doc")],
        "doc_id INT, text STRING")
    got = {r.doc_id: r for r in
           remove_duplicated_spans(docs, window=8).collect()}
    assert set(got) == {1, 2, 3, 4}
    # doc 1 holds the first occurrence -> unchanged
    assert got[1].clean_text == "a b c d e f g h i j k1 l1 m1 n1"
    assert got[1].n_removed_tokens == 0 and got[1].n_spans_removed == 0
    # doc 2's copy of the run (tokens 2..11) is excised
    assert got[2].clean_text == "x1 y1 z1 w1"
    assert (got[2].n_removed_tokens, got[2].n_spans_removed) == (10, 1)
    assert got[2].n_tokens == 14
    # within-doc verbatim repeat: second half removed
    assert got[3].clean_text == "p q r s t u v w"
    assert (got[3].n_removed_tokens, got[3].n_spans_removed) == (8, 1)
    # sub-window doc passes through
    assert got[4].clean_text == "short doc"
    assert got[4].n_removed_tokens == 0


def test_remove_duplicated_spans_conservation_and_modes(spark, docs):
    """On the sf0.001 corpus: one output row per doc, clean token
    count == n_tokens - n_removed_tokens, something is actually
    removed, and xxhash64 (fast) vs md5 (oracle) modes agree."""
    from textract_demo_spark.datapipe.dedup import remove_duplicated_spans
    out = remove_duplicated_spans(docs, window=12)
    rows = out.collect()
    assert len(rows) == docs.count()
    for r in rows:
        kept = len(r.clean_text.split(" ")) if r.clean_text else 0
        assert kept == r.n_tokens - r.n_removed_tokens
    assert any(r.n_removed_tokens > 0 for r in rows)
    assert any(r.n_removed_tokens == 0 for r in rows)
    slow = sorted(map(tuple, remove_duplicated_spans(
        docs, window=12, hash_mode="md5").collect()))
    assert sorted(map(tuple, rows)) == slow


def test_gopher_rules_flags(spark):
    """Each named Gopher rule trips on its own violation and the keep
    conjunction requires all of them."""
    from textract_demo_spark.datapipe.textstats import with_gopher_rules
    good = ("the quick brown fox jumps with energy and grace over "
            * 6 + "that lazy dog").strip()  # 62 words, stopwords present
    docs = spark.createDataFrame(
        [(1, good),
         (2, "the short doc with that"),                # word count
         (3, " ".join(["hypertrophication"] * 60)),     # mean word len
         (4, good + " " + "#" * 1 + " ##### ### ## #"), # symbols
         (5, " ".join(["123"] * 60)),                   # alpha + stopwords
         ],
        "doc_id INT, text STRING")
    got = {r.doc_id: r for r in with_gopher_rules(docs).collect()}
    assert got[1].gopher_keep
    assert all([got[1].word_count_ok, got[1].mean_wl_ok,
                got[1].symbol_ok, got[1].alpha_ok, got[1].stopword_ok])
    assert not got[2].word_count_ok and not got[2].gopher_keep
    assert not got[3].mean_wl_ok and not got[3].stopword_ok
    assert not got[4].symbol_ok
    assert got[4].word_count_ok  # the symbol run only trips its rule
    assert not got[5].alpha_ok and not got[5].stopword_ok
    assert got[5].n_alpha_words == 0 and got[5].n_stopword_hits == 0


def test_gopher_rules_stats_are_exact(spark, docs):
    """Raw statistics are exact integers: mean_wl_milli is the integer
    milli of sum(len)/n and symbol counting is non-overlapping greedy
    ('......' = two ellipses)."""
    from textract_demo_spark.datapipe.textstats import with_gopher_rules
    row = with_gopher_rules(spark.createDataFrame(
        [(1, "ab cde f ...... #")], "doc_id INT, text STRING")
    ).collect()[0]
    # tokens: ab cde f ...... '#' -> 5 words, sum len 2+3+1+6+1 = 13
    assert row.n_words == 5 and row.mean_wl_milli == (1000 * 13) // 5
    assert row.n_symbols == 3  # one '#' + two '...' in '......'
    out = with_gopher_rules(docs)
    assert out.count() == docs.count()
    assert out.filter("n_words <= 0").count() == 0


def test_length_percentiles_exact_ranks(spark):
    """Discrete integer percentiles: rank (q*n+99) div 100 over the
    sorted group — hand-computed on tiny groups incl. n=1."""
    from textract_demo_spark.datapipe.textstats import length_percentiles
    rows = [("a", " ".join(["w"] * k)) for k in range(1, 11)]
    rows.append(("b", "one two three four five six seven"))
    docs = spark.createDataFrame(rows, "source STRING, text STRING")
    got = {(r.source, r.q): (r.p_tokens, r.n_docs) for r in
           length_percentiles(docs, qs=(50, 90, 99)).collect()}
    assert got[("a", 50)] == (5, 10)   # rank ceil(0.5*10)=5 -> value 5
    assert got[("a", 90)] == (9, 10)
    assert got[("a", 99)] == (10, 10)  # rank ceil(9.9)=10
    assert got[("b", 50)] == (7, 1) and got[("b", 99)] == (7, 1)
    assert len(got) == 6


def test_temperature_mix_targets_and_apply(spark):
    """T=2 mixing: weights are floor(sqrt(n)); a 100:4 corpus gets
    10:2 weights, so the small domain's share of the target mix rises
    from ~3.8% to ~16%; apply_temperature_mix keeps everything in the
    most under-represented domain and down-samples the big one."""
    from pyspark.sql import functions as F
    from textract_demo_spark.datapipe.splits import (
        apply_temperature_mix, temperature_mix_targets)
    rows = [(i, f"doc {i} text", "big") for i in range(100)]
    rows += [(1000 + i, f"doc {1000+i} text", "small") for i in range(4)]
    docs = spark.createDataFrame(rows,
                                 "doc_id LONG, text STRING, source STRING")
    t = {r.source: r for r in temperature_mix_targets(docs).collect()}
    assert (t["big"].weight, t["small"].weight) == (10, 2)
    assert t["big"].target == (104 * 10) // 12
    assert t["small"].target == (104 * 2) // 12
    out = apply_temperature_mix(docs).collect()
    kept = {s: sum(1 for r in out if r.source == s and r.kept)
            for s in ("big", "small")}
    assert kept["small"] == 4          # most under-represented: all kept
    assert kept["big"] < 100           # big domain down-samples
    # determinism
    out2 = apply_temperature_mix(docs).collect()
    assert sorted((r.doc_id, r.kept) for r in out) == \
        sorted((r.doc_id, r.kept) for r in out2)


def test_top_ngram_char_frac_closed_form(spark):
    from textract_demo_spark.datapipe.textstats import \
        with_top_ngram_char_frac
    # "a b a b a b": norm len 11; 2-grams 'a b' x3 (len 3), 'b a' x2
    # -> (1e6 * 3*3) div 11; 3-grams tie 2-2 -> lex-first 'a b a'
    # (len 5) -> (1e6 * 2*5) div 11
    df = spark.createDataFrame([(1, "a b a b a b"), (2, "hello")],
                               "doc_id long, text string")
    r2 = {r["doc_id"]: r["top_2gram_char_frac_bp"]
          for r in with_top_ngram_char_frac(df, 2).collect()}
    assert r2 == {1: (1000000 * 9) // 11, 2: 0}
    r3 = {r["doc_id"]: r["top_3gram_char_frac_bp"]
          for r in with_top_ngram_char_frac(df, 3).collect()}
    assert r3 == {1: (1000000 * 10) // 11, 2: 0}
    # overlap pathological case: count x len may exceed the text
    # (documented Gopher/DataTrove semantics, thresholds are <= 0.2)
    xx = spark.createDataFrame([(1, "x x x x")], "doc_id long, text string")
    got = with_top_ngram_char_frac(xx, 2).first()["top_2gram_char_frac_bp"]
    assert got == (1000000 * 3 * 3) // 7


def test_dup_ngram_char_frac_coverage(spark):
    from textract_demo_spark.datapipe.textstats import \
        with_dup_ngram_char_frac
    # "a b a b a b": dup 2-gram values {'a b','b a'} cover ALL token
    # positions -> 6 single-char tokens / norm len 11
    # "p q r s": no duplicated 2-gram -> 0
    df = spark.createDataFrame([(1, "a b a b a b"), (2, "p q r s")],
                               "doc_id long, text string")
    got = {r["doc_id"]: r["dup_2gram_char_frac_bp"]
           for r in with_dup_ngram_char_frac(df, 2).collect()}
    assert got == {1: (1000000 * 6) // 11, 2: 0}
    # partial coverage, counted once despite 3 occurrences:
    # 'u v u v u v w z': dup 2-grams 'u v' (x3) and 'v u' (x2) cover
    # tokens 0..5 but not 'w','z' -> 6 chars / len 15
    df2 = spark.createDataFrame([(1, "u v u v u v w z")],
                                "doc_id long, text string")
    got2 = with_dup_ngram_char_frac(df2, 2).first()["dup_2gram_char_frac_bp"]
    assert got2 == (1000000 * 6) // 15
    # doc shorter than n -> 0, never an error
    df3 = spark.createDataFrame([(1, "one")], "doc_id long, text string")
    assert with_dup_ngram_char_frac(df3, 5).first()[
        "dup_5gram_char_frac_bp"] == 0


# ---- bottom-k group sampling ----------------------------------------


def _bk_docs(spark, n, sources=("a", "b")):
    return spark.createDataFrame(
        [(i, sources[i % len(sources)]) for i in range(n)],
        "doc_id long, source string")


def test_bottomk_exact_size_and_determinism(spark):
    from textract_demo_spark.datapipe.splits import group_sample_bottomk
    docs = _bk_docs(spark, 200)
    out = group_sample_bottomk(docs, k=5).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append((r.sample_rank, r.doc_id))
    assert {s: len(v) for s, v in by_src.items()} == {"a": 5, "b": 5}
    # re-run (different partitioning) -> identical members and ranks
    out2 = group_sample_bottomk(docs.repartition(7), k=5).collect()
    assert sorted((r.source, r.sample_rank, r.doc_id) for r in out) == \
        sorted((r.source, r.sample_rank, r.doc_id) for r in out2)


def test_bottomk_growth_evicts_at_most_one(spark):
    from textract_demo_spark.datapipe.splits import group_sample_bottomk
    small = _bk_docs(spark, 100, sources=("a",))
    grown = _bk_docs(spark, 101, sources=("a",))
    k = 10
    s0 = {r.doc_id for r in group_sample_bottomk(small, k).collect()}
    s1 = {r.doc_id for r in group_sample_bottomk(grown, k).collect()}
    assert len(s0) == len(s1) == k
    assert len(s0 - s1) <= 1  # one insert evicts at most one member


def test_bottomk_merge_of_disjoint_corpora(spark):
    from textract_demo_spark.datapipe.splits import group_sample_bottomk
    a = _bk_docs(spark, 80, sources=("a",))
    b = spark.createDataFrame([(i, "a") for i in range(80, 160)],
                              "doc_id long, source string")
    k = 6
    union_sample = {r.doc_id for r in
                    group_sample_bottomk(a.unionByName(b), k).collect()}
    merged = {r.doc_id for r in group_sample_bottomk(
        group_sample_bottomk(a, k).drop("sample_rank").unionByName(
            group_sample_bottomk(b, k).drop("sample_rank")),
        k).collect()}
    assert union_sample == merged  # bottom-k sketches merge



# ---- product quantization ANN ---------------------------------------


def test_pq_matches_numpy_and_recall(spark):
    """pq encode/ADC replicate a pure-numpy reference exactly
    (integer grid => bit-equality), and the refine arm holds
    recall@10 >= 0.5 against exact L2 on the sf0.001 embeddings."""
    import numpy as np
    from pyspark.sql import functions as F

    from textract_demo_spark.datapipe.similarity import (
        PQ_GRID, pq_codebooks, pq_encode, pq_topk)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.floor(np.array([r.embedding for r in rows],
                          dtype=np.float64) * PQ_GRID).astype(np.int64)
    cb = pq_codebooks(emb, m=8, ksub=16, iters=2, hash_mode="md5")
    # encode equality vs numpy argmin
    enc = {r.vec_id: list(r.codes) for r in pq_encode(emb, cb).collect()}
    CB = [np.array(cb[s]) for s in range(8)]
    for r, i in list(enumerate(ids))[:50]:
        want = [int(np.argmin([(((X[r][s*8:(s+1)*8] - CB[s][j])**2).sum())
                               for j in range(16)])) for s in range(8)]
        assert enc[i] == want, (i, enc[i], want)
    # refined recall
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    got = {}
    for r in pq_topk(emb, q, k=10, cb=cb, refine=100).collect():
        got.setdefault(r.qid, []).append(r.vec_id)
    recs = []
    for qid in range(5):
        qv = X[ids == qid][0]
        d = ((X - qv) ** 2).sum(1)
        exact10 = {i for _, i in sorted(
            (dd, i) for dd, i in zip(d, ids) if i != qid)[:10]}
        recs.append(len(set(got[qid]) & exact10) / 10)
    assert sum(recs) / len(recs) >= 0.5, recs


def test_pq_refine_dist_is_exact_grid_l2(spark):
    """Refined output distances equal the exact integer grid L2 of
    the returned pairs (the refine arm really re-ranks on true
    vectors, not ADC approximations)."""
    import numpy as np
    from pyspark.sql import functions as F

    from textract_demo_spark.datapipe.similarity import (PQ_GRID,
                                                         pq_topk)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = emb.collect()
    X = {r.vec_id: np.floor(np.array(r.embedding, dtype=np.float64)
                            * PQ_GRID).astype(np.int64) for r in rows}
    q = (emb.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    for r in pq_topk(emb, q, k=5, iters=0, refine=30).collect():
        want = int(((X[r.qid] - X[r.vec_id]) ** 2).sum())
        assert r.dist == want, (r, want)


def test_ivfpq_probe_all_equals_pq(spark):
    """Probing EVERY coarse bucket must reproduce the pure PQ+refine
    ranking exactly (the bucketing only restricts candidates; with no
    restriction the two operators are the same computation)."""
    from pyspark.sql import functions as F

    from textract_demo_spark.datapipe.similarity import (ivfpq_topk,
                                                         pq_codebooks,
                                                         pq_topk)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = (emb.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    cb = pq_codebooks(emb, m=8, ksub=16, iters=0, hash_mode="md5")
    a = sorted(map(tuple, ivfpq_topk(
        emb, q, k=8, n_centroids=4, n_probe=4, iters=0,
        hash_mode="md5", refine=40, cb=cb).collect()))
    b = sorted(map(tuple, pq_topk(
        emb, q, k=8, cb=cb, refine=40).collect()))
    assert a == b


def test_ivfpq_recall_floor_and_exact_refine(spark):
    """Refined IVF-PQ holds a recall floor on the noisy synthetic
    embeddings (candidates bounded by bucket recall at n_probe/n_
    centroids scan fraction) and returns exact grid-L2 distances."""
    import numpy as np
    from pyspark.sql import functions as F

    from textract_demo_spark.datapipe.similarity import (PQ_GRID,
                                                         ivfpq_topk)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.floor(np.array([r.embedding for r in rows],
                          dtype=np.float64) * PQ_GRID).astype(np.int64)
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    out = ivfpq_topk(emb, q, k=10, n_centroids=8, n_probe=3,
                     iters=0, hash_mode="md5", refine=50)
    got = {}
    for r in out.collect():
        want = int(((X[ids == r.qid][0] - X[ids == r.vec_id][0]) ** 2)
                   .sum())
        assert r.dist == want
        got.setdefault(r.qid, set()).add(r.vec_id)
    recs = []
    for qid in range(5):
        qv = X[ids == qid][0]
        d = ((X - qv) ** 2).sum(1)
        exact10 = {i for _, i in sorted(
            (dd, i) for dd, i in zip(d, ids) if i != qid)[:10]}
        recs.append(len(got[qid] & exact10) / 10)
    assert sum(recs) / len(recs) >= 0.25, recs


# ---- declarative data-quality validation ----------------------------


def test_dq_each_kind_counts_violations(spark):
    from textract_demo_spark.datapipe.dq import validate_constraints
    df = spark.createDataFrame(
        [(1, "a", 5, "en"), (2, None, 50, "en"), (2, "c", -1, "EN"),
         (4, "d", 7, None)],
        "id long, s string, n long, lang string")
    out = {r.constraint: (r.violations, r.passed)
           for r in validate_constraints(df, [
               {"kind": "not_null", "col": "s"},
               {"kind": "unique", "col": "id"},
               {"kind": "range", "col": "n", "lo": 0, "hi": 10},
               {"kind": "in_set", "col": "lang", "values": ["en"]},
               {"kind": "matches", "col": "lang",
                "pattern": "^[a-z]+$"},
               {"kind": "row_count", "lo": 10},
           ]).collect()}
    assert out["not_null(s)"] == (1, False)
    assert out["unique(id)"] == (1, False)       # id=2 twice
    assert out["range(n)[0..10]"] == (2, False)  # 50 and -1
    assert out["in_set(lang)"] == (2, False)     # 'EN' + NULL
    assert out["matches(lang)"] == (2, False)    # 'EN' + NULL
    assert out["row_count[10..]"] == (6, False)  # 4 rows, need 10
    clean = validate_constraints(df, [{"kind": "row_count", "lo": 1}])
    assert clean.collect()[0].passed


def test_dq_single_pass_plan(spark):
    """All constraints share one scan: the plan holds exactly one
    parquet scan node and no join — N constraints must never become
    N passes."""
    from textract_demo_spark.datapipe.dq import validate_constraints
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    p = (validate_constraints(docs, [
        {"kind": "not_null", "col": "text"},
        {"kind": "range", "col": "n_chars", "lo": 0, "hi": 10**6},
        {"kind": "row_count", "lo": 1},
    ])._jdf.queryExecution().executedPlan().toString())
    assert p.count("Scan parquet") == 1, p[:3000]
    assert "Join" not in p


def test_with_global_ids_dense_and_order(spark):
    from textract_demo_spark.datapipe.splits import with_global_ids
    import pyspark.sql.functions as F
    docs = (spark.range(0, 500)
            .select((F.col("id") * 7919 % 100003).alias("k")))
    out = with_global_ids(docs, order_col="k", buckets=7)
    rows = sorted((r["k"], r["global_id"]) for r in out.collect())
    assert [g for _, g in rows] == list(range(500))  # dense, in order
    # single bucket degenerates gracefully
    one = with_global_ids(docs, order_col="k", buckets=1)
    rows1 = sorted((r["k"], r["global_id"]) for r in one.collect())
    assert rows1 == rows


def test_salted_join_salt_invariance(spark):
    """The salted join's RESULT must be identical for any salt —
    salting may only change the plan. Probed over a skewed fact
    (one hot key holds half the rows) at salts 1/3/8."""
    import pyspark.sql.functions as F
    from textract_demo_spark.datapipe.skew import salted_skew_join
    fact = (spark.range(0, 2000)
            .select(F.col("id").alias("uid"),
                    F.when(F.col("id") % 2 == 0, 7)
                     .otherwise(F.col("id") % 97).alias("k")))
    dim = (fact.groupBy("k")
           .agg(F.count("*").cast("long").alias("n")))
    expect = sorted((r.uid, r.k, r.n) for r in
                    fact.join(dim, "k").collect())
    for salt in (1, 3, 8):
        got = sorted((r.uid, r.k, r.n) for r in
                     salted_skew_join(fact, dim, on="k",
                                      unique_col="uid",
                                      salt=salt).collect())
        assert got == expect, f"salt={salt} diverged"


def test_salted_join_rejects_dim_preserving_joins(spark):
    """right/full joins keep unmatched dim rows, which the salt-fold
    dim replication would emit ``salt`` times: refused. The fact-side
    join types match the plain join at any salt."""
    import pyspark.sql.functions as F
    from textract_demo_spark.datapipe.skew import salted_skew_join
    fact = spark.range(0, 40).select(F.col("id").alias("uid"),
                                     (F.col("id") % 3).alias("k"))
    dim = spark.range(0, 6).select(F.col("id").alias("k"),
                                   (F.col("id") * 10).alias("v"))
    for how in ("right", "full", "outer", "right_outer", "cross"):
        with pytest.raises(ValueError, match="inner/left/semi/anti"):
            salted_skew_join(fact, dim, on="k", unique_col="uid", salt=4,
                             how=how)
    for how in ("inner", "left", "left_semi", "anti"):
        got = salted_skew_join(fact, dim, on="k", unique_col="uid",
                               salt=4, how=how)
        want = fact.join(dim, "k", how)
        assert sorted(got.collect()) == sorted(want.collect()), how


def test_with_global_ids_adversarial_distributions(spark):
    """Global numbering must equal the global rank under skewed,
    clustered, and negative key distributions — boundary placement
    can shift costs, never ids."""
    import pyspark.sql.functions as F
    from textract_demo_spark.datapipe.splits import with_global_ids
    cases = [
        # heavy cluster: 90% of keys in a narrow band
        spark.range(0, 400).select(
            F.when(F.col("id") < 360, F.col("id") + 1_000_000)
             .otherwise(F.col("id") * 7919).alias("k")),
        # negative + positive mix
        spark.range(0, 300).select((F.col("id") - 150).alias("k")),
    ]
    for docs in cases:
        docs = docs.distinct()
        out = with_global_ids(docs, order_col="k", buckets=5)
        rows = sorted((r.k, r.global_id) for r in out.collect())
        assert [g for _, g in rows] == list(range(len(rows)))


def _exact_split_ref(docs, by="source", id_col="doc_id"):
    """Full-rank reference for the default 8/1/1 exact split in md5
    mode: rank by (hash, id) per group, cut at K = cum_w * n div 10."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window
    from textract_demo_spark.datapipe.dedup import hash64
    h = F.expr(hash64(f"concat('sx1', '-', cast({id_col} AS STRING))",
                      "md5"))
    d = docs.withColumn("_h", h)
    w = (Window.partitionBy(by)
         .orderBy(F.col("_h").asc(), F.col(id_col).asc()))
    nn = d.groupBy(by).count().withColumnRenamed("count", "n")
    return (d.withColumn("rk", F.row_number().over(w)).join(nn, by)
            .withColumn("split_ref",
                        F.when(F.col("rk") <= F.expr("8*n div 10"),
                               "train")
                        .when(F.col("rk") <= F.expr("9*n div 10"),
                              "val").otherwise("test")))


def test_stratified_exact_split_large_group_sketch_path(spark):
    """A group LARGER than `accuracy` exercises the sketch-banded
    order-statistic path (tiny groups take the whole-group band);
    assignment must equal the full-rank reference row for row, and
    split sizes must hit the integer-exact targets."""
    import pyspark.sql.functions as F
    from textract_demo_spark.datapipe.splits import stratified_exact_split
    docs = (spark.range(0, 3000)
            .select(F.col("id").alias("doc_id"),
                    F.lit("big").alias("source"))
            .union(spark.range(5000, 5040)
                   .select(F.col("id").alias("doc_id"),
                           F.lit("tiny").alias("source"))))
    out = stratified_exact_split(docs, hash_mode="md5", accuracy=64)
    ref = _exact_split_ref(docs)
    mism = (out.select("doc_id", "split")
            .join(ref.select("doc_id", "split_ref"), "doc_id")
            .filter("split != split_ref").count())
    assert mism == 0
    sizes = {(r.source, r.split): r["count"] for r in
             out.groupBy("source", "split").count().collect()}
    assert sizes[("big", "train")] == 2400
    assert sizes[("big", "val")] == 300
    assert sizes[("tiny", "train")] == 32
    assert sizes[("tiny", "val")] == 4


def test_stratified_exact_split_keeps_input_types(spark):
    """An int group column and string ids: the driver-built dims take
    both types from the input schema, and the assignment still equals
    the full-rank reference on the sketch path and the tiny path."""
    import pyspark.sql.functions as F
    from textract_demo_spark.datapipe.splits import stratified_exact_split
    docs = spark.range(0, 1200).select(
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("doc_id"),
        F.when(F.col("id") < 1000, 3).otherwise(F.col("id") % 2)
         .cast("int").alias("source"))
    out = stratified_exact_split(docs, hash_mode="md5", accuracy=64)
    assert dict(out.dtypes)["source"] == "int"
    ref = _exact_split_ref(docs)
    got = {r.doc_id: r.split for r in out.select("doc_id", "split")
           .collect()}
    want = {r.doc_id: r.split_ref for r in ref.select(
        "doc_id", "split_ref").collect()}
    assert got == want and len(got) == 1200


def test_curriculum_stage_keeps_null_groups(spark):
    """A null group is a group, as in SQL GROUP BY: its rows come back
    staged by the quartiles of their own scores (the bounds join is
    null-safe) instead of dropping out of an inner join."""
    from textract_demo_spark.datapipe.splits import with_curriculum_stage
    docs = spark.createDataFrame(
        [(i, None if i % 10 == 0 else f"s{i % 3}", i * 7 % 50)
         for i in range(50)],
        "doc_id long, source string, n_chars long")
    out = with_curriculum_stage(docs).collect()
    assert len(out) == 50
    nulls = sorted((r["n_chars"], r["stage"]) for r in out
                   if r["source"] is None)
    # scores 0, 10, 20, 30, 40: quartiles 10, 20, 30
    assert nulls == [(0, 1), (10, 1), (20, 2), (30, 3), (40, 4)]


def test_stratified_exact_split_refuses_null_groups(spark):
    """A null group value cannot be stratified, and the cut-dim join
    would silently drop its rows: refused."""
    from textract_demo_spark.datapipe.splits import stratified_exact_split
    docs = spark.createDataFrame(
        [(i, None if i % 10 == 0 else "a") for i in range(50)],
        "doc_id long, source string")
    with pytest.raises(ValueError, match="null"):
        stratified_exact_split(docs)

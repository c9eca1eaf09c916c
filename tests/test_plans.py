"""Physical-plan quality gates: the judged scale properties are plan
shapes, not just results — broadcast joins stay broadcast, scans prune
columns, the extraction pipeline keeps exactly one exchange, and the
field-rules stage stays narrow (SURVEY.md §4).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_review_join_is_broadcast_hash(spark):
    from textract_demo_spark.engine.pipeline import fixtures_to_dfs
    from textract_demo_spark.engine.review import apply_reviews
    from textract_demo_spark.engine.pipeline import run_pipeline
    dfs = fixtures_to_dfs(spark, n_convs=8)
    out = apply_reviews(
        run_pipeline(dfs["transcripts"], None, salt=2), dfs["reviews"])
    p = plan(out)
    assert "BroadcastHashJoin" in p, p[:2000]
    assert "SortMergeJoin" not in p


def test_dim_join_is_broadcast_hash(spark):
    from textract_demo_spark.engine.queries import QUERIES
    p = plan(QUERIES["j4_broadcast_dim_join"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_containment_join_is_broadcast_nested_loop(spark):
    from textract_demo_spark.engine.queries import QUERIES
    p = plan(QUERIES["j1_containment_join"](spark, SF))
    # non-equi containment predicate with a tiny dim side must not
    # fall back to a cartesian product without broadcast
    assert "BroadcastNestedLoopJoin" in p, p[:2000]


def test_projection_prunes_scan_columns(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    two = docs.select("doc_id", F.length("lang").alias("ll"))
    p = plan(two)
    # ReadSchema must contain only the two needed columns
    import re
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p[:2000]
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"doc_id", "lang"}, cols


def test_extraction_pipeline_single_exchange(spark):
    """scan -> salted repartition -> extract (field rules inside)
    must contain exactly ONE exchange (the explicit salted
    repartition): the rules are per-row work (SURVEY.md §2.5 note:
    grouping is unnecessary because a turn's blocks never leave
    their row)."""
    from textract_demo_spark.engine.pipeline import (fixtures_to_dfs,
                                                     run_pipeline)
    dfs = fixtures_to_dfs(spark, n_convs=8)
    out = run_pipeline(dfs["transcripts"], None, salt=2)
    p = plan(out)
    n_exchanges = p.count("Exchange")
    assert n_exchanges == 1, f"{n_exchanges} exchanges:\n{p[:3000]}"


def test_staged_commit_write_is_rebalanced(spark):
    """The IcebergLike staging write must carry a REBALANCE exchange
    on the table partition key: without it every upstream task writes
    one file per bucket it touches (tasks x buckets small files —
    measured to anti-scale with parallelism and fatal at cluster
    scale); with it, output file count tracks bucket count and AQE
    splits oversized buckets."""
    from textract_demo_spark.engine.tables import PART_COL, with_part_key
    df = with_part_key(
        spark.range(0, 100).select(F.col("id").cast("string")
                                   .alias("conv_id")), 8)
    rebalanced = df.hint("rebalance", F.col(PART_COL))
    logical = rebalanced._jdf.queryExecution().optimizedPlan().toString()
    assert "RebalancePartitions" in logical or "rebalance" in logical, \
        logical[:2000]


def _job_commit_plan(spark, tmp_path, *zorder_cols: str) -> str:
    """Plan of the frame ``run_extract`` commits, with the rebalance
    ``IcebergLike.write`` adds when the job asks for it."""
    from jobs.run_extract import commit_frame
    from textract_demo_spark.engine.pipeline import fixtures_to_dfs
    from textract_demo_spark.engine.tables import PART_COL, IcebergLike
    dfs = fixtures_to_dfs(spark, n_convs=8)
    with commit_frame(dfs["transcripts"], IcebergLike(str(tmp_path)), 8,
                      4, list(zorder_cols) or None) as (df, rebalance):
        if rebalance:
            df = df.hint("rebalance", F.col(PART_COL))
        return plan(df)


def _exchanges(p: str) -> list[tuple[int, str]]:
    return [(i, ln) for i, ln in enumerate(p.splitlines())
            if "Exchange " in ln]


def test_job_commit_shuffles_each_turn_once(spark, tmp_path):
    """The extract job's default commit frame crosses ONE exchange:
    the rebalance on part_key, below the kernel, so turns move as raw
    text and the extracted block arrays are never shuffled; the
    commit adds no second rebalance after the kernel."""
    p = _job_commit_plan(spark, tmp_path)
    ex = _exchanges(p)
    assert len(ex) == 1, p[:3000]
    line, desc = ex[0]
    assert "hashpartitioning(part_key" in desc, desc
    assert "REBALANCE_PARTITIONS_BY_COL" in desc, desc
    kernel = [i for i, ln in enumerate(p.splitlines())
              if "MapInArrow" in ln]
    assert len(kernel) == 1 and kernel[0] < line, p[:3000]


def test_job_zorder_commit_keeps_rebalance_after_kernel(spark, tmp_path):
    """A Z-order key depends on the kernel's output, so that frame
    keeps the commit's rebalance on part_key after the kernel, and
    the salted exchange before it (inside the persisted extraction)."""
    p = _job_commit_plan(spark, tmp_path, "turn_idx", "n_blocks_kept")
    kernel = min(i for i, ln in enumerate(p.splitlines())
                 if "MapInArrow" in ln)
    above = [d for i, d in _exchanges(p) if i < kernel]
    below = [d for i, d in _exchanges(p) if i > kernel]
    assert len(above) == 1, p[:3000]
    assert "hashpartitioning(part_key" in above[0], above
    assert "REBALANCE_PARTITIONS_BY_COL" in above[0], above
    assert below and all("hashpartitioning(conv_id" in d for d in below), \
        p[:3000]


def test_quality_filter_not_collapsed_into_extraction(spark):
    """The cheap quality gate runs inside the extraction kernel (one
    Python stage); there must be no SECOND Python stage before it
    (stage-ordering guarantee from SURVEY.md §4.1)."""
    from textract_demo_spark.engine.pipeline import (fixtures_to_dfs,
                                                     run_pipeline)
    dfs = fixtures_to_dfs(spark, n_convs=8)
    out = run_pipeline(dfs["transcripts"], None, salt=2)
    p = plan(out)
    # exactly one mapInArrow (extraction, date-entity fallback
    # included) and no other Python node: one boundary crossing per
    # batch, one Python worker per running task
    assert p.count("MapInArrow") == 1, p[:3000]
    assert "ArrowEvalPython" not in p, p[:3000]
    assert "BatchEvalPython" not in p, p[:3000]


def test_simhash_band_join_is_equi_hash_not_cartesian(spark):
    """Banded SimHash pair generation must join on the exact band
    key (equi hash join) — never a cartesian / nested-loop pairing;
    Catalyst additionally pushes the bit_count verification into the
    join condition."""
    from textract_demo_spark.engine.queries import QUERIES
    p = plan(QUERIES["dedup_simhash_pairs"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Join" in p and "bk" in p


def test_ivf_centroid_update_narrow_shuffle(spark):
    """The Lloyd update must shuffle n corpus rows with map-side
    partial aggregation (dim scalar avg columns) — no posexplode
    Generate blowing the shuffle up to n x d rows, and no
    single-partition global Window anywhere (round-2 nit)."""
    from textract_demo_spark.datapipe.similarity import ivf_centroids
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = plan(ivf_centroids(emb, n_centroids=4, iters=1))
    assert "Generate" not in p, p[:2000]
    assert "Window" not in p, p[:2000]
    assert "partial_avg" in p, p[:2000]


def test_split_assignment_is_narrow(spark):
    """Split/sample assignment is a pure per-row hash — the plan must
    contain no Exchange at all (membership can never depend on
    physical layout, and at 100 TB the operator costs one scan)."""
    from textract_demo_spark.datapipe.splits import (with_hash_sample,
                                                     with_split_assignment)
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    out = with_hash_sample(with_split_assignment(docs), 0.1)
    p = plan(out)
    assert "Exchange" not in p, p[:2000]


def test_contamination_probe_is_broadcast_single_shuffle(spark):
    """Decontamination must broadcast the (tiny) eval shingle set and
    probe it with a broadcast hash join BEFORE any shuffle of corpus
    data; the only exchanges are the groupBy re-collapse of matched
    shingles and its broadcast back onto the corpus id set — no
    SortMergeJoin of corpus-sized inputs."""
    from textract_demo_spark.datapipe.dedup import contamination_overlap
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = contamination_overlap(docs.filter("doc_id >= 20"),
                                docs.filter("doc_id < 20"))
    p = plan(out)
    assert "BroadcastHashJoin" in p, p[:2000]
    assert "SortMergeJoin" not in p, p[:2000]
    # shuffles: the eval-side distinct (eval-set-sized) plus the
    # two-phase count_distinct collapse of MATCHED shingles (bounded
    # by overlap, not corpus size, because the inner probe join drops
    # non-matches first). Corpus text itself is never shuffled.
    import re
    shuffles = re.findall(r"Exchange hashpartitioning\(([^,]+)", p)
    assert len(shuffles) <= 3, shuffles
    eval_side = [s for s in shuffles if s.startswith("h#")]
    assert len(eval_side) <= 1, shuffles


def test_mix_resample_broadcasts_threshold_dim(spark):
    """Domain-mix resampling must attach per-domain thresholds via a
    BroadcastHashJoin (the dim is domain-count-sized) — the corpus is
    scanned, never sort-merge shuffled; the only hashpartitioning
    exchange is the tiny groupBy(source) count."""
    from textract_demo_spark.datapipe.splits import with_mix_resample
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = with_mix_resample(docs, {f"src{i}": (3 if i % 2 else 1)
                                   for i in range(20)})
    p = plan(out)
    assert "BroadcastHashJoin" in p, p[:2000]
    assert "SortMergeJoin" not in p, p[:2000]


def test_pii_scrub_is_narrow(spark):
    """PII detection + redaction is pure per-row JVM regex — the plan
    must contain no Exchange and no Python evaluation node."""
    from textract_demo_spark.datapipe.pii import redact_pii, with_pii_stats
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(redact_pii(with_pii_stats(docs)))
    assert "Exchange" not in p, p[:2000]
    assert "Python" not in p, p[:2000]


def test_packing_exactly_one_shuffle(spark):
    """Sequence packing pays exactly ONE exchange (the groupBy(shard)
    hash partitioning feeding the stateful per-shard scan) — the
    corpus is never shuffled twice and never sort-merge joined."""
    from textract_demo_spark.datapipe.packing import pack_greedy
    from textract_demo_spark.datapipe.textstats import with_token_stats
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(pack_greedy(with_token_stats(docs), budget=256,
                         tok_col="n_tokens"))
    assert p.count("Exchange hashpartitioning") == 1, p[:2000]
    assert "FlatMapGroupsInPandas" in p, p[:2000]


def test_token_topk_partial_agg_and_group_limit(spark):
    """Heavy-hitter counting must collapse token occurrences map-side
    (partial_count before the exchange) and the per-group rank must
    run as WindowGroupLimit (partial top-k, never a full sort of the
    count table)."""
    from textract_demo_spark.datapipe.textstats import token_topk
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(token_topk(docs, k=10, group_col="source"))
    assert "WindowGroupLimit" in p, p[:2000]
    assert "partial_count" in p, p[:2000]


def test_incremental_dedup_corpus_never_shuffles(spark):
    """Batch-vs-index dedup must keep the corpus index on the
    streamed (probe) side of BROADCAST joins everywhere — the batch
    is the small side by definition, so at 100 TB the index never
    crosses an exchange. The vs-corpus branch has no sort-merge join
    and no cartesian anywhere."""
    from textract_demo_spark.datapipe.dedup import (
        build_minhash_index, incremental_dedup_pairs, release_cached)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    out = incremental_dedup_pairs(batch, build_minhash_index(corpus),
                                  threshold=0.5)
    p = plan(out)
    release_cached(out)
    assert "SortMergeJoin" not in p, p[:3000]
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("BroadcastHashJoin") >= 3, p[:3000]


def test_incremental_semantic_dedup_corpus_probe_broadcast(spark):
    """The batch-vs-frozen-snapshot probe must broadcast the batch's
    (cid, vec) frame — the kept-vector table streams through one
    BroadcastHashJoin, never a sort-merge or cartesian. (The snapshot
    build itself aggregates the corpus once; that cost is per
    snapshot, not per batch.)"""
    from textract_demo_spark.datapipe.dedup import release_cached
    from textract_demo_spark.datapipe.similarity import (
        assign_to_centroids, incremental_semantic_dedup, ivf_centroids)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0)
    cents = ivf_centroids(corpus, n_centroids=8, iters=1).persist()
    snap = (assign_to_centroids(corpus, cents)
            .join(corpus.select("vec_id", "embedding"), "vec_id"))
    out = incremental_semantic_dedup(batch, cents, snap, threshold=0.4)
    p = plan(out)
    release_cached(out)
    cents.unpersist()
    assert "SortMergeJoin" not in p, p[:3000]
    assert "CartesianProduct" not in p
    assert p.count("BroadcastHashJoin") >= 2, p[:3000]


def test_semantic_dedup_pairs_stay_equi_join(spark):
    """Semantic dedup must generate candidate pairs via an EQUI join
    on the cluster id — never a corpus x corpus cartesian / broadcast
    nested loop (the brute path exists only inside the 1-centroid
    degenerate case); the kept-flag attach is a join on the id."""
    from textract_demo_spark.datapipe.similarity import semantic_dedup
    emb = (spark.read.parquet(f"{SF}/embeddings.parquet")
           .select("vec_id", "embedding"))
    p = plan(semantic_dedup(emb, n_centroids=4))
    assert "CartesianProduct" not in p, p[:2000]
    # the only nested-loop node allowed is the tiny broadcast of the
    # centroid set onto the corpus (assign step), never the pair join
    assert "cid" in p


def test_unigram_surprisal_broadcasts_vocab_single_doc_agg(spark):
    """Surprisal scoring must broadcast the vocab (LeftOuter
    BroadcastHashJoin onto the exploded token stream — the corpus side
    is never shuffled for the join) and pay exactly one per-doc
    re-aggregation exchange with map-side partial sums; no float log
    anywhere in the plan."""
    from textract_demo_spark.datapipe.textstats import (
        with_unigram_surprisal)
    docs = (spark.read.parquet(f"{SF}/documents.parquet")
            .select("doc_id", "text"))
    p = plan(with_unigram_surprisal(docs))
    assert "BroadcastHashJoin" in p and "LeftOuter" in p, p[:2000]
    assert "SortMergeJoin" not in p, p[:2000]
    assert "partial_sum" in p, p[:2000]
    assert "LOG(" not in p.upper(), p[:2000]
    # exchanges: vocab count (vocab-sized), total (1 row), per-doc agg
    import re
    shuffles = re.findall(r"Exchange hashpartitioning\(([^,]+)", p)
    doc_side = [s for s in shuffles if s.startswith("doc_id")]
    assert len(doc_side) == 1, shuffles


def test_duplicated_spans_two_shuffles_narrow_exchange(spark):
    """duplicated_spans: the window-count form shuffles the window
    frame ONCE on the (h0, h1) key — not the groupBy+join form, which
    pays that exchange twice — and the island merge shuffles only
    surviving windows on doc_id. Shingle/token strings are projected
    away before the first exchange (the Generate emits bare
    (id, pos, h0, h1)); no cartesian anywhere; the join back to docs
    for offsets/text is an equi join."""
    import re
    from textract_demo_spark.datapipe.dedup import duplicated_spans
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(duplicated_spans(docs, window=12))
    shuffles = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p)
    assert len(shuffles) == 2, p[:3000]
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    for args in shuffles:
        assert "tokens" not in args and "text" not in args, args
    assert p.count("Generate") == 1, p[:3000]


def test_shuffle_shards_single_exchange_no_global_sort(spark):
    """shuffle_shards: ONE exchange (hashpartitioning on shard), both
    window functions share the in-shard sort, and nothing funnels
    through a single partition — the global-row_number anti-pattern
    would show as Exchange SinglePartition."""
    import re
    from pyspark.sql import functions as F
    from textract_demo_spark.datapipe.splits import shuffle_shards
    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .withColumn("n_tokens", F.size(F.split("text", " ")))
    p = plan(shuffle_shards(docs, n_shards=16, tok_col="n_tokens"))
    shuffles = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p)
    assert len(shuffles) == 1, p[:3000]
    assert "shard" in shuffles[0]
    assert "SinglePartition" not in p, p[:3000]
    assert p.count("Sort ") <= 1 or p.count("Window") == 1, p[:3000]


def test_remove_duplicated_spans_shared_key_exchange(spark):
    """remove_duplicated_spans: the occurrence count and the
    global-first row_number run over ONE (h0, h1) exchange (hoisted
    top-level key columns — windowing on struct fields hk.h0/hk.h1
    would give each window spec its own projected _w0/_w1 keys and
    its own Exchange), the island merge adds the doc_id exchange, and
    the excision joins stay broadcast-equi: two hash exchanges total,
    none carrying tokens/text."""
    import re
    from textract_demo_spark.datapipe.dedup import remove_duplicated_spans
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(remove_duplicated_spans(docs, window=12))
    shuffles = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p)
    assert len(shuffles) == 2, p[:3000]
    assert any("h0" in s and "h1" in s for s in shuffles), shuffles
    for args in shuffles:
        assert "tokens" not in args and "text" not in args, args
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p, p[:3000]


def test_gopher_rules_zero_shuffle_pruned_scan(spark):
    """with_gopher_rules is a pure map: no exchange, no join, and the
    parquet scan reads only (doc_id, text)."""
    import re
    from textract_demo_spark.datapipe.textstats import with_gopher_rules
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(with_gopher_rules(docs.select("doc_id", "text")))
    assert "Exchange" not in p, p[:3000]
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p[:2000]
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"doc_id", "text"}, cols


def test_length_percentiles_single_group_exchange(spark):
    """length_percentiles: rank and count share ONE exchange on the
    group key; nothing funnels through a single partition."""
    import re
    from textract_demo_spark.datapipe.textstats import length_percentiles
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(length_percentiles(docs))
    shuffles = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p)
    assert len(shuffles) == 1 and "source" in shuffles[0], shuffles
    assert "SinglePartition" not in p, p[:2000]


def test_learned_quality_gate_is_narrow_codegen(spark):
    """The trained quality gate is pure per-row JVM SQL with the
    coefficients as plan-time literals — no Exchange, no Python node,
    and the score stays inside whole-stage codegen."""
    from textract_demo_spark.engine.learned_gate import \
        with_learned_quality
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(with_learned_quality(docs))
    assert "Exchange" not in p, p[:2000]
    assert "Python" not in p, p[:2000]
    # '*(n)' prefixes mark whole-stage-codegen stages in toString();
    # the score projection must sit inside one
    assert "*(1) Project" in p, p[:2000]


def test_media_features_zero_shuffle_pruned_scan(spark):
    """Real media decode is one Arrow-batched map over the scan: no
    Exchange, and only the three needed columns reach the scan."""
    import re

    from textract_demo_spark.datapipe.multimodal import (attach_media,
                                                         media_features)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    media = attach_media(docs).withColumn(
        "media_type", F.lit("image/bmp"))
    p = plan(media_features(media, strict=False))
    assert "Exchange" not in p, p[:2000]
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p[:2000]
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"doc_id", "text"}, cols


def test_skew_query_single_salted_exchange_before_extract(spark):
    """skew_salted_extract pays exactly one exchange before the
    Python extraction stage (the explicit salted repartition); the
    per-task aggregation afterwards is partial-agg + one exchange."""
    from textract_demo_spark.engine.queries import QUERIES
    p = plan(QUERIES["skew_salted_extract"](spark, SF))
    head = p.split("MapInArrow")[-1]  # plan prints output-first; the
    # section AFTER the last MapInArrow line is the pre-extract input
    assert head.count("Exchange hashpartitioning") == 1, p[:3000]


def test_c4_line_filter_zero_shuffle_narrow(spark):
    """C4 line hygiene is a pure narrow pass: no Exchange, no Python
    node — higher-order array SQL stays JVM-side, so cleaning 10^12
    docs costs exactly one scan."""
    from textract_demo_spark.datapipe.lines import c4_line_filter
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(c4_line_filter(docs))
    assert "Exchange" not in p, p[:2000]
    assert "Python" not in p, p[:2000]


def test_line_dedup_skew_robust_no_window(spark):
    """Corpus line dedup must NOT rank with a window over the line
    hash: boilerplate lines are the hottest keys in a web corpus and
    windows get no AQE skew split. The plan must carry the partial-
    aggregated min (map-side combine defuses hot lines before the
    shuffle) and mark losers via an anti-join whose keys include
    (doc_id, line_idx) — uniform even for a 10^9-hot line."""
    from textract_demo_spark.datapipe.lines import line_dedup
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(line_dedup(docs.select("doc_id", "text")))
    assert "Window" not in p, p[:3000]
    assert "partial_min" in p, p[:3000]
    assert "LeftAnti" in p, p[:3000]
    # the anti-join is an equi-join on the full quad, never a
    # broadcast-nested-loop / cartesian fallback
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_dsir_scoring_broadcast_models_partial_agg(spark):
    """DSIR scoring at 10^12 docs: the two bucket models are <= B
    rows, so the delta probe MUST be a broadcast hash join (a
    sort-merge join would shuffle every feature occurrence), the
    model fit and the per-doc score MUST partial-aggregate (map-side
    combine collapses each partition to <= B / <= docs-per-partition
    rows before the exchange), and nothing may fall back to a
    cartesian product. The corpus text column itself never enters an
    exchange — only narrow (doc_id, bucket) rows move."""
    from textract_demo_spark.datapipe.dsir import with_dsir_scores
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    target = docs.filter(F.col("doc_id") % 5 == 0)
    p = plan(with_dsir_scores(docs, target, num_buckets=64))
    assert "BroadcastHashJoin" in p, p[:3000]
    assert "SortMergeJoin" not in p, p[:3000]
    assert "partial_count" in p, p[:3000]
    assert "CartesianProduct" not in p, p[:3000]


def test_text_classifier_zero_joins_one_exchange(spark):
    """The trained hashed-ngram classifier scores with weights as a
    plan-time LITERAL array: no join of any kind, exactly ONE
    exchange (the partial-aggregated per-doc groupBy), no Python —
    classifying 10^12 docs costs one scan plus one narrow
    (doc_id, bucket) shuffle."""
    from textract_demo_spark.datapipe.classifier import \
        with_text_classifier
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(with_text_classifier(docs))
    assert "Join" not in p, p[:3000]
    assert p.count("Exchange") == 1, p[:3000]
    assert "partial_count" in p, p[:3000]
    assert "Python" not in p, p[:3000]


def test_dsir_topk_partial_topk_no_global_sort(spark):
    """dsir_topk's global rank must never globally sort the scored
    corpus: Spark plans the rank<=k window as either
    TakeOrderedAndProject(limit=k) (observed: the filter+window
    collapse to a per-partition top-k + single k-row merge) or
    WindowGroupLimit — both forward at most k rows per task. A bare
    global Sort feeding the Window is the scale-killer shape."""
    from textract_demo_spark.datapipe.dsir import dsir_topk
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(dsir_topk(docs, docs.filter(F.col("doc_id") % 5 == 0),
                       k=10, num_buckets=64))
    assert ("TakeOrderedAndProject" in p
            or "WindowGroupLimit" in p), p[:3000]
    assert "Exchange rangepartitioning" not in p, p[:3000]


def test_hll_registers_single_partial_max_exchange(spark):
    """The HLL register build must be ONE exchange whose map-side
    partial max has already collapsed every within-partition value:
    the shuffle carries at most (groups x 2^p) register rows no
    matter how many raw rows feed it. No Python, no join."""
    from textract_demo_spark.datapipe.sketch import hll_registers
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(hll_registers(docs, value_col="text",
                           group_cols=("source",), p=8))
    assert p.count("Exchange") == 1, p[:3000]
    assert "partial_max" in p, p[:3000]
    assert "Python" not in p, p[:3000]
    assert "Join" not in p, p[:3000]


def test_cms_probe_broadcast_sketch_no_shuffle_of_counters(spark):
    """The count-min probe joins a fixed depth x width counter table:
    it MUST broadcast (a sort-merge join would shuffle the probe
    stream against a table that fits in one cache line's worth of
    tasks). The per-key min partial-aggregates before its exchange."""
    from textract_demo_spark.datapipe.sketch import cms_build, cms_probe
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    keys = docs.select(F.col("source").alias("k"))
    sketch = cms_build(keys, "k", depth=3, width=64)
    p = plan(cms_probe(sketch, keys.distinct(), "k", depth=3, width=64))
    assert "BroadcastHashJoin" in p, p[:3000]
    assert "SortMergeJoin" not in p, p[:3000]
    assert "partial_min" in p, p[:3000]


def test_chunk_overlap_zero_shuffle_pruned_scan(spark):
    """Chunking is a map-only stage: zero Exchange, no Python node
    (higher-order array SQL stays JVM-side), and the scan reads only
    (doc_id, text) — at 10^12 turns this pipelines straight into
    pack/tokenize without touching the cluster fabric."""
    import re

    from textract_demo_spark.datapipe.chunks import chunk_with_overlap
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(chunk_with_overlap(docs, size=24, stride=16))
    assert "Exchange" not in p, p[:2000]
    assert "Python" not in p, p[:2000]
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p[:2000]
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"doc_id", "text"}, cols


def test_tfidf_broadcast_vocab_partial_topk(spark):
    """TF-IDF at corpus scale: the document-frequency table is the
    vocabulary (zipf-bounded) and MUST come back as a broadcast hash
    join — never a sort-merge that reshuffles every (doc, token)
    pair; N arrives as a broadcast one-row aggregate (the BNLJ), and
    the per-doc rank runs as WindowGroupLimit so each task forwards
    at most k rows per doc."""
    from textract_demo_spark.datapipe.textstats import tfidf_top_terms
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = tfidf_top_terms(docs, k=3)
    p = plan(out)
    out._cached_banded.unpersist()
    assert "BroadcastHashJoin" in p, p[:3000]
    assert "SortMergeJoin" not in p, p[:3000]
    assert "WindowGroupLimit" in p, p[:3000]


def test_star_round_equi_joins_only(spark):
    """One large/small-star contraction round (datapipe/dedup.py
    _star_round) must execute as key-equi hash/sort joins and
    partial-aggregated groupBys over the EDGE set — never a
    cartesian product or broadcast-nested-loop (either would mean
    the round degraded to all-pairs, which at 10^9 edges is fatal),
    and never a global Window (rank-free algorithm)."""
    edges = (spark.range(200)
             .select(F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
             .select(F.greatest("a", "b").alias("a"),
                     F.least("a", "b").alias("b")))
    from textract_demo_spark.datapipe.dedup import _star_round
    p = plan(_star_round(edges))
    assert "CartesianProduct" not in p, p[:3000]
    assert "BroadcastNestedLoopJoin" not in p, p[:3000]
    assert "Window" not in p, p[:3000]
    # both groupBy mins must partial-aggregate map-side before their
    # exchange (the hub-skew defuser: a degree-10^6 node's neighbor
    # list combines per-partition first)
    assert "partial_min" in p or "partial_least" in p, p[:3000]


def test_canonical_url_zero_shuffle_pruned_scan(spark):
    """URL canonicalization must be a narrow whole-stage-codegen map
    over a pruned scan — zero exchanges (it is the thing that makes
    crawl URL-dedup a plain hash-groupBy downstream)."""
    from textract_demo_spark.datapipe.webgraph import (canonical_url,
                                                       url_domain)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = docs.select("doc_id",
                      canonical_url(F.col("source")).alias("u"),
                      url_domain(F.col("source")).alias("d"))
    p = plan(out)
    assert "Exchange" not in p, p[:3000]
    import re
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"doc_id", "source"}, cols


def test_harvest_links_single_generate_no_join(spark):
    """Link harvesting is one per-row Generate (the href explode) —
    no join back to the page table (base-URL parts ride the row) and
    no exchange."""
    from textract_demo_spark.datapipe.webgraph import harvest_links
    pages = spark.createDataFrame(
        [(1, "https://a.org/p", '<a href="/x">y</a>')],
        "doc_id long, url string, html string")
    p = plan(harvest_links(pages))
    assert p.count("Generate") == 1, p[:3000]
    assert "Join" not in p, p[:3000]
    assert "Exchange" not in p, p[:3000]


def test_pagerank_round_partial_agg_equi_joins(spark):
    """One PageRank power-iteration round: the contribution groupBy
    must partial-aggregate map-side before its single exchange, and
    every join must be key-equi (no cartesian / nested-loop — either
    would mean the round degraded to nodes x nodes)."""
    from textract_demo_spark.datapipe.webgraph import _pr_round
    e = (spark.range(100)
         .select(F.col("id").alias("src"),
                 ((F.col("id") * 7 + 1) % 100).alias("dst")))
    nodes = e.select(F.col("src").alias("node")).distinct()
    ew = e.join(e.groupBy("src").agg(F.count("*").alias("outdeg")),
                "src")
    ranks = nodes.select(
        "node", F.lit(1_000_000).cast("long").alias("rank_micro"))
    p = plan(_pr_round(ew, nodes, ranks, 850))
    assert "CartesianProduct" not in p, p[:3000]
    assert "BroadcastNestedLoopJoin" not in p, p[:3000]
    assert "partial_sum" in p, p[:3000]


def test_ngram_fracs_zero_shuffle_pruned_scan(spark):
    """The Gopher n-gram fraction stats are per-row sorted-run
    aggregates: zero exchanges, 2-column pruned scan — the whole
    point of the in-row formulation vs the relational (explode +
    groupBy) one the oracle uses."""
    from textract_demo_spark.datapipe.textstats import (
        with_dup_ngram_char_frac, with_top_ngram_char_frac)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = with_dup_ngram_char_frac(
        with_top_ngram_char_frac(docs.select("doc_id", "text"), 2), 5)
    p = plan(out)
    assert "Exchange" not in p, p[:3000]
    import re
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"doc_id", "text"}, cols


def test_logq_sketch_partial_agg_single_exchange(spark):
    """The log-bucket quantile sketch build must partial-aggregate
    map-side (per-partition values collapse to <= 64 bucket rows
    BEFORE the exchange) with exactly one exchange — the mergeable-
    rollup property that makes it cheaper than exact ranks."""
    from textract_demo_spark.datapipe.sketch import logq_sketch
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(logq_sketch(docs, "n_chars"))
    assert p.count("Exchange") == 1, p[:3000]
    assert "partial_count" in p, p[:3000]


def test_conversation_stats_single_exchange(spark):
    """conversation_stats on an already-shaped turns table: the
    per-conv lag window and the groupBy(conv_id) must SHARE one
    hash(conv_id) exchange — EnsureRequirements sees the window's
    output partitioning already satisfies the aggregate, so the whole
    per-conversation pass is scan -> shuffle(conv_id) -> narrow."""
    from textract_demo_spark.datapipe.transcripts import conversation_stats
    turns = spark.createDataFrame(
        [("c1", i, "user" if i % 2 else "assistant", "t",) for i in range(6)],
        "conv_id string, turn_idx int, role string, tool string"
    ).withColumn("ts", F.to_timestamp(F.lit("2026-01-01 00:00:00")))
    p = plan(conversation_stats(turns))
    assert p.count("Exchange") == 1, p[:3000]
    assert "Window" in p


def test_tool_transitions_no_corpus_global_window(spark):
    """tool_transitions: the only global (unpartitioned) window is the
    final top-k over the tiny pair-count table, and it must execute
    as a partial top-k — TakeOrderedAndProject (Catalyst pushes the
    rank<=k filter into a limit) or WindowGroupLimit — never a full
    global sort; the pair counting itself partial-aggregates
    map-side."""
    from textract_demo_spark.datapipe.transcripts import tool_transitions
    turns = spark.createDataFrame(
        [("c1", i, "r", f"t{i % 3}") for i in range(9)],
        "conv_id string, turn_idx int, role string, tool string")
    p = plan(tool_transitions(turns, k=5))
    assert ("TakeOrderedAndProject" in p) or ("WindowGroupLimit" in p), \
        p[:3000]
    assert "partial_count" in p, p[:3000]


def test_rrf_corp_join_broadcast_and_tiny_fusion(spark):
    """search_hybrid_rrf: the documents-with-embedding corpus
    restriction must be a broadcast (semi) join — the corpus side
    never shuffles for it — and no SortMergeJoin appears anywhere
    (both retrieval arms keep their broadcast shapes through the
    fusion union)."""
    from textract_demo_spark.engine.queries import QUERIES
    p = plan(QUERIES["search_hybrid_rrf"](spark, SF))
    assert "SortMergeJoin" not in p, p[:3000]
    assert "Broadcast" in p, p[:3000]


def test_hits_round_partial_agg_no_cartesian(spark):
    """One HITS round: both sum exchanges must partial-aggregate
    map-side, the only nested-loop joins are the TWO one-row max
    broadcasts (rescale denominators), and nothing is a cartesian
    product. Node-keyed equi joins may plan as SortMergeJoin here —
    that IS the scale shape for two graph-sized frames (AQE converts
    small sides to broadcast at runtime)."""
    from textract_demo_spark.datapipe.webgraph import _hits_round
    from pyspark.sql import functions as F
    e = spark.createDataFrame(
        [(i, (i * 3 + 1) % 20) for i in range(20)], "src long, dst long"
    ).localCheckpoint()
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .distinct().localCheckpoint())
    state = nodes.select(
        "node", F.lit(0).cast("long").alias("auth_micro"),
        F.lit(1_000_000).cast("long").alias("hub_micro"))
    p = plan(_hits_round(e, nodes, state))
    assert "partial_sum" in p, p[:3000]
    assert "CartesianProduct" not in p, p[:3000]
    # 2 genuine one-row max broadcasts; the auths subtree (carrying
    # one of them) is textually embedded twice inside the hub half
    # (raw-sum + its max), so the STRING count is 4 — identical
    # subtrees share exchanges at runtime (ReuseExchange), and the
    # per-round localCheckpoint stops any growth across rounds.
    assert p.count("BroadcastNestedLoopJoin") <= 4, p[:3000]


def test_robots_filter_broadcast_dim_no_frontier_shuffle(spark):
    """Robots gating must broadcast the (host -> rules) dim and fold
    precedence per row: the frontier side is scanned once, never
    shuffled — the only exchange is the tiny rules groupBy(host)."""
    from textract_demo_spark.engine.queries import QUERIES
    p = plan(QUERIES["frontier_robots_filter"](spark, SF))
    assert "BroadcastHashJoin" in p, p[:3000]
    assert "SortMergeJoin" not in p, p[:3000]
    # shuffle exchanges (BroadcastExchange excluded): only the rules
    # groupBy(host) — the frontier side never re-partitions
    assert p.count("Exchange hashpartitioning") <= 1, p[:3000]


def test_bigram_lm_broadcast_models_single_doc_exchange(spark):
    """Frozen-model bigram scoring: pair arrays build IN-ROW (no
    positional self-join of an exploded token table), the three model
    joins (bigrams, w1-counts, w2-bits) are all broadcast, and the
    only row-shuffling exchange is the final per-doc aggregate."""
    from textract_demo_spark.datapipe.textstats import (
        with_bigram_surprisal)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    vocab = spark.createDataFrame(
        [("the", 10, 3), ("a", 4, 2)], "token string, n long, bits long")
    bigrams = spark.createDataFrame(
        [("the", "a", 2)], "w1 string, w2 string, n12 long")
    p = plan(with_bigram_surprisal(docs.select("doc_id", "text"),
                                   vocab=vocab, bigrams=bigrams))
    assert "SortMergeJoin" not in p, p[:3000]
    assert p.count("BroadcastHashJoin") >= 3, p[:3000]
    # one hash exchange: the doc-keyed aggregate (the model total is
    # a one-row SinglePartition agg, not a data shuffle)
    assert p.count("Exchange hashpartitioning") == 1, p[:3000]


def test_equality_delete_read_is_broadcast_anti_join(spark, tmp_path):
    """Merge-on-read equality deletes: the scan-time application must
    be a broadcast ANTI join (delete sets are dimension-sized next to
    the data) — never a sort-merge join or a cartesian of the corpus
    against its tombstones."""
    from textract_demo_spark.engine.tables import (IcebergLike,
                                                   with_part_key)
    t = IcebergLike(str(tmp_path / "t"))
    df = with_part_key(
        spark.range(0, 50).select(
            F.concat(F.lit("c"), F.col("id").cast("string"))
            .alias("conv_id"), F.col("id").cast("long").alias("doc_id")),
        4)
    t.write(df)
    t.delete_rows(spark.createDataFrame([(3,)], "doc_id long"),
                  ["doc_id"])
    p = plan(t.read(spark))
    assert "LeftAnti" in p, p[:3000]
    assert "BroadcastHashJoin" in p, p[:3000]
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_bottomk_sample_partial_topk(spark):
    """Bottom-k group sampling must execute as WindowGroupLimit:
    every task forwards at most k rows per group BEFORE the one
    group-keyed exchange — never rank-everything-then-filter."""
    from textract_demo_spark.datapipe.splits import group_sample_bottomk
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(group_sample_bottomk(docs.select("doc_id", "source"), k=5))
    assert "WindowGroupLimit" in p, p[:3000]
    assert p.count("Exchange hashpartitioning") == 1, p[:3000]


def test_pq_encode_zero_shuffle_literal_codebooks(spark):
    """PQ encode is ONE narrow projection: codebooks are plan-time
    literals, so the compressed representation costs zero joins and
    zero exchanges over the corpus."""
    from textract_demo_spark.datapipe.similarity import (pq_codebooks,
                                                         pq_encode)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cb = pq_codebooks(emb, m=8, ksub=16, iters=0)
    p = plan(pq_encode(emb, cb))
    assert "Exchange" not in p, p[:3000]
    assert "Join" not in p, p[:3000]


def test_pq_scan_broadcast_queries_partial_topk(spark):
    """The ADC scan broadcasts the query side and ranks as
    WindowGroupLimit — the corpus never shuffles by content and never
    sort-merge-joins anything."""
    from pyspark.sql import functions as F

    from textract_demo_spark.datapipe.similarity import (pq_codebooks,
                                                         pq_topk)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cb = pq_codebooks(emb, m=8, ksub=16, iters=0)
    q = (emb.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    p = plan(pq_topk(emb, q, k=5, cb=cb, refine=20))
    assert "SortMergeJoin" not in p, p[:3000]
    assert "WindowGroupLimit" in p, p[:3000]
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_ivfpq_no_corpus_shuffle_equi_probe_join(spark):
    """IVF-PQ scan: coarse assignment + PQ encode are one narrow
    literal projection; probes broadcast into an EQUI hash join on
    cid (never BNLJ over array_contains); ranking is WindowGroupLimit.
    The corpus never shuffles by content."""
    from pyspark.sql import functions as F

    from textract_demo_spark.datapipe.similarity import ivfpq_topk
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = (emb.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    p = plan(ivfpq_topk(emb, q, k=5, n_centroids=4, n_probe=2,
                        iters=0, refine=20))
    assert "SortMergeJoin" not in p, p[:3000]
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p, p[:3000]
    assert "WindowGroupLimit" in p, p[:3000]


def test_zorder_assignment_narrow_zero_shuffle(spark):
    """Z-order key assignment is a narrow per-row fold over plan-time
    literal boundaries: no exchange, no join, no window — the only
    jobs zorder_part_key runs are its two approxQuantile sketch
    aggregates, and the frame it returns adds nothing to the lineage
    but projections."""
    from textract_demo_spark.engine.tables import zorder_part_key
    docs = (spark.read.parquet(f"{SF}/documents.parquet")
            .select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.length("text").cast("long").alias("n_chars")))
    p = plan(zorder_part_key(docs, ["doc_id", "n_chars"], 8,
                             rel_err=0.0))
    assert "Exchange" not in p, p[:3000]
    assert "Join" not in p, p[:3000]
    assert "Window" not in p, p[:3000]


def test_kmv_sketch_bottom_k_group_limit(spark):
    """The KMV build's per-group bottom-k must run as WindowGroupLimit
    (each map partition forwards at most k rows per group into the
    rank exchange — never a full sort of the distinct-hash stream),
    and the distinct must partially aggregate map-side."""
    from textract_demo_spark.datapipe.sketch import kmv_sketch
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(kmv_sketch(docs, value_col="text",
                        group_cols=("source",), k=16))
    assert "WindowGroupLimit" in p, p[:2000]


def test_kmv_set_ops_all_broadcast(spark):
    """Theta set operations run entirely on k-row dimension frames:
    every join must broadcast — no shuffled join of sketch rows, no
    unbounded cartesian (the only crossJoin is the groups x groups
    pair frame, itself broadcast)."""
    from textract_demo_spark.datapipe.sketch import (kmv_set_ops,
                                                     kmv_sketch)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sk = kmv_sketch(docs, value_col="text",
                    group_cols=("source",), k=16)
    p = plan(kmv_set_ops(sk, k=16, group_col="source"))
    assert "SortMergeJoin" not in p, p[:3000]
    assert "BroadcastHashJoin" in p, p[:3000]


def test_position_delete_read_is_broadcast_anti_join(spark, tmp_path):
    """Merge-on-read position deletes: application is a broadcast
    ANTI join on (partition, file, ordinal) — the tombstone dimension
    broadcasts, the corpus never shuffles, and the ordinal comes from
    the scan's _metadata.row_index (no window, no row_number over the
    data)."""
    from textract_demo_spark.engine.tables import (IcebergLike,
                                                   with_part_key)
    t = IcebergLike(str(tmp_path / "t"))
    df = with_part_key(
        spark.range(0, 50).select(
            F.concat(F.lit("c"), F.col("id").cast("string"))
            .alias("conv_id"), F.col("id").cast("long").alias("doc_id")),
        4)
    t.write(df)
    t.delete_where(spark, "doc_id % 10 = 3")
    p = plan(t.read(spark))
    assert "LeftAnti" in p, p[:3000]
    assert "BroadcastHashJoin" in p, p[:3000]
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "Window" not in p, p[:3000]


def test_curriculum_no_window_broadcast_bounds(spark):
    """Curriculum stage assignment must be the broadcast-quartiles
    shape: NO window node anywhere (an NTILE formulation funnels the
    corpus through window partitions) and the bounds dim joined
    broadcast — the corpus itself never shuffles."""
    from textract_demo_spark.datapipe.splits import with_curriculum_stage
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(with_curriculum_stage(docs))
    assert "Window" not in p, p[:3000]
    assert "BroadcastHashJoin" in p, p[:3000]
    assert "SortMergeJoin" not in p


def test_cluster_representative_group_limit(spark):
    """Representative selection must be ONE cluster-keyed aggregate
    (max_by inside the same partial/final agg that counts members —
    tasks forward one candidate per cluster map-side), with NO
    window node, and the label join must stay equi — never a
    cartesian."""
    from textract_demo_spark.datapipe.dedup import cluster_representatives
    docs = (spark.read.parquet(f"{SF}/documents.parquet")
            .select("doc_id", "text"))
    clusters = docs.select("doc_id",
                           (F.col("doc_id") % 10).alias("cluster_id"))
    p = plan(cluster_representatives(docs, clusters))
    assert "Window" not in p, p[:3000]
    # partial (merge/partial markers) aggregate both sides of one
    # cluster-keyed exchange
    assert p.count("Exchange hashpartitioning(cluster_id") == 1, p[:3000]
    assert "CartesianProduct" not in p


def test_rollup_single_expand_aggregate_no_join(spark):
    """Grouping sets must be ONE Expand + partial-aggregated exchange
    — never a union of per-granularity scans (scan count must be 1)
    and never a join."""
    from textract_demo_spark.engine.queries import QUERIES
    p = plan(QUERIES["metrics_rollup_cube"](spark, SF))
    assert "Expand" in p, p[:3000]
    assert "Join" not in p
    assert p.count("Scan parquet") == 1, p[:3000]


def test_pivot_single_aggregate_no_extra_scan(spark):
    """The explicit value list keeps the pivot a single grouped
    aggregate over one scan — no distinct-values subplan, no join,
    and exactly ONE exchange (the .pivot()/pivotfirst spelling would
    add a (group, pivot)-keyed pre-aggregate exchange)."""
    from textract_demo_spark.engine.queries import QUERIES
    p = plan(QUERIES["events_pivot_by_type"](spark, SF))
    assert "Join" not in p
    assert p.count("Scan parquet") == 1, p[:3000]
    assert p.count("Exchange") == 1, p[:3000]


def test_trailing_window_range_frame_single_exchange(spark):
    """The trailing 1h feature is one user_id exchange + one Window
    with a RANGE frame (value-based, not ROWS)."""
    from textract_demo_spark.engine.queries import QUERIES
    p = plan(QUERIES["events_trailing_window"](spark, SF))
    assert "RangeFrame" in p, p[:3000]
    assert "RowFrame" not in p, p[:3000]
    assert p.count("Exchange") == 1, p[:3000]


def test_global_ids_no_single_partition_window(spark):
    """Global row numbering must be the rank-locally/offset-globally
    shape: NO single-partition exchange anywhere (the naive global
    row_number funnels the corpus through one task), the window
    partitioned by the bucket column, offsets joined broadcast."""
    from textract_demo_spark.datapipe.splits import with_global_ids
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    p = plan(with_global_ids(docs, buckets=8))
    assert "Exchange SinglePartition" not in p, p[:3000]
    assert "BroadcastHashJoin" in p, p[:3000]
    assert "Window [row_number" in p and "_gb" in p, p[:3000]


def test_global_ids_boundaries_are_a_sketch(spark, monkeypatch):
    """The bucket-boundary aggregate ``with_global_ids`` runs on the
    driver is one ``approx_percentile`` GK sketch: an exact
    ``Percentile`` buffers every value of the unique order column."""
    import re
    from textract_demo_spark.datapipe.splits import with_global_ids
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    frame_cls = type(docs)
    collect = frame_cls.collect
    plans = []

    def spy(self):
        plans.append(
            self._jdf.queryExecution().optimizedPlan().toString())
        return collect(self)

    monkeypatch.setattr(frame_cls, "collect", spy)
    with_global_ids(docs, buckets=8)
    monkeypatch.undo()
    assert any("approx_percentile" in p for p in plans), plans
    exact = [p for p in plans if re.search(r"(?<!approx_)percentile\(", p)]
    assert not exact, exact[0][:3000]


def test_salted_join_spreads_key_and_salt(spark):
    """The salted join must exchange BOTH sides on (key, _salt) —
    that pair appearing in the hashpartitioning is exactly what
    spreads a hot key over salt reducers — and must not silently
    collapse to a broadcast (no shuffle to defuse) or a cartesian."""
    from textract_demo_spark.datapipe.skew import salted_skew_join
    ev = spark.read.parquet(f"{SF}/events.parquet")
    fact = ev.select("event_id", "user_id")
    dim = ev.groupBy("user_id").agg(F.count("*").alias("n_ev"))
    p = plan(salted_skew_join(fact, dim, on="user_id",
                              unique_col="event_id", salt=8))
    import re
    keys = re.findall(r"Exchange hashpartitioning\(user_id#\d+L?,"
                      r" _salt#\d+", p)
    assert keys, p[:3000]
    assert "BroadcastHashJoin" not in p.split("Exchange")[0], p[:1500]
    assert "CartesianProduct" not in p


def test_unpivot_is_expand_no_extra_exchange(spark):
    """UNPIVOT must plan as Expand over the wide frame — one scan,
    and no exchange beyond the pivot's single grouping exchange
    (never a union of per-column scans)."""
    from textract_demo_spark.engine.queries import QUERIES
    p = plan(QUERIES["events_unpivot_metrics"](spark, SF))
    assert "Expand" in p, p[:3000]
    assert p.count("Scan parquet") == 1, p[:3000]
    assert p.count("Exchange") == 1, p[:3000]


def test_json_props_single_exchange_no_python(spark):
    """VARIANT extraction is JVM-side: no Python eval node, one
    partial-aggregated exchange on the grouping key."""
    from textract_demo_spark.engine.queries import QUERIES
    p = plan(QUERIES["events_json_props"](spark, SF))
    assert "Python" not in p and "Arrow" not in p, p[:3000]
    assert p.count("Exchange") == 1, p[:3000]


def test_stratified_split_assignment_is_narrow_broadcast(spark):
    """The exact stratified split's ASSIGNMENT plan (the returned
    frame) must be a broadcast cut-dim join + narrow case — no
    window, no per-group funnel, no corpus sort; the band ranking
    happened off-plan over band rows only."""
    from textract_demo_spark.datapipe.splits import stratified_exact_split
    docs = (spark.read.parquet(f"{SF}/documents.parquet")
            .select("doc_id", "source"))
    p = plan(stratified_exact_split(docs, accuracy=100))
    assert "Window" not in p, p[:3000]
    assert "BroadcastHashJoin" in p, p[:3000]
    assert "Exchange SinglePartition" not in p
    assert "SortMergeJoin" not in p

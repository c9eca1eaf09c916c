"""Regenerate PLANS.md: the physical plans of the headline queries
with scale commentary — the `.explain`-and-iterate evidence that the
plan shapes asserted in tests/test_plans.py are the shapes actually
produced (single-exchange extraction, broadcast joins, pruned scans,
banded LSH join, the extract job's rebalanced commit input).

Usage: python BENCH/dump_plans.py   (writes /root/repo/PLANS.md)
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF = "/root/testdata/sf0.001"


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def main() -> None:
    """Write PLANS.md, then remove the scratch tables the plans scan."""
    made: list[str] = []

    def mkdtemp(prefix: str) -> str:
        made.append(tempfile.mkdtemp(prefix=prefix))
        return made[-1]

    try:
        write_plans(mkdtemp)
    finally:
        for d in made:
            shutil.rmtree(d, ignore_errors=True)


def write_plans(mkdtemp) -> None:
    from pyspark.sql import functions as F

    from textract_demo_spark.engine.pipeline import (fixtures_to_dfs,
                                                     run_pipeline)
    from textract_demo_spark.engine.queries import QUERIES
    from textract_demo_spark.engine.session import get_spark
    from textract_demo_spark.engine.tables import with_part_key

    spark = get_spark(master="local[4]", app="dump-plans",
                      shuffle_partitions=4)
    dfs = fixtures_to_dfs(spark, n_convs=8)

    sections: list[tuple[str, str, str]] = []

    out = run_pipeline(dfs["transcripts"], dfs["reviews"], salt=4)
    sections.append((
        "Extraction pipeline (scan -> salted repartition -> Arrow extract"
        " with field rules -> broadcast review join)",
        "ONE Exchange (the explicit salted repartition on (conv_id,"
        " pmod(xxhash64(turn_idx), salt)) — spreads a hot conversation"
        " over `salt` tasks); ONE MapInArrow (the only Python stage,"
        " field rules included: no groupBy shuffle, a turn's blocks"
        " never leave their row); the review override is a"
        " BroadcastHashJoin (reviews side is tiny).",
        formatted(out)))

    sections.append((
        "Containment theta join (j1: searchFieldsByKey analog)",
        "Tiny terms dim broadcast + non-equi contains predicate =>"
        " BroadcastNestedLoopJoin — the fact side streams once, no"
        " shuffle, no cartesian.",
        formatted(QUERIES["j1_containment_join"](spark, SF))))

    sections.append((
        "Ownership dim join (j4)",
        "BroadcastHashJoin: the fact stream is never shuffled; the"
        " dimension broadcasts.",
        formatted(QUERIES["j4_broadcast_dim_join"](spark, SF))))

    sections.append((
        "MinHash+LSH near-dup (banded candidate join)",
        "Signatures are per-row narrow expressions (transform/array_min"
        " over shingle xxhash64s); the ONLY shuffle is the band-bucket"
        " exchange; exact-Jaccard verification joins shingles back for"
        " candidate pairs only — never an all-pairs product.",
        formatted(QUERIES["dedup_minhash_lsh"](spark, SF))))

    sections.append((
        "Incremental snapshot dedup (batch vs frozen signature index)",
        "The continuous-ingestion shape: the corpus signature index"
        " (build_minhash_index) is computed once per snapshot; each"
        " batch pays only its own shingle+signature cost plus"
        " broadcast probes. The index side NEVER crosses an exchange"
        " — every join broadcasts a batch-derived frame (band keys,"
        " then batch-bounded candidates) — and the index's two scans"
        " each prune to one array column (minhash for the band probe,"
        " shingle_hashes for the Jaccard verify).",
        formatted(QUERIES["dedup_incremental"](spark, SF))))

    sections.append((
        "Incremental semantic dedup (batch vs frozen IVF snapshot)",
        "The embedding twin of incremental snapshot dedup: batch"
        " vectors assign to FROZEN broadcast centroids (narrow map),"
        " then score only against same-cluster kept vectors — the"
        " kept-vector table streams through one BroadcastHashJoin"
        " whose build side is the batch's (cid, vec) probe; the"
        " snapshot build's corpus aggregate is a per-snapshot cost,"
        " not per batch.",
        formatted(QUERIES["semantic_dedup_incremental"](spark, SF))))

    sections.append((
        "Exact ANN top-k (brute baseline)",
        "Broadcast query vectors x one corpus scan; dot products as"
        " JVM higher-order functions; row_number window takes top-k"
        " per query — the exact-scorer baseline the LSH path is"
        " recall-checked against.",
        formatted(QUERIES["ann_cosine_topk"](spark, SF))))

    sections.append((
        "Exact-substring span dedup (Lee et al. 2021, windowed keys)",
        "No suffix array: every window-token run becomes a 120-bit"
        " (h0, h1) key built INSIDE the row (the Generate emits bare"
        " (id, pos, h0, h1) — token strings never enter an exchange)."
        " Occurrence counting is a window count(*) over ONE exchange"
        " on the key — the groupBy+self-join form would shuffle the"
        " window frame twice. Only surviving (duplicated, i.e. rare)"
        " windows reach the doc_id exchange, where both island window"
        " functions and the span aggregate share the single sort; the"
        " join back to docs recovers char offsets + text for matched"
        " docs only, so offset math is O(doc_len) per matched doc"
        " instead of a cumulative-sum column carried corpus-wide.",
        formatted(QUERIES["dedup_substring_spans"](spark, SF))))

    sections.append((
        "Exact-substring REMOVE step (keep-first corpus rewrite)",
        "The remove half of Lee et al. dedup: occurrence count(*) AND"
        " the global-first row_number run over ONE (h0, h1) exchange"
        " — the key columns are hoisted out of the hk struct because"
        " windowing on struct fields makes each window spec project"
        " its own _w0/_w1 attributes and buy its own Exchange"
        " (observed before the fix; plan-gated now). Removable"
        " survivors (count >= min AND rank > 1) exchange once on"
        " doc_id for the island merge; the excision join back to the"
        " tokenized docs is a broadcast equi join paid only by docs"
        " with removals, and pass-through docs take the normalized"
        " text without touching the rebuild path.",
        formatted(QUERIES["dedup_substring_rewrite"](spark, SF))))

    from textract_demo_spark.datapipe.dedup import _star_round
    star_edges = (spark.range(200)
                  .select(F.col("id").alias("a"),
                          (F.col("id") + 1).alias("b"))
                  .select(F.greatest("a", "b").alias("a"),
                          F.least("a", "b").alias("b")))
    sections.append((
        "Large/small-star contraction round (connected components"
        " at scale)",
        "One star_clusters round over the EDGE set only: two"
        " partial-aggregated groupBy(a) mins and two key-equi joins"
        " back on a — no cartesian, no broadcast-nested-loop, no"
        " Window, nothing proportional to docs x docs. Rounds are"
        " O(log^2 n) on ANY graph shape (label propagation is"
        " O(diameter) and a templated near-dup chain makes diameter"
        " O(n)), each round lazily localCheckpoints so the iterative"
        " plan never grows, and the fixpoint test is an order-free"
        " (count, xor-fold, xor-fold) signature — one action per"
        " round.",
        formatted(_star_round(star_edges))))

    from textract_demo_spark.datapipe.webgraph import (_pr_round,
                                                       canonical_url,
                                                       harvest_links,
                                                       url_domain)
    docs_scan = spark.read.parquet(f"{SF}/documents.parquet")
    sections.append((
        "URL canonicalization (zero-shuffle narrow map)",
        "canonical_url/url_host/url_domain are pure regexp +"
        " higher-order-array JVM expressions over a 2-column pruned"
        " scan — no Exchange, whole-stage codegen. The canonical form"
        " is a deterministic function of the string, so crawl-level"
        " URL dedup downstream is an exact hash-groupBy on this"
        " column (no special operator needed).",
        formatted(docs_scan.select(
            "doc_id",
            canonical_url(F.col("source")).alias("u"),
            url_domain(F.col("source")).alias("d")))))

    pages = spark.createDataFrame(
        [(1, "https://a.org/p", '<a href="/x">y</a>')],
        "doc_id long, url string, html string")
    sections.append((
        "Hyperlink harvesting (one Generate, no join)",
        "One per-row regex pass produces index-aligned (href, anchor)"
        " arrays; a single Generate explodes them; protocol-relative"
        " and root-relative resolution is CASE algebra on the base"
        " URL's parsed parts, which ride the row — so there is NO"
        " join back to the page table and no exchange anywhere.",
        formatted(harvest_links(pages))))

    pr_e = (spark.range(100)
            .select(F.col("id").alias("src"),
                    ((F.col("id") * 7 + 1) % 100).alias("dst")))
    pr_nodes = pr_e.select(F.col("src").alias("node")).distinct()
    pr_ew = pr_e.join(
        pr_e.groupBy("src").agg(F.count("*").alias("outdeg")), "src")
    pr_ranks = pr_nodes.select(
        "node", F.lit(1_000_000).cast("long").alias("rank_micro"))
    sections.append((
        "PageRank power-iteration round (integer fixed-point)",
        "One round = ONE partial-aggregated groupBy(dst) exchange"
        " (the contribution sum combines map-side, defusing hot-sink"
        " in-degree skew) plus key-equi joins against the"
        " once-checkpointed edge+outdeg frame. All arithmetic is"
        " BIGINT micro-units (damping in milli), so the trajectory"
        " is bit-identical across engines and partitionings — the"
        " property that lets the DuckDB oracle replay exact values."
        " Per-round localCheckpoint bounds the iterative lineage.",
        formatted(_pr_round(pr_ew, pr_nodes, pr_ranks, 850))))

    from textract_demo_spark.datapipe.textstats import (
        with_dup_ngram_char_frac, with_top_ngram_char_frac)
    sections.append((
        "Gopher n-gram repetition fractions (zero-shuffle per-row"
        " aggregates)",
        "Top-n-gram char fraction and duplicate-n-gram char COVERAGE"
        " computed as in-row sorted-run lambda aggregates over a"
        " 2-column pruned scan — no explode, no groupBy, no join,"
        " zero exchanges. The driver oracle recomputes the same"
        " values RELATIONALLY in DuckDB (unnest -> group -> window /"
        " having -> distinct coverage join): the relational form is"
        " what a naive Spark implementation would look like, and it"
        " costs two exchanges per n that this formulation never"
        " pays.",
        formatted(with_dup_ngram_char_frac(
            with_top_ngram_char_frac(
                docs_scan.select("doc_id", "text"), 2), 5))))

    from textract_demo_spark.datapipe.sketch import logq_sketch
    sections.append((
        "Log-bucket quantile sketch build (mergeable rollup)",
        "One hash-groupBy whose map-side partial count collapses"
        " every partition's values to <= 64 bucket rows BEFORE the"
        " exchange — shuffle bounded by groups x 64 regardless of"
        " input size. Two sketches merge by summing counts, so"
        " per-partition / per-day sketches roll up without touching"
        " raw data; the exact percentile operator must re-rank raw"
        " rows on every update instead.",
        formatted(logq_sketch(docs_scan, "n_chars"))))

    sections.append((
        "Exact per-source length percentiles (shared group exchange)",
        "Discrete integer-rank percentile: row_number and the group"
        " count share ONE exchange on the source key (the ordered and"
        " unordered window specs reuse the same partitioning), the"
        " q-explode multiplies rows only after ranking, and the rank"
        " filter (q*n+99) div 100 is all-integer so the values are"
        " engine-bit-exact. No SinglePartition anywhere — the global"
        " -sort percentile anti-pattern would show one.",
        formatted(QUERIES["length_percentiles_by_source"](spark, SF))))

    sections.append((
        "Gopher named quality rules (zero-shuffle map)",
        "Rule-per-column quality gate: every statistic is a narrow"
        " JVM expression over the pruned (doc_id, text) scan —"
        " integer cross-multiplied comparisons (1000*x <= r*n), no"
        " division, no UDF, no exchange anywhere; the operator is"
        " partition-count-preserving so it composes into any pipeline"
        " stage for free.",
        formatted(QUERIES["gopher_quality_rules"](spark, SF))))

    sections.append((
        "SimHash banded pair generation (Hamming near-dup scale path)",
        "Fingerprints are per-row (JVM token hashes + Arrow bit-pack);"
        " pairs come from an EQUI hash join on the exact (band, key)"
        " tuple — never a cartesian — and Catalyst pushes the"
        " bit_count(fp_a ^ fp_b) <= k verification into the join"
        " condition itself, so non-pairs die inside the join operator."
        " Recall is total by pigeonhole for Hamming <= bands-1.",
        formatted(QUERIES["dedup_simhash_pairs"](spark, SF))))

    from textract_demo_spark.datapipe.similarity import ivf_centroids
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    sections.append((
        "IVF Lloyd update (centroid refinement)",
        "Seeds are numbered driver-side over the collected n_centroids"
        " rows (bounded at any corpus scale — no global-window"
        " single-partition stage, round-2 nit fixed); the update is"
        " ONE groupBy(cid) with dim scalar avg columns — n corpus rows"
        " shuffle once with map-side partial_avg, instead of the n x d"
        " (cid, dim) rows a posexplode update would shuffle (also"
        " fixed). Means snap to the 2^-16 grid for cross-engine and"
        " partition-layout determinism.",
        formatted(ivf_centroids(emb, n_centroids=4, iters=1))))

    from textract_demo_spark.datapipe.similarity import semantic_dedup
    sections.append((
        "Semantic dedup (SemDeDup-style, within-cluster pairs only)",
        "Pairwise cosine NEVER runs corpus x corpus: the self-join is"
        " an equi-join on the IVF cluster id, so each task scores"
        " |cluster|^2 pairs and the only wide exchange is cid-keyed;"
        " n_centroids bounds cluster size (100k centroids at 10^12"
        " rows), a skewed mega-cluster splits under AQE like any"
        " skewed join key. The drop rule (lower-id neighbor at cos >="
        " threshold) is a distinct + left join — deterministic,"
        " order-free.",
        formatted(semantic_dedup(emb.select("vec_id", "embedding"),
                                 n_centroids=4))))

    from textract_demo_spark.datapipe.textstats import (
        with_unigram_surprisal)
    from textract_demo_spark.datapipe.dedup import contamination_overlap
    from textract_demo_spark.datapipe.splits import (with_hash_sample,
                                                     with_split_assignment)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sections.append((
        "Unigram LM surprisal scoring (CCNet-style perplexity filter)",
        "The vocab table (zipf-bounded by the min_count cutoff:"
        " MB-sized even at 10^12 tokens) and the 1-row total both"
        " BROADCAST, so the exploded token stream joins them with no"
        " shuffle; the only exchange is the per-doc re-aggregation,"
        " whose map-side partial sums collapse each doc's tokens"
        " before the wire (explode preserves locality). Surprisal is"
        " exact integer bits — length(bin(count)) — so no float log"
        " enters the plan at all.",
        formatted(with_unigram_surprisal(docs.select("doc_id", "text")))))

    sections.append((
        "Dataset split + hash-sample assignment",
        "Pure per-row hash of (salt, id): ZERO exchanges — membership"
        " is independent of physical layout, reproducible across runs"
        " and engines, and costs one scan at any corpus size.",
        formatted(with_hash_sample(
            with_split_assignment(docs.select("doc_id")), 0.1))))

    from textract_demo_spark.datapipe.splits import shuffle_shards
    sections.append((
        "Deterministic corpus shuffle + shard layout",
        "The global pre-training shuffle without a global sort: shard"
        " placement and in-shard order come from two independent"
        " keyed hashes, so the ONLY exchange is hashpartitioning on"
        " shard and both window functions (position + exclusive token"
        " prefix sum) share one per-shard local sort. The naive"
        " row_number() OVER (ORDER BY hash) would show here as"
        " Exchange SinglePartition — the plan gate asserts it never"
        " appears.",
        formatted(shuffle_shards(
            docs.select("doc_id", F.size(F.split("text", " "))
                        .alias("n_tokens")),
            n_shards=16, tok_col="n_tokens"))))

    sections.append((
        "Eval-set decontamination (hashed-shingle broadcast probe)",
        "The eval shingle set (small by definition) is hashed, deduped"
        " and BROADCAST; corpus shingles probe it with a broadcast"
        " hash join BEFORE any shuffle, so non-matching shingles die"
        " map-side; the only hashpartitioning exchanges re-collapse"
        " the (small) matched set, and the counts broadcast back onto"
        " the corpus id set.",
        formatted(contamination_overlap(docs.filter("doc_id >= 20"),
                                        docs.filter("doc_id < 20")))))

    from textract_demo_spark.datapipe.lines import c4_line_filter, line_dedup
    sections.append((
        "C4 line hygiene (terminal punctuation / min words / lorem"
        " ipsum / braces)",
        "Per-line cleaning as higher-order array SQL (split -> filter"
        " -> array_join): ZERO exchanges, zero Python — the whole tier"
        " is one narrow projection inside whole-stage codegen, so"
        " cleaning 10^12 docs costs exactly one scan.",
        formatted(c4_line_filter(docs.select("doc_id", "text")))))

    sections.append((
        "Corpus-wide keep-first line dedup (skew-robust, no window)",
        "Boilerplate lines are the hottest keys in a web corpus, so"
        " the global first-occurrence is found by partial-aggregated"
        " min(struct(doc_id, line_idx)) — map-side combine collapses a"
        " 10^9-hot line to one row per map task BEFORE the shuffle —"
        " and losers are marked by a left-anti equi-join on the full"
        " (h0, h1, doc_id, line_idx) quad, uniformly distributed even"
        " for hot lines. A row_number() window over the line hash"
        " would funnel every occurrence of a hot line into one task"
        " (no AQE skew split for windows); the plan gate asserts no"
        " Window node appears. Line TEXT never shuffles — only 28-byte"
        " hash/position rows.",
        formatted(line_dedup(docs.select("doc_id", "text")))))

    from textract_demo_spark.datapipe.dsir import with_dsir_scores
    sections.append((
        "DSIR importance scoring (hashed-ngram bucket models)",
        "Both bucket models collapse to <= B rows via partial-"
        " aggregated groupBy(bucket) (map-side combine: the exchange"
        " carries <= B rows per map task regardless of corpus size),"
        " the delta table probes as a BROADCAST hash join (a"
        " sort-merge join would shuffle every feature occurrence),"
        " and the per-doc score partial-aggregates before its one"
        " doc-key exchange. Corpus TEXT never shuffles — only narrow"
        " (doc_id, bucket) rows move.",
        formatted(with_dsir_scores(
            docs, docs.filter("doc_id % 5 = 0"), num_buckets=64))))

    from textract_demo_spark.datapipe.classifier import \
        with_text_classifier
    sections.append((
        "Trained hashed-ngram text classifier (literal weights)",
        "The frozen logistic weights ride in the plan as a LITERAL"
        " array indexed by bucket (element_at(array(...), bucket+1))"
        " — zero joins, zero broadcast: the whole classifier is one"
        " narrow projection plus ONE partial-aggregated groupBy(doc)."
        " Same lesson as the sign-LSH hyperplanes: a <= few-KB model"
        " belongs in the plan, not in a join.",
        formatted(with_text_classifier(docs))))

    from textract_demo_spark.datapipe.packing import pack_greedy
    from textract_demo_spark.datapipe.pii import redact_pii, with_pii_stats
    from textract_demo_spark.datapipe.textstats import (token_topk,
                                                        with_token_stats)
    sections.append((
        "Per-domain token heavy hitters (top-k)",
        "Occurrences collapse map-side (partial_count before the"
        " exchange: the shuffle carries distinct (group, token) pairs,"
        " not token instances) and the per-group rank runs as"
        " WindowGroupLimit — partial top-k before the group exchange,"
        " never a full sort of the count table.",
        formatted(token_topk(docs, k=10, group_col="source"))))

    sections.append((
        "PII detection + redaction",
        "Pure per-row JVM regex (regexp_extract_all / regexp_replace"
        " builtins, RE2-compatible subset): ZERO exchanges, zero"
        " Python — scrubbing costs one scan at any corpus size.",
        formatted(redact_pii(with_pii_stats(docs)))))

    sections.append((
        "Greedy sequence packing (hash-sharded applyInPandas)",
        "Exactly ONE Exchange (the groupBy(shard) hash partitioning"
        " feeding FlatMapGroupsInPandas); only (id, n_tok) pairs are"
        " shuffled, never text; shard count is the parallelism and"
        " memory knob, and the per-shard greedy scan is O(packs log"
        " rows) via searchsorted on the token cumsum.",
        formatted(pack_greedy(with_token_stats(docs), budget=256,
                              tok_col="n_tokens"))))

    from textract_demo_spark.datapipe.multimodal import (attach_media,
                                                         media_features)
    from textract_demo_spark.engine.learned_gate import \
        with_learned_quality
    sections.append((
        "Trained quality gate (integer-quantized logistic)",
        "The learned gate is ONE codegen'd projection: Catalyst"
        " constant-folds the micro-unit coefficients into the CASE"
        " branches (plan-time literals, not a broadcast coefficient"
        " join), so routing 10^12 turns costs a narrow scan — no"
        " Exchange, no Python.",
        formatted(with_learned_quality(docs))))

    sections.append((
        "Real media decode (stdlib BMP/WAV kernels in mapInPandas)",
        "One Arrow-batched map over a pruned 3-column scan (doc_id,"
        " media bytes, media_type): zero exchanges — feature"
        " extraction parallelism is whatever the scan gives, the"
        " right shape for a 100-TB blob table.",
        formatted(media_features(
            attach_media(docs).withColumn("media_type",
                                          F.lit("image/bmp")),
            strict=False))))

    from textract_demo_spark.datapipe.temporal import (asof_join,
                                                       session_stats)
    ev = spark.read.parquet(f"{SF}/events.parquet")
    errors = (ev.filter(F.col("event_type") == "error")
              .select("user_id", "ts",
                      F.col("event_id").alias("error_id")))
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("user_id", "ts", "event_id"))
    sections.append((
        "As-of join (union-tag + keyed window — Spark has no ASOF"
        " operator)",
        "No join node at all: both sides are tagged and unioned"
        " (narrow), then last(right_payload, ignorenulls) over a"
        " window partitioned by the key picks the latest prior right"
        " row. ONE Exchange on the key + one sort — the same cost as"
        " any keyed window, vs. the broadcast-nested-loop/cartesian"
        " a theta-join formulation degenerates to at scale. Filters"
        " push to both scans.",
        formatted(asof_join(errors, clicks, on="user_id", ts="ts",
                            right_cols=["event_id"],
                            tiebreak="event_id"))))

    sections.append((
        "Gap sessionization + per-session rollup",
        "lag + running boundary sum share one window spec, and the"
        " (user, session_idx) aggregate REUSES the window's exchange"
        " (HashPartitioning(user_id) satisfies the grouping"
        " clustering): ONE shuffle end-to-end, partial aggregation"
        " map-side.",
        formatted(session_stats(ev, key="user_id", ts="ts"))))

    from textract_demo_spark.datapipe.bloom import (bloom_probe,
                                                    build_bloom_bitmap)
    bitmap = build_bloom_bitmap(docs.limit(64).select("text"),
                                m_bits=1 << 16, k=5)
    sections.append((
        "Bloom membership probe (broadcast bitmap, vectorized bit"
        " test)",
        "Zero Exchange: base hashes are projected as real columns"
        " BEFORE the position-array lambda (Catalyst cannot fold"
        " hash calls through lambda variables — projecting first"
        " keeps md5/xxhash64 evaluated once per row, not k times),"
        " then one Arrow-batched numpy probe against the broadcast"
        " bitmap. The build side (not shown) is likewise"
        " shuffle-free: per-partition bitmap partials OR-merged.",
        formatted(bloom_probe(docs.select("doc_id", "text"), bitmap,
                              m_bits=1 << 16, k=5))))

    from textract_demo_spark.sources.warc import build_warc, read_warc
    wtmp = mkdtemp("plans_warc_")
    with open(os.path.join(wtmp, "a.warc"), "wb") as fh:
        fh.write(build_warc([{"warc_type": "resource",
                              "payload": b"x"}]))
    sections.append((
        "WARC ingestion (binaryFile scan + mapInPandas record"
        " splitter)",
        "File-granular parallelism — the natural unit for crawl"
        " corpora (WARC members are not block-splittable once"
        " gzipped; Common Crawl ships ~1 GB files by the million)."
        " The splitter is a narrow ArrowEvalPython/mapInPandas over"
        " (path, content): zero Exchange between scan and extraction.",
        formatted(read_warc(spark, f"{wtmp}/*.warc"))))

    from textract_demo_spark.datapipe.search import (bm25_topk,
                                                     build_inverted_index,
                                                     phrase_search)
    from textract_demo_spark.datapipe.sketch import (cms_build, cms_probe,
                                                     hll_registers)
    from textract_demo_spark.datapipe.textstats import tfidf_top_terms
    docs_tbl = spark.read.parquet(f"{SF}/documents.parquet")

    sections.append((
        "HyperLogLog register build (mergeable distinct-count sketch)",
        "ONE Exchange whose map-side partial_max has already collapsed"
        " every within-partition value: the shuffle carries at most"
        " (groups x 2^p) register rows no matter how many raw rows"
        " feed it, and two register tables merge under the same max —"
        " per-partition / per-day sketches roll up without touching"
        " raw data.",
        formatted(hll_registers(docs_tbl, value_col="text",
                                group_cols=("source",), p=8))))

    keys = docs_tbl.select(F.col("source").alias("k"))
    cms = cms_build(keys, "k", depth=3, width=64)
    sections.append((
        "Count-min sketch probe (broadcast counter table)",
        "The fixed depth x width counter table broadcasts; the probe"
        " is a BroadcastHashJoin plus a partial-aggregated per-key"
        " min — the sketch is never shuffled and the probe stream"
        " never expands beyond depth rows per key.",
        formatted(cms_probe(cms, keys.distinct(), "k",
                            depth=3, width=64))))

    tfidf = tfidf_top_terms(docs_tbl, k=3)
    sections.append((
        "TF-IDF characteristic terms (broadcast vocabulary, integer"
        " IDF)",
        "One occurrence-collapsing (doc, token) exchange; the"
        " document-frequency table IS the vocabulary (zipf-bounded,"
        " MB-sized at any corpus scale) and returns as a"
        " BroadcastHashJoin; N arrives as a broadcast one-row"
        " aggregate; the per-doc rank runs as WindowGroupLimit so"
        " each task forwards at most k rows per doc.",
        formatted(tfidf)))
    tfidf._cached_banded.unpersist()

    idx = build_inverted_index(docs_tbl)
    sections.append((
        "Inverted index build (positional postings)",
        "posexplode then ONE groupBy((token, doc_id)) exchange with"
        " map-side partial count/collect: occurrences collapse"
        " in-partition and hot tokens spread over tasks because"
        " doc_id is in the grouping key — no single-token hotspot.",
        formatted(idx)))

    sections.append((
        "BM25 top-k retrieval (integer fixed-point)",
        "Document length rides the token explode (no corpus-sized"
        " self-join); document frequency and the corpus N/avgdl"
        " aggregate come back broadcast; the rank window executes as"
        " a partial top-k (TakeOrderedAndProject / WindowGroupLimit)"
        " — every task forwards at most k rows.",
        formatted(bm25_topk(docs_tbl, "dup merge join", k=10))))

    sections.append((
        "Phrase search answered from the index",
        "Candidate starts come from the phrase's tokens only (the IN"
        " filter pushes into the index scan), offset-aligned via a"
        " broadcast (i, token) phrase map; ONE groupBy((doc, start))"
        " checks all offsets are present.",
        formatted(phrase_search(idx, "hash join"))))

    sections.append((
        "Robots frontier gating (broadcast rule dim, per-row fold)",
        "The rules dim collapses to one (host, rule-array) row per"
        " host and BROADCASTS; precedence (longest prefix, allow wins"
        " ties, default-allow) is an aggregate fold over the matched"
        " rules INSIDE the row — the frontier side is scanned once"
        " and never re-partitioned (the only shuffle exchange is the"
        " tiny rules groupBy(host)).",
        formatted(QUERIES["frontier_robots_filter"](spark, SF))))

    sections.append((
        "HITS round (hubs/authorities, integer fixed-point)",
        "Both raw-sum exchanges partial-aggregate map-side against the"
        " once-checkpointed edge frame; the rescale denominators are"
        " one-row max aggregates broadcast back (BroadcastNestedLoop"
        " of a single row — never a cartesian of data frames);"
        " node-keyed equi joins SMJ here and AQE broadcasts small"
        " sides at runtime; per-round localCheckpoint bounds the"
        " iterative lineage.",
        formatted(QUERIES["hits_topk"](spark, SF))))

    sections.append((
        "Hybrid retrieval fusion (RRF over BM25 + cosine arms)",
        "Both arms keep their own scale shapes (BM25's broadcast df"
        " table, the dense arm's broadcast query vectors); the corpus"
        " restriction to documents-with-embedding is a broadcast semi"
        " join; the fusion union + groupBy(id) exchanges at most 2*k'"
        " rows and the fused rank is a partial top-k. No"
        " SortMergeJoin anywhere.",
        formatted(QUERIES["search_hybrid_rrf"](spark, SF))))

    sections.append((
        "Tool-transition mining (agent-trajectory bigrams)",
        "Per-conversation lead window = ONE conv-keyed exchange (never"
        " a global window over the corpus); the pair-count groupBy"
        " partial-aggregates map-side into ~|tools|^2 rows; the final"
        " top-k executes as TakeOrderedAndProject.",
        formatted(QUERIES["transcript_tool_bigrams"](spark, SF))))

    sections.append((
        "Conversation integrity stats (shared conv_id exchange)",
        "The lag window (gaps, role runs) and the per-conv groupBy"
        " SHARE one hash(conv_id) exchange — EnsureRequirements sees"
        " the window's output partitioning already satisfies the"
        " aggregate, so the whole per-conversation pass is scan ->"
        " shuffle(conv_id) -> narrow. (The query's turn synthesis from"
        " events adds its own user_id window exchange ahead of it;"
        " the operator itself is the one-exchange segment, gated on a"
        " pre-shaped turns input in tests/test_plans.py.)",
        formatted(QUERIES["transcript_conv_stats"](spark, SF))))

    from textract_demo_spark.datapipe.similarity import (pq_codebooks,
                                                         pq_topk)
    cb = pq_codebooks(emb, m=8, ksub=16, iters=0)
    qv = (emb.filter(F.col("vec_id") < 3)
          .select(F.col("vec_id").alias("qid"),
                  F.col("embedding").alias("qv")))
    sections.append((
        "PQ ANN: compressed-domain ADC scan + exact refine",
        "Codebooks are plan-time LITERALS (KB-sized), so encode is a"
        " zero-join zero-exchange projection and the ADC scan is"
        " broadcast-queries over the codes frame with WindowGroupLimit"
        " top-N; the refine arm joins only queries x N candidates back"
        " to true vectors. Every distance is BIGINT on the 2^-10 grid"
        " — the approximate operator carries an exact oracle.",
        formatted(pq_topk(emb, qv, k=5, cb=cb, refine=20))))

    from textract_demo_spark.datapipe.textstats import (
        with_bigram_surprisal)
    sections.append((
        "Bigram LM scoring (Stupid Backoff, integer bits)",
        "Adjacent-pair arrays build IN-ROW (no positional self-join of"
        " an exploded token table); the bigram/unigram model tables"
        " join back BROADCAST under the zipf min_count cutoff"
        " (singleton bigrams never leave the map-side partial count);"
        " the only row exchange is the per-doc aggregate. All"
        " arithmetic is integer bits via length(bin(.)) - 1.",
        formatted(with_bigram_surprisal(docs.select("doc_id", "text")))))

    from textract_demo_spark.datapipe.splits import group_sample_bottomk
    sections.append((
        "Bottom-k consistent group sampling (exactly-k strata)",
        "rank-by-hash executes as WindowGroupLimit: every task"
        " forwards at most k rows per group BEFORE the one group-keyed"
        " exchange — never rank-everything-then-filter. Membership is"
        " a pure function of (salt, id): deterministic across runs,"
        " engines and partitionings, at-most-one-member churn per"
        " corpus insert.",
        formatted(group_sample_bottomk(
            docs.select("doc_id", "source"), k=5))))

    from textract_demo_spark.engine.tables import IcebergLike
    tdir = mkdtemp("plans_tbl_")
    tbl = IcebergLike(tdir)
    tbl.write(with_part_key(
        spark.range(0, 50).select(
            F.concat(F.lit("c"), F.col("id").cast("string"))
            .alias("conv_id"), F.col("id").alias("doc_id")), 4))
    tbl.delete_rows(spark.createDataFrame([(3,)], "doc_id long"),
                    ["doc_id"])
    sections.append((
        "Equality-delete read (merge-on-read, sequence-scoped)",
        "Tombstones apply at scan time as a broadcast ANTI join —"
        " delete sets are dimension-sized next to the data, so the"
        " corpus never re-shuffles for its deletes; the (partition,"
        " file) -> sequence dim (also broadcast) scopes each delete to"
        " files committed at-or-before it, Iceberg's per-data-file"
        " rule. materialize_deletes folds tombstones in when their"
        " count warrants a rewrite.",
        formatted(tbl.read(spark))))

    from textract_demo_spark.datapipe.dq import validate_constraints
    sections.append((
        "Declarative DQ validation (one-pass constraint report)",
        "Every constraint is a conditional SUM in ONE global"
        " aggregate: map-side partials collapse each partition to a"
        " row, the exact-unique check rides the same scan via Expand,"
        " and N constraints never become N scans (single Scan node,"
        " no Join — plan-asserted in tests).",
        formatted(validate_constraints(docs, [
            {"kind": "not_null", "col": "text"},
            {"kind": "unique", "col": "doc_id"},
            {"kind": "range", "col": "n_chars", "lo": 0,
             "hi": 10 ** 6},
            {"kind": "row_count", "lo": 1},
        ]))))

    from textract_demo_spark.engine.tables import zorder_part_key
    sections.append((
        "Z-order clustering key assignment (plan-time-literal fold)",
        "Quantile-grid and Z-split boundaries travel as plan-time"
        " literals (KBs), the Morton interleave is pure JVM bit ops,"
        " and partition assignment is a narrow per-row fold — no"
        " exchange, no join, no window in the assignment plan; the"
        " two approxQuantile passes are single-aggregate mergeable"
        " sketches. Downstream, manifest min/max come out tight in"
        " EVERY clustered dimension, so read_where prunes on any of"
        " them.",
        formatted(zorder_part_key(docs, ["doc_id", "n_chars"],
                                  8, rel_err=0.0))))

    from textract_demo_spark.datapipe.similarity import ivfpq_topk
    sections.append((
        "IVF-PQ composed ANN (bucket probe + ADC + refine)",
        "Coarse assignment AND PQ encode are one narrow"
        " literal-codebook projection (zero joins); query probes"
        " explode to (qid, cid) and broadcast into an EQUI hash join"
        " on cid — the corpus never shuffles, never cartesians; the"
        " ADC rank is WindowGroupLimit and the refine arm touches"
        " queries x N candidate vectors only.",
        formatted(ivfpq_topk(emb, qv, k=5, n_centroids=4, n_probe=2,
                             iters=0, refine=20))))

    from textract_demo_spark.datapipe.sketch import kmv_set_ops, kmv_sketch
    kmv = kmv_sketch(docs, "text", ("source",), k=16)
    sections.append((
        "Theta/KMV sketch set operations (distinct exchange +"
        " broadcast algebra)",
        "The sketch build is ONE distinct exchange (map-side partial"
        " collapses duplicate hashes) and the bottom-k rank runs as"
        " WindowGroupLimit — map partitions forward at most k rows"
        " per group into the rank exchange. The pairwise set algebra"
        " (theta = min of k-th minimums, union/intersection survivor"
        " counts) runs entirely on k-row-per-group frames: every join"
        " is a BroadcastHashJoin, the corpus is never touched again.",
        formatted(kmv_set_ops(kmv, k=16, group_col="source"))))

    from textract_demo_spark.engine.partition_spec import spec_part_key
    hp_keyed, _hp_spec = spec_part_key(
        dfs["transcripts"], [("days", "ts"), ("bucket", "conv_id", 4)])
    sections.append((
        "Hidden-partitioning key assignment (Iceberg partition-spec"
        " transforms)",
        "The table's declared spec (days(ts), bucket(4, conv_id))"
        " derives the mixed-radix int partition key as a pure narrow"
        " JVM projection — datediff/xxhash64/pmod fold, zero"
        " exchange, zero join. Readers filtering on the RAW source"
        " columns prune partitions from key arithmetic alone (range"
        " predicates bind the ordered digit, equality predicates bind"
        " bucket digits via one 1-row hash probe) with no column"
        " stats collected.",
        formatted(hp_keyed)))

    pdir = mkdtemp("plans_posdel_")
    ptbl = IcebergLike(pdir)
    ptbl.write(with_part_key(
        spark.range(0, 50).select(
            F.concat(F.lit("c"), F.col("id").cast("string"))
            .alias("conv_id"), F.col("id").alias("doc_id")), 4))
    ptbl.delete_where(spark, F.col("doc_id") % 7 == 0)
    sections.append((
        "Position-delete read (merge-on-read by (file, row ordinal))",
        "The second Iceberg-v2 delete flavor: the delete file stores"
        " (partition, file, row ordinal) coordinates — never the"
        " purged values — and reads re-apply it as a broadcast ANTI"
        " join against the scan's _metadata.row_index. Tombstones are"
        " dimension-sized next to the data, so the corpus never"
        " re-shuffles for its deletes; later-appended files are"
        " untouchable by construction (they cannot be named by"
        " position in pre-existing files).",
        formatted(ptbl.read(spark))))

    from textract_demo_spark.datapipe.dedup import cluster_representatives
    docs2 = docs.select("doc_id", "text")
    clu = docs2.select("doc_id",
                       (F.col("doc_id") % 10).alias("cluster_id"))
    sections.append((
        "Cluster representative selection (keep-one-per-cluster)",
        "The corpus-shrinking step after near-dup cluster formation:"
        " max_by over an orderable (len, -id) struct folds the"
        " longest-text-wins/min-id-tiebreak pick into the SAME"
        " partial/final aggregate that counts members — no Window"
        " node, one cluster-keyed exchange, and map-side partials"
        " forward one candidate row per cluster per task. A"
        " row_number spelling cannot take the WindowGroupLimit"
        " shortcut here (the rank feeds an aggregate, not a rk<=k"
        " filter) and would push every member row through the"
        " exchange.",
        formatted(cluster_representatives(docs2, clu))))

    from textract_demo_spark.datapipe.splits import with_curriculum_stage
    sections.append((
        "Curriculum staging (broadcast exact quartiles, no NTILE)",
        "Difficulty-stage assignment for curriculum schedules: the"
        " per-group stage boundaries are ONE tiny exact-percentile"
        " aggregate (k doubles per group) joined back broadcast, so"
        " the corpus itself never shuffles — an NTILE window would"
        " funnel it through a handful of window partitions. Stage"
        " compare and the within-stage shuffle key (salted hash of"
        " the id) are pure narrow whole-stage-codegen expressions,"
        " reproducible across runs, engines, and partitionings.",
        formatted(with_curriculum_stage(docs))))

    sections.append((
        "Grouping-set metrics (ROLLUP via Expand)",
        "The multi-granularity corpus report — per (source, lang),"
        " per source, grand total — as ONE scan + Expand + partial-"
        "aggregated exchange: Expand replicates each row once per"
        " grouping set BEFORE the partial aggregate collapses them"
        " map-side, so N granularities never become N scans or a"
        " union; grouping_id() disambiguates subtotal rows from real"
        " NULL groups.",
        formatted(QUERIES["metrics_rollup_cube"](spark, SF))))

    sections.append((
        "Trailing event-time RANGE-frame window",
        "'Activity in the last hour as of each event': a value-based"
        " RANGE frame over epoch micros (ties share a frame, gaps"
        " shrink it — a ROWS frame gets both wrong) evaluated in one"
        " sorted pass per key after a single exchange on the"
        " high-cardinality user key.",
        formatted(QUERIES["events_trailing_window"](spark, SF))))

    from textract_demo_spark.datapipe.skew import salted_skew_join
    ev_f = spark.read.parquet(f"{SF}/events.parquet")
    sections.append((
        "Salt-replication skew join (hot key x non-broadcastable dim)",
        "One hot join key lands on ONE reducer and the stage runs at"
        " straggler speed; AQE can split oversized sort-merge"
        " partitions but not a single hot KEY GROUP. The explicit"
        " fix: the fact side salts deterministically from a unique"
        " column (never rand() — replay-safe), the dim side"
        " replicates salt-fold via explode(sequence), and the join"
        " keys on (key, _salt) — visible in the plan as BOTH"
        " exchanges hashpartitioning on the pair, spreading the hot"
        " key over salt reducers at a bounded salt x |dim| cost.",
        formatted(salted_skew_join(
            ev_f.select("event_id", "user_id"),
            ev_f.groupBy("user_id").agg(F.count("*").alias("n_ev")),
            on="user_id", unique_col="event_id", salt=8))))

    from textract_demo_spark.datapipe.splits import stratified_exact_split
    sections.append((
        "Exact stratified split assignment (broadcast cut dim)",
        "The ASSIGNMENT plan of the order-statistic split: the exact"
        " (hash, id) cut points — selected off-plan by GK-sketch band"
        " ranking over ~n_g/accuracy rows per group — broadcast back"
        " as a G x (splits-1) dim, and membership is a narrow"
        " comparison chain. No window, no per-group funnel, no corpus"
        " sort: the expensive part (per-group order statistics) never"
        " touched more than the band.",
        formatted(stratified_exact_split(
            docs.select("doc_id", "source"), accuracy=100))))

    from textract_demo_spark.datapipe.splits import with_global_ids
    sections.append((
        "Dense global row numbering (rank locally, offset globally)",
        "The 'number every document' step, and the textbook case"
        " where the naive row_number() OVER (ORDER BY k) funnels the"
        " corpus through ONE window partition. Here: exact-percentile"
        " bucket bounds (one tiny aggregate, deterministic — no"
        " RangePartitioner sampling), per-bucket counts prefix-summed"
        " driver-side and joined back broadcast, then row_number"
        " partitioned BY BUCKET — no Exchange SinglePartition"
        " anywhere, sorts parallelize across buckets, and the ids"
        " equal the global rank wherever the boundaries fall.",
        formatted(with_global_ids(docs.select("doc_id"), buckets=8))))

    from jobs.run_extract import commit_frame
    with tempfile.TemporaryDirectory() as tmp, commit_frame(
            dfs["transcripts"], IcebergLike(tmp), 8, 4) as (staged, _):
        sections.append((
            "Extract job commit input (REBALANCE on the table partition"
            " key before the kernel)",
            "The frame jobs/run_extract.py passes to IcebergLike.write:"
            " ONE Exchange, RebalancePartitions on part_key over the raw"
            " turns, below the MapInArrow. The kernel is a narrow map and"
            " part_key is recomputed from conv_id after it, so each write"
            " task still holds whole buckets (staging file count tracks"
            " bucket count instead of tasks x buckets), the extracted"
            " block arrays never cross an exchange, and AQE splits"
            " oversized buckets by input bytes, the kernel's cost.",
            formatted(staged)))
    md = ["# PLANS — physical-plan evidence for the headline operators",
          "",
          "Regenerated by `python BENCH/dump_plans.py` (sf0.001 inputs,"
          " local[4]). The shapes below are LOCKED by"
          " `tests/test_plans.py`; this file is the human-readable"
          " evidence trail. Commentary first, then the"
          " `explain(\"formatted\")` dump.", ""]
    for title, why, plan in sections:
        md += [f"## {title}", "", why, "", "```", plan.rstrip(), "```", ""]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as fh:
        fh.write("\n".join(md))
    print(os.path.join(ROOT, "PLANS.md"))
    spark.stop()


if __name__ == "__main__":
    main()

"""Deterministic dataset splitting, sampling and domain-mix
resampling for training-data pipelines: hash-based train/val/test
assignment, hash-threshold (Bernoulli-style) sampling, and per-domain
quota down-sampling toward a target mix.

These are beyond-reference training-pipeline operators (like the rest
of ``datapipe``): membership must be a pure function of a stable key,
never of arrival order, partitioning or a random seed held in driver
state — the property that makes a 100 TB split reproducible and
incrementally extensible.

Scale notes (the design constraints at 10^12 docs):
- split/sample assignment is a narrow per-row expression — zero
  shuffles, zero state, embarrassingly parallel; whole-stage codegen
  applies. Mix resampling adds only a domain-count-sized aggregate
  and a broadcast threshold dim (see its docstring).
- assignment is reproducible across runs, engines and repartitions
  because the bucket is a pure hash of (salt, id): growing the corpus
  never reassigns an existing id, and downstream incremental jobs can
  re-derive membership without a membership table.
- the hash family is parameterized like the dedup family
  (``dedup.hash64``): xxhash64 default, ``md5`` mode for cross-engine
  (DuckDB-oracleable) determinism.
- corpus shuffle (``shuffle_shards``): the global pre-training shuffle
  is ONE exchange on the shard key + per-shard local sorts — never a
  global row_number, which funnels the corpus through one partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import hash64

SPLIT_BUCKETS = 10_000


def _bucket_expr(id_col: str, salt: str, mode: str) -> str:
    """Bucket in [0, SPLIT_BUCKETS) from a pure hash of (salt, id).
    md5 mode yields a positive 60-bit value, so ``pmod`` here equals
    plain ``%`` in DuckDB."""
    keyed = f"concat('{salt}', '-', cast({id_col} AS STRING))"
    return f"pmod({hash64(keyed, mode)}, {SPLIT_BUCKETS})"


def with_split_assignment(docs: DataFrame,
                          ratios: dict[str, float] | None = None,
                          salt: str = "v1",
                          id_col: str = "doc_id",
                          hash_mode: str = "xxhash64") -> DataFrame:
    """Assign every row to exactly one named split by hash bucket.

    ``ratios`` maps split name -> fraction (must sum to ~1); the
    bucket space [0, 10000) is carved into contiguous ranges in dict
    order, so the assignment is total and disjoint by construction.
    Changing ``salt`` re-rolls the whole assignment; changing ratios
    only moves rows across the adjusted boundaries.
    """
    ratios = ratios or {"train": 0.8, "val": 0.1, "test": 0.1}
    docs = docs.withColumn(
        "split_bucket",
        F.expr(_bucket_expr(id_col, salt, hash_mode)).cast("long"))
    case, lo = "CASE", 0
    names = list(ratios)
    for name in names[:-1]:
        lo += int(round(ratios[name] * SPLIT_BUCKETS))
        case += f" WHEN split_bucket < {lo} THEN '{name}'"
    case += f" ELSE '{names[-1]}' END"
    return docs.withColumn("split", F.expr(case))


def with_mix_resample(docs: DataFrame, targets: dict[str, int],
                      salt: str = "mx", id_col: str = "doc_id",
                      source_col: str = "source",
                      hash_mode: str = "xxhash64") -> DataFrame:
    """Domain-mix resampling: mark the deterministic down-sample that
    reshapes the corpus toward integer target weights per source
    domain (the domain-weighting step of corpus curation).

    The keep probability for domain s is ``ratio_s / max_ratio`` where
    ``ratio_s = targets[s] / count_s`` — the most under-represented
    domain keeps everything and every other domain down-samples toward
    the target mix (down-sampling only; no row duplication). A domain
    absent from ``targets`` has weight 0: its rows come back with
    ``kept = false``.

    Determinism: per-domain keep thresholds are computed in INTEGER
    arithmetic — ``thr_s = (10000 * w_s * c_m) div (c_s * w_m)`` — so
    there is no floating-point boundary to disagree across engines,
    and membership is the same pure (salt, id) hash bucket as
    ``with_split_assignment``.

    Scale shape: one groupBy(source) aggregate whose output is
    domain-count-sized, a TakeOrdered(1) for the max-ratio domain (no
    global window), a broadcast join of the tiny threshold dim back
    onto the corpus, and a per-row hash — corpus rows are never
    shuffled.
    """
    if not targets:
        raise ValueError("targets must name at least one domain")
    w_case = "CASE " + " ".join(
        f"WHEN {source_col} = '{s}' THEN {int(w)}"
        for s, w in targets.items()) + " ELSE 0 END"
    counts = (docs.groupBy(source_col)
              .agg(F.count("*").alias("_c"))
              .withColumn("_w", F.expr(w_case)))
    top = (counts.filter(F.col("_w") > 0)
           .orderBy((F.col("_w") / F.col("_c")).desc(), source_col)
           .limit(1)
           .select(F.col("_w").alias("_wm"), F.col("_c").alias("_cm")))
    thr = (counts.crossJoin(F.broadcast(top))
           .select(source_col,
                   F.expr("(10000 * _w * _cm) div (_c * _wm)")
                    .cast("long").alias("keep_thr")))
    return (docs.join(F.broadcast(thr), source_col)
            .withColumn("kept", F.expr(
                f"{_bucket_expr(id_col, salt, hash_mode)} < keep_thr")))


def temperature_mix_targets(docs: DataFrame,
                            source_col: str = "source") -> DataFrame:
    """Temperature-based domain mixing targets at T = 2 (exponent
    alpha = 1/2, the common up-sample-the-tail temperature: weight
    w_s = sqrt(n_s), so large domains are dampened and small ones
    up-weighted relative to natural proportions). The output feeds
    ``with_mix_resample`` as its integer ``targets``.

    target_s = (N * w_s) div sum(w) where N is the corpus size —
    all-integer apart from sqrt itself, which is IEEE
    correctly-rounded in every engine (unlike pow, which is why the
    exponent is fixed at 1/2 rather than a free temperature knob:
    n^alpha via pow would not be cross-engine bit-stable).

    Scale shape: one groupBy(source) whose output is
    domain-count-sized, then a broadcast of the 1-row total — corpus
    rows shuffle once into domain counts and never again.

    Output: (source, n_docs, weight, target), one row per domain.
    """
    counts = (docs.groupBy(source_col)
              .agg(F.count("*").cast("long").alias("n_docs"))
              .withColumn("weight", F.expr(
                  "cast(floor(sqrt(cast(n_docs AS DOUBLE))) AS BIGINT)")))
    totals = counts.agg(F.sum("n_docs").alias("_n"),
                        F.sum("weight").alias("_tw"))
    return (counts.crossJoin(F.broadcast(totals))
            .select(source_col, "n_docs", "weight",
                    F.expr("(_n * weight) div _tw").cast("long")
                     .alias("target")))


def apply_temperature_mix(docs: DataFrame, salt: str = "tmx",
                          id_col: str = "doc_id",
                          source_col: str = "source",
                          hash_mode: str = "xxhash64") -> DataFrame:
    """Compose ``temperature_mix_targets`` with ``with_mix_resample``:
    collect the per-domain targets (bounded by domain cardinality —
    a deliberate, tiny driver-side step, same as any threshold dim)
    and mark the kept rows."""
    targets = {r[source_col]: int(r["target"])
               for r in temperature_mix_targets(docs, source_col)
               .collect() if r["target"] > 0}
    return with_mix_resample(docs, targets, salt=salt, id_col=id_col,
                             source_col=source_col, hash_mode=hash_mode)


def with_hash_sample(docs: DataFrame, fraction: float,
                     salt: str = "s1", id_col: str = "doc_id",
                     flag_col: str = "sampled",
                     hash_mode: str = "xxhash64") -> DataFrame:
    """Deterministic Bernoulli-style sample marker: ``flag_col`` is
    true for the ~``fraction`` of rows whose (salt, id) hash bucket
    falls below the threshold. Independent salts give independent
    samples; the same salt gives a nested sample (fraction 0.01 is a
    subset of fraction 0.1)."""
    thr = int(round(fraction * SPLIT_BUCKETS))
    return docs.withColumn(
        flag_col,
        F.expr(f"{_bucket_expr(id_col, salt, hash_mode)} < {thr}"))


def shuffle_shards(docs: DataFrame, n_shards: int = 1024,
                   salt: str = "sh1", id_col: str = "doc_id",
                   tok_col: str | None = None,
                   hash_mode: str = "xxhash64") -> DataFrame:
    """Deterministic corpus-wide shuffle + shard layout — the "global
    shuffle before training" step, WITHOUT a global sort: reading the
    output (shard ASC, shard_pos ASC) yields a pseudo-random
    permutation of the corpus that is a pure function of (salt, id).

    Two independent keyed hashes decouple placement from order: shard
    = hash_s(id) mod n_shards; within-shard position = rank by
    (hash_o(id), id). A naive global ``row_number() OVER (ORDER BY
    hash)`` funnels 10^12 rows through ONE partition; here the only
    exchange is hashpartitioning on ``shard`` and each shard sorts
    locally (ExternalSort spills if a shard outgrows memory), so the
    plan scales with shard count, not corpus size. Same determinism
    contract as the split/sample family: re-runs, engines and input
    partitionings all agree, and growing the corpus never moves an
    existing doc to another shard (its position only shifts by
    insertions hashing into the same shard).

    With ``tok_col``, ``tok_offset`` is the exclusive prefix sum of
    tokens within the shard — the byte/token offset a shard writer
    needs to lay docs head-to-tail — computed by the same in-shard
    sort (no extra shuffle).
    """
    from pyspark.sql import Window as W
    h_s = hash64(f"concat('{salt}', '-s-', cast({id_col} AS STRING))",
                 hash_mode)
    h_o = hash64(f"concat('{salt}', '-o-', cast({id_col} AS STRING))",
                 hash_mode)
    out = (docs
           .withColumn("shard",
                       F.expr(f"pmod({h_s}, {int(n_shards)})")
                        .cast("long"))
           .withColumn("_ho", F.expr(h_o)))
    in_shard = W.partitionBy("shard").orderBy("_ho", id_col)
    out = out.withColumn(
        "shard_pos", (F.row_number().over(in_shard) - 1).cast("long"))
    if tok_col is not None:
        out = out.withColumn(
            "tok_offset",
            F.coalesce(F.sum(tok_col).over(
                in_shard.rowsBetween(W.unboundedPreceding, -1)),
                F.lit(0)).cast("long"))
    return out.drop("_ho")


def group_sample_bottomk(docs: DataFrame, k: int,
                         group_cols: tuple[str, ...] = ("source",),
                         salt: str = "bk1", id_col: str = "doc_id",
                         hash_mode: str = "xxhash64") -> DataFrame:
    """EXACTLY-k uniform sample without replacement per group: keep
    the k rows with the smallest hash of (salt, id) — "bottom-k /
    consistent sampling". The fraction-based ``with_hash_sample``
    gives each group a BINOMIAL size (fine corpus-wide, wrong when a
    stratum needs exactly k — eval-set carving, per-domain caps,
    inspection pulls); bottom-k pins the size while staying a pure
    function of the id:

    - deterministic across runs, engines, partitionings;
    - CONSISTENT under corpus growth: a new row enters the sample
      only by evicting the current max-hash member — expected k/n
      churn per insert, never a reshuffle of the whole sample (the
      property Broder's min-wise/bottom-k sketches are built on);
    - samples of two disjoint corpora MERGE: bottom-k of the union =
      bottom-k of the concatenated samples (asserted in tests).

    Scale shape: rank-within-group executes as WindowGroupLimit —
    every task forwards at most k rows per group before the ONE
    group-keyed exchange; ties cannot occur (the hash input embeds
    the unique id, and the id itself tie-breaks defensively).

    Output: input columns + ``sample_rank`` (1-based by hash order —
    a stable sub-sampling handle: rank <= j is the bottom-j sample).
    """
    from pyspark.sql import Window
    keyed = f"concat('{salt}', '-', cast({id_col} AS STRING))"
    h = hash64(keyed, hash_mode)
    w = (Window.partitionBy(*[F.col(c) for c in group_cols])
         .orderBy(F.expr(h).asc(), F.col(id_col).asc()))
    return (docs
            .withColumn("sample_rank",
                        F.row_number().over(w).cast("long"))
            .filter(F.col("sample_rank") <= k))


def with_curriculum_stage(docs: DataFrame,
                          quantiles: tuple[float, ...] = (0.25, 0.5,
                                                          0.75),
                          score_col: str = "n_chars",
                          by: str = "source",
                          salt: str = "cur1",
                          id_col: str = "doc_id",
                          hash_mode: str = "xxhash64") -> DataFrame:
    """Curriculum ordering for pre-training: bucket each doc into a
    difficulty STAGE by exact per-group score quantiles (stage 1 =
    easiest quartile ... stage len(quantiles)+1 = hardest), plus a
    deterministic ``shuffle_key`` for within-stage ordering — the
    "sort by difficulty, shuffle within band" recipe of curriculum /
    sequence-length-warmup schedules.

    Scale shape — deliberately NOT an NTILE window: a global (or
    low-cardinality-partition) NTILE funnels the corpus through a
    handful of window partitions. Instead:

    - stage boundaries are ONE tiny exact-percentile aggregate per
      group (k doubles per group, k = len(quantiles)), broadcast back
      — the corpus itself never shuffles;
    - stage assignment and shuffle_key are then pure narrow
      expressions (whole-stage codegen), so the op costs a broadcast
      join over a group-count-sized dim, exactly like mix_resample;
    - within-stage order is a pure hash of (salt, id) — reproducible
      across runs/engines/partitionings, consistent under growth
      (same properties as ``with_split_assignment``), never a
      row_number over arrival order.

    Cross-engine exactness: Spark ``percentile`` and DuckDB
    ``quantile_cont`` both use the standard (n-1)*q linear
    interpolation, and interpolated values over integer scores are
    binary-exact for the dyadic fractions the default quantiles
    produce, so stage assignment is engine-identical (oracled by the
    ``curriculum_order`` driver query).

    Output: input columns + ``stage`` (1-based BIGINT) +
    ``shuffle_key`` (hex string).
    """
    qs = list(quantiles)
    bounds = docs.groupBy(F.col(by).alias("_by")).agg(*[
        F.expr(f"percentile({score_col}, {q})").alias(f"_q{i}")
        for i, q in enumerate(qs)])
    # null-safe, as GROUP BY treats NULL: a null group takes the
    # stages of its own bounds instead of dropping out of the join
    out = (docs
           .join(F.broadcast(bounds), F.col(by).eqNullSafe(F.col("_by")))
           .select(by, *[c for c in docs.columns if c != by],
                   *[f"_q{i}" for i in range(len(qs))]))
    stage = F.lit(1).cast("long")
    for i in range(len(qs)):
        stage = stage + F.when(
            F.col(score_col) > F.col(f"_q{i}"), 1).otherwise(0)
    keyed = f"concat('{salt}', '-', cast({id_col} AS STRING))"
    return (out
            .withColumn("stage", stage.cast("long"))
            .withColumn("shuffle_key",
                        F.md5(F.expr(keyed)) if hash_mode == "md5"
                        else F.format_string(
                            "%016x", F.xxhash64(F.expr(keyed))))
            .drop(*[f"_q{i}" for i in range(len(qs))]))


def with_global_ids(df: DataFrame, order_col: str = "doc_id",
                    buckets: int = 32,
                    id_col: str = "global_id") -> DataFrame:
    """Dense global sequence ``0..n-1`` in the total order of
    ``order_col`` (must be unique) — the "number every document"
    step behind shard-offset manifests, sample-index files and
    id-compaction, and the textbook case where the naive spelling
    (``row_number() OVER (ORDER BY k)``) funnels the ENTIRE corpus
    through one window partition.

    Scale shape — rank locally, offset globally:

    1. bucket boundaries = ``buckets-1`` quantiles of ``order_col``
       from ONE ``approx_percentile`` GK sketch (bounded memory — an
       exact ``percentile`` would buffer every value of the unique
       column); assignment is then a narrow sum-of-compares against
       those driver-side literals, so every row of one call sees the
       same buckets (no RangePartitioner sampling);
    2. per-bucket counts = one ``buckets``-row aggregate collected to
       the driver (driver-small by construction) and prefix-summed
       into offsets — broadcast back as a dim join;
    3. within-bucket rank = ``row_number`` partitioned BY BUCKET, so
       the sort parallelizes across buckets; ``id = offset + rank-1``.

    The ids are EXACTLY the global rank regardless of where the
    boundaries fall (counts are measured from the actual assignment,
    and every row in bucket b orders after all of b-1), so boundary
    skew costs balance, never correctness. ``buckets`` is the
    parallelism/memory knob: size it so n/buckets rows sort in one
    task (e.g. 4096 buckets at 10^12 rows -> 244M rows/task; raise it
    with the corpus).

    Output: input columns + ``id_col`` (BIGINT, 0-based).
    """
    if buckets < 1:
        raise ValueError("buckets must be >= 1")
    from pyspark.sql import Window
    qs = [i / buckets for i in range(1, buckets)]
    bexpr = F.lit(0).cast("long")
    if qs:
        bounds = df.agg(F.expr(
            f"approx_percentile({order_col},"
            f" array({','.join(map(str, qs))}))")).first()[0]
        for b in bounds or []:
            bexpr = bexpr + F.when(F.col(order_col) > F.lit(b),
                                   1).otherwise(0)
    bucketed = df.withColumn("_gb", bexpr.cast("long"))
    counts = {r["_gb"]: r["cnt"] for r in
              bucketed.groupBy("_gb")
              .agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = [], 0
    for b in sorted(counts):
        offsets.append((b, acc))
        acc += counts[b]
    spark = df.sparkSession
    off_df = spark.createDataFrame(offsets, "_gb long, _goff long")
    w = Window.partitionBy("_gb").orderBy(F.col(order_col).asc())
    return (bucketed
            .join(F.broadcast(off_df), "_gb")
            .withColumn(id_col,
                        (F.col("_goff") + F.row_number().over(w)
                         - F.lit(1)).cast("long"))
            .drop("_gb", "_goff"))


def stratified_exact_split(docs: DataFrame,
                           weights=(("train", 8), ("val", 1),
                                    ("test", 1)),
                           by: str = "source",
                           id_col: str = "doc_id",
                           salt: str = "sx1",
                           hash_mode: str = "xxhash64",
                           accuracy: int = 10_000) -> DataFrame:
    """EXACT stratified split: every group's split sizes are
    floor(cum_weight * n_g / total_weight) at each boundary (integer
    weights, integer arithmetic — engine-replayable) — not the
    hash-threshold split's
    binomial wobble (``with_split_assignment`` is O(sqrt(n_g)) off per
    group, which matters for small strata and for contractual
    train/val sizes).

    The naive exact spelling ranks every row per group
    (``row_number() OVER (PARTITION BY g ORDER BY h)``) — one task
    per group, the NTILE funnel. The scale shape here is
    **order-statistic selection by band correction**:

    1. one aggregate per group computes n_g AND GK-sketch quantiles
       of the row hashes at cum_frac +/- 3/accuracy — the sketch's
       rank error is n_g/accuracy, so the TRUE K-th smallest hash
       provably lies between the two returned values (both are actual
       data values);
    2. one pass counts rows strictly below each band and extracts the
       band rows (~6 n_g/accuracy per boundary — ``accuracy`` is the
       band-size knob, scale it with the corpus);
    3. only the BAND ranks (window over band rows alone), and the row
       whose global rank equals K becomes the boundary: an exact
       (hash, id) cut point, ties broken totally;
    4. assignment is then a pure narrow comparison against the
       broadcast G x (splits-1) boundary dim — the corpus never
       sorts, never funnels.

    Rows order by (hash, id), so the assignment is deterministic,
    engine-replayable in md5 mode, and independent of partitioning.
    Raises if the sketch guarantee is ever violated (no silent
    misassignment), and ``ValueError`` on a null ``by`` value (a null
    group cannot be stratified, and a join would drop its rows). The
    driver-built dims take ``by``'s and ``id_col``'s types from
    ``docs.schema``. Output: input columns + ``split``.
    """
    names = [n for n, _ in weights]
    wvals = [w for _, w in weights]
    if len(names) < 2 or any(w <= 0 for w in wvals):
        raise ValueError("weights must name >= 2 splits, all positive")
    total_w = sum(wvals)
    cum_w = []
    acc = 0
    for w in wvals[:-1]:
        acc += w
        cum_w.append(acc)
    # split sizes from INTEGER arithmetic (cum_w * n // total_w):
    # floats here would be a cross-engine determinism hazard (the
    # oracle must reproduce every K exactly); the sketch probe
    # fractions below are approximate by design, so floats are fine
    # THERE
    cums = [w / total_w for w in cum_w]
    eps = 4.0 / accuracy
    LOW, HIGH = -(2 ** 63), 2 ** 63 - 1
    keyed = f"concat('{salt}', '-', cast({id_col} AS STRING))"
    h = F.expr(hash64(keyed, hash_mode))
    d = docs.withColumn("_h", h)

    # pass 1: per-group counts + band value-bounds from ONE aggregate
    lo_fr = [max(0.0, q - eps) for q in cums]
    hi_fr = [min(1.0, q + eps) for q in cums]
    stats = (d.groupBy(by)
             .agg(F.count("*").alias("_n"),
                  F.expr(f"approx_percentile(_h, array({','.join(map(str, lo_fr + hi_fr))}), {accuracy})")
                  .alias("_qs"))
             .collect())
    m = len(cums)
    binfo = {}  # group -> (n_g, [K_i], [lo_i], [hi_i])
    for r in stats:
        if r[by] is None:
            raise ValueError(
                f"stratified_exact_split: {r['_n']} rows have a null"
                f" {by!r}; fill or filter them first")
        n_g = r["_n"]
        ks = [cw * n_g // total_w for cw in cum_w]
        if n_g < accuracy:
            # tiny group: the sketch's +/-1-rank convention slop is
            # material at this size, and "the whole group" is already
            # a bounded band (< accuracy rows) — rank it all
            lo = [LOW] * m
            hi = [HIGH] * m
        else:
            # large group: rank slop = sketch error (n_g/accuracy)
            # + convention (+/-1 <= n_g/accuracy here), both inside
            # the 4/accuracy probe margin
            lo = [r["_qs"][i] for i in range(m)]
            hi = [r["_qs"][m + i] for i in range(m)]
        binfo[r[by]] = (n_g, ks, lo, hi)

    # pass 2+3: band rank only; below-counts ride the same aggregate.
    # The band frame is built with per-group literal bounds (the dim
    # is G x m, broadcast by construction).
    spark = docs.sparkSession

    def dim(rows, **fields):
        """Driver-built dim keyed by ``by`` in its input type."""
        return spark.createDataFrame(rows, T.StructType(
            [T.StructField(by, docs.schema[by].dataType),
             T.StructField("_bi", T.IntegerType())]
            + [T.StructField(n, t) for n, t in fields.items()]))

    long_t = T.LongType()
    bdim = dim([(g, i, binfo[g][1][i], binfo[g][2][i], binfo[g][3][i])
                for g in binfo for i in range(m)],
               _k=long_t, _lo=long_t, _hi=long_t)
    from pyspark.sql import Window
    banded = (d.select(by, id_col, "_h")
              .join(F.broadcast(bdim), by)
              .withColumn("_below",
                          F.when(F.col("_h") < F.col("_lo"), 1)
                           .otherwise(0)))
    below = (banded.groupBy(by, "_bi")
             .agg(F.sum("_below").cast("long").alias("_nb"),
                  F.first("_k").alias("_k")).collect())
    nb = {(r[by], r["_bi"]): r["_nb"] for r in below}
    band = banded.filter((F.col("_h") >= F.col("_lo"))
                         & (F.col("_h") <= F.col("_hi")))
    w = (Window.partitionBy(by, "_bi")
         .orderBy(F.col("_h").asc(), F.col(id_col).asc()))
    ranked = band.withColumn("_rk", F.row_number().over(w))
    # boundary row: global rank == K  <=>  band rank == K - below
    need = dim([(g, i, binfo[g][1][i] - nb[(g, i)]) for g in binfo
                for i in range(m) if 0 < binfo[g][1][i] < binfo[g][0]],
               _need=long_t)
    cut_rows = (ranked.join(F.broadcast(need), [by, "_bi"])
                .filter(F.col("_rk") == F.col("_need"))
                .select(by, "_bi", "_h", id_col).collect())
    cuts = {(r[by], r["_bi"]): (r["_h"], r[id_col]) for r in cut_rows}
    for g in binfo:
        n_g, ks = binfo[g][0], binfo[g][1]
        for i in range(m):
            if 0 < ks[i] < n_g and (g, i) not in cuts:
                raise RuntimeError(
                    f"sketch rank guarantee violated for group {g!r}"
                    f" boundary {i} — raise accuracy")

    # pass 4 (lazy): narrow assignment against the broadcast cut dim.
    # K == 0 -> nothing at-or-below (cut below every hash, no id);
    # K == n_g -> everything at-or-below (null cut).
    cut_dim_rows = []
    for g in binfo:
        n_g, ks = binfo[g][0], binfo[g][1]
        for i in range(m):
            if ks[i] == 0:
                ch, ci = LOW, None
            elif ks[i] == n_g:
                ch, ci = None, None
            else:
                ch, ci = cuts[(g, i)]
            cut_dim_rows.append((g, i, ch, ci))
    cdim = dim(cut_dim_rows, _ch=long_t,
               _ci=docs.schema[id_col].dataType)
    wide = cdim.groupBy(by).pivot("_bi", list(range(m))).agg(
        F.first("_ch").alias("ch"), F.first("_ci").alias("ci"))
    out = d.join(F.broadcast(wide), by)
    expr = F.lit(names[-1])
    for i in range(m - 1, -1, -1):
        ch, ci = F.col(f"{i}_ch"), F.col(f"{i}_ci")
        at_or_below = ch.isNull() | (F.col("_h") < ch) | (
            (F.col("_h") == ch) & (F.col(id_col) <= ci))
        expr = F.when(at_or_below, names[i]).otherwise(expr)
    drop = ["_h"] + [c for c in wide.columns if c != by]
    return out.withColumn("split", expr).drop(*drop)

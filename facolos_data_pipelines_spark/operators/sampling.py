"""Dataset sampling / splitting for training-data pipelines.

Three tools with different determinism contracts:

- :func:`hash_split` — train/val/test assignment from a hash of the row
  id. PORTABLE determinism: md5-derived bucket, so the same row lands
  in the same split in any engine, any run, any cluster size — the
  property training pipelines actually need (re-runs must not leak val
  rows into train). Narrow per-row work, zero shuffle.
- :func:`sample_per_group` — keep k rows per group, chosen by md5-rank.
  Deterministic and portable like hash_split; the per-group window
  shuffles once on the group key.
- :func:`stratified_sample` — thin wrapper over Spark's ``sampleBy``
  (per-stratum Bernoulli). Deterministic only within Spark for a fixed
  seed and partitioning; use for exploratory downsampling, not for
  split assignment.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame

_HASH_DENOM = float(1 << 32)


def _salted_md5(id_col: str, salt: str):
    """md5(salt ':' id) — THE portability contract both split and
    sample share with their external-oracle twins; change it in one
    place only."""
    return F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))


def _hash_fraction(id_col: str, salt: str):
    """Uniform [0,1) fraction from the first 8 hex digits of
    md5(salt ':' id) — 32 bits, reproducible in any engine with md5."""
    h = _salted_md5(id_col, salt)
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") / F.lit(_HASH_DENOM)


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    splits: dict[str, float] | None = None,
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split by hashed id.

    ``splits`` maps name -> weight (must sum to ~1); boundaries are
    cumulative weights over the [0,1) hash fraction, assigned in the
    dict's iteration order. Changing ``salt`` re-deals the assignment;
    keeping it fixed makes the split stable across re-runs and engines
    (md5 is the contract, like the portable dedup families).
    """
    splits = splits or {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(splits.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split weights must sum to 1 (got {total})")
    frac = _hash_fraction(id_col, salt)
    expr = None
    cumulative = 0.0
    names = list(splits)
    for name in names[:-1]:
        cumulative += splits[name]
        cond = frac < F.lit(cumulative)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn(out_col, expr)


def sample_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Keep the k rows per group with the smallest md5(salt ':' id) —
    a deterministic, portable stand-in for per-group reservoir
    sampling (uniform because md5 is uniform over ids). One shuffle on
    the group key; ties cannot occur (distinct ids hash distinctly
    modulo md5 collisions)."""
    h = _salted_md5(id_col, salt)
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum Bernoulli sample (Spark ``sampleBy``). Spark-internal
    determinism only (fixed seed + partitioning) — use hash_split /
    sample_per_group when the selection must be reproducible outside
    Spark."""
    return df.sampleBy(strata_col, fractions, seed)


def filter_by_score_quantile(
    df: DataFrame,
    score_col: str,
    q: float = 0.75,
    approx: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """Keep rows whose ``score_col`` is at or above the corpus's q-th
    quantile — the standard "top-X% by quality score" curation filter.

    Scale path (``approx=True``, default): ``percentile_approx`` — a
    mergeable one-pass KLL-style sketch, constant memory per partition,
    the only sane option at 100 TB. Exact path (``approx=False``):
    ``percentile`` (interpolated), which materializes the value
    multiset on the final aggregate — reserve it for bounded frames and
    cross-engine oracle checks (DuckDB ``quantile_cont`` shares the
    interpolation, proven by the column_profile parity query).

    Either way the threshold is a 1-row aggregate broadcast back over
    the corpus — the data is scanned twice but never shuffled wide
    (agg is partial+final; the join is a broadcast of one row).
    """
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"quantile must be in [0,1], got {q}")
    if "_thr" in df.columns:
        raise ValueError(
            "filter_by_score_quantile: input already has a '_thr' column "
            "(internal threshold name); rename it first"
        )
    fn = (
        F.percentile_approx(score_col, q, accuracy)
        if approx
        else F.percentile(score_col, q)
    )
    thr = df.agg(fn.alias("_thr"))
    return (
        df.join(F.broadcast(thr))
        .filter(F.col(score_col) >= F.col("_thr"))
        .drop("_thr")
    )


def curriculum_order(
    df: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    num_buckets: int = 10,
    approx: bool = False,
    salt: str = "curriculum",
    accuracy: int = 10000,
) -> DataFrame:
    """Curriculum ordering for training: bin the corpus into
    ``num_buckets`` difficulty tiers by exact score quantiles and give
    every row a deterministic position — ascending ``bucket`` (0 =
    easiest), hash-shuffled ``order_key`` within the bucket. Consuming
    the output sorted by (bucket, order_key) replays easy-to-hard with
    i.i.d. order inside each tier, and the schedule is reproducible
    run-to-run and engine-to-engine (order_key is the md5 fraction
    shared with hash_split — THE portability contract).

    The scale story is the point: a naive global
    ``row_number() OVER (ORDER BY score)`` funnels 100 TB through ONE
    window partition. Here the only full-data cost is a 1-row quantile
    aggregate broadcast back over the corpus (two scans, zero wide
    shuffles — same shape as filter_by_score_quantile); the bucket
    assignment is a narrow codegen comparison against B-1 boundary
    literals. Writers that need physically ordered shards follow with
    ``repartitionByRange(num_buckets, "bucket", "order_key")`` +
    ``sortWithinPartitions`` — Spark's range exchange samples
    boundaries, so files come out globally ordered without any
    single-reducer sort. ``approx=True`` swaps the exact interpolated
    percentile for the mergeable KLL sketch at 100 TB; ties on a
    boundary fall to the LOWER bucket in either engine (strict ``>``
    against each boundary).
    """
    if num_buckets < 2:
        raise ValueError("curriculum_order: num_buckets must be >= 2")
    qs = [i / num_buckets for i in range(1, num_buckets)]
    fn = (
        F.percentile_approx(score_col, qs, accuracy)
        if approx
        else F.percentile(score_col, qs)
    )
    bounds = df.agg(fn.alias("_bs"))
    bucket = F.aggregate(
        F.col("_bs"),
        F.lit(0),
        lambda acc, b: acc + F.when(F.col(score_col) > b, 1).otherwise(0),
    )
    return (
        df.join(F.broadcast(bounds))
        .select(
            "*",
            bucket.cast("int").alias("bucket"),
            F.round(_hash_fraction(id_col, salt) + 1e-12, 8).alias("order_key"),
        )
        .drop("_bs")
    )


def mix_to_weights(
    df: DataFrame,
    group_col: str,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Downsample a multi-source corpus to target mixture proportions
    (domain/language mixing for pretraining: "50% en, 20% es, ...").

    The largest total consistent with the targets is
    ``T = min_s(count_s / w_s)``; each group then keeps a
    ``min(1, T * w_s / count_s)`` fraction of its rows, selected by the
    portable md5 id-fraction (the ``hash_split`` contract) — so the
    kept set is deterministic, engine-reproducible, and stable under
    re-runs (a doc never flips groups between runs). Counts are
    hash-approximate (binomial around the target), which is what
    mixture sampling needs; exact-k per group is ``sample_per_group``.

    Cost shape: per-group counts are one map-side-combined aggregation
    that reduces the corpus to at most |weights| rows, which are
    COLLECTED — bounded by the size of the ``weights`` dict the caller
    already holds on the driver, so this is symmetric with the input,
    not a corpus-sized collect. T, the absent-group guard, and the
    per-group thresholds are then plain Python over that tiny list,
    and the thresholds travel back as one broadcast frame (never
    ``isin``/``create_map`` literals, which would bloat the plan at
    high weight cardinality). Two jobs total — the counts aggregation
    and the filtered corpus scan — at any scale. (An earlier in-plan
    variant checkpointed the counts frame to dodge re-running the
    aggregation per consumer; that cost a third job plus checkpoint
    I/O and was measured 3.5x slower at bench scale for zero
    scale benefit.) Rows whose group has no weight are dropped.
    Raises if a weighted group is absent (T would be 0 and the whole
    output silently empty — loud beats empty), listing up to 10
    examples.
    """
    if not weights:
        raise ValueError("mix_to_weights: weights must be non-empty")
    if any(w <= 0 for w in weights.values()):
        raise ValueError("mix_to_weights: weights must be positive")
    clash = {"_wg", "_w", "_cnt", "_t", "_g", "_thr"} & set(df.columns)
    if clash:
        raise ValueError(
            f"mix_to_weights: input columns {sorted(clash)} collide with "
            "internal working columns; rename them first"
        )
    total = sum(weights.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"mix weights must sum to 1 (got {total})")

    spark = df.sparkSession
    # the lookup keys take the group column's own type, so the joins
    # below compare like with like
    group_type = df.schema[group_col].dataType
    wdf = F.broadcast(
        local_frame(
            spark,
            [(g, float(w)) for g, w in weights.items()],
            T.StructType(
                [T.StructField("_wg", group_type), T.StructField("_w", T.DoubleType())]
            ),
        )
    )
    counts = {
        r["_g"]: r["_cnt"]
        for r in (
            df.join(wdf, df[group_col] == F.col("_wg"))
            .groupBy(F.col(group_col).alias("_g"))
            .agg(F.count("*").cast("double").alias("_cnt"))
            .collect()
        )
    }
    missing = sorted(g for g in weights if g not in counts)
    if missing:
        more = f" (+{len(missing) - 10} more)" if len(missing) > 10 else ""
        raise ValueError(
            f"mix_to_weights: no rows for {len(missing)} weighted group(s), "
            f"e.g. {missing[:10]}{more}; remove them from weights or fix "
            "the input"
        )
    t = min(counts[g] / w for g, w in weights.items())
    thresholds = F.broadcast(
        local_frame(
            spark,
            [(g, min(1.0, t * w / counts[g])) for g, w in weights.items()],
            T.StructType(
                [T.StructField("_g", group_type), T.StructField("_thr", T.DoubleType())]
            ),
        )
    )
    frac = _hash_fraction(id_col, salt)
    return (
        df.join(thresholds, df[group_col] == F.col("_g"))
        .filter(frac < F.col("_thr"))
        .drop("_g", "_thr")
    )


def temperature_mix(
    df: DataFrame,
    group_col: str,
    temperature: float = 0.7,
    id_col: str = "doc_id",
    salt: str = "tmix",
) -> DataFrame:
    """Temperature-scaled mixture sampling: derive the target weights
    FROM the corpus itself as ``w_g ∝ count_g^temperature`` and
    downsample to them — the standard multilingual/multi-domain recipe
    (temperature 1 keeps natural proportions, 0 equalizes groups,
    the usual 0.6-0.8 boosts the tail without drowning the head).

    Composes :func:`mix_to_weights`'s machinery with the weights
    computed IN-PLAN instead of passed in: per-group counts (one
    map-side-combined aggregation), the pow-sum normalizer and the
    binding scale ``T = min_g(count_g / w_g)`` as 1-row broadcasts,
    per-group keep fractions ``min(1, T * w_g / count_g)`` broadcast
    back over the corpus, rows kept by the portable md5 id-fraction
    (the ``hash_split`` contract — deterministic and
    engine-reproducible). The keep fraction is rounded to 8 decimals
    before the comparison so a libm pow() ulp cannot flip a row
    between engines. One corpus scan + tiny-agg passes; no driver
    collect, no group-cardinality assumptions.
    """
    if temperature < 0:
        raise ValueError("temperature_mix: temperature must be >= 0")
    clash = {"_cnt", "_pw", "_zt", "_t", "_g", "_thr"} & set(df.columns)
    if clash:
        raise ValueError(
            f"temperature_mix: input columns {sorted(clash)} collide with "
            "internal working columns; rename them first"
        )
    counts = (
        df.filter(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(F.count("*").cast("double").alias("_cnt"))
        .withColumn("_pw", F.pow(F.col("_cnt"), F.lit(float(temperature))))
    )
    z = counts.agg(F.sum("_pw").alias("_zt"))
    weighted = counts.join(F.broadcast(z)).select(
        group_col, "_cnt", (F.col("_pw") / F.col("_zt")).alias("_w")
    )
    t_total = weighted.agg(F.min(F.col("_cnt") / F.col("_w")).alias("_t"))
    thresholds = weighted.join(F.broadcast(t_total)).select(
        F.col(group_col).alias("_g"),
        F.round(
            F.least(F.lit(1.0), F.col("_t") * F.col("_w") / F.col("_cnt")) + 1e-12, 8
        ).alias("_thr"),
    )
    frac = _hash_fraction(id_col, salt)
    return (
        df.join(F.broadcast(thresholds), df[group_col] == F.col("_g"))
        .filter(frac < F.col("_thr"))
        .drop("_g", "_thr")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis-Spirakis A-Res): keep the k rows with the largest
    ``u^(1/w)`` where u is the portable md5 id-fraction — rows are
    drawn with probability proportional to ``weight_col``, yet the
    selection is reproducible across runs, engines, and cluster sizes
    (the hash_split determinism contract, weighted).

    The sampling key is computed per row (one narrow pass) and the
    selection is ``orderBy(key desc).limit(k)`` — TakeOrderedAndProject,
    a per-partition k-heap with only k rows per partition reaching the
    driver; no global sort, no shuffle of the corpus. The standard way
    to draw a quality-weighted training subset at 100 TB. Rows with
    NULL, zero, or negative weights are excluded (log/power undefined);
    u in (0, 1] uses (bucket + 1) / 2^32 so ln(u) is finite.
    """
    if k <= 0:
        raise ValueError("weighted_sample: k must be positive")
    if "_wkey" in df.columns:
        raise ValueError(
            "weighted_sample: input already has a '_wkey' column (internal "
            "priority name); rename it first"
        )
    h = _salted_md5(id_col, salt)
    bucket = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    u = (bucket + 1) / F.lit(_HASH_DENOM)  # (0, 1] -> ln(u) finite
    w = F.col(weight_col).cast("double")
    key = F.exp(F.log(u) / w)  # u^(1/w), monotone in the E-S priority
    return (
        df.filter(w > 0)
        .withColumn("_wkey", key)
        .orderBy(F.col("_wkey").desc(), F.col(id_col).asc())
        .limit(k)
        .drop("_wkey")
    )


def token_budget_sample(
    df: DataFrame,
    budgets: dict[str, float],
    source_col: str = "source",
    token_col: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "budget",
    prefilter_margin: float | None = None,
) -> DataFrame:
    """Deterministic per-source TOKEN-BUDGET selection: deal each
    source's docs into md5-fraction order and keep the shortest prefix
    whose token count reaches that source's budget (the doc that
    crosses the boundary is kept, so the budget is met, never
    undershot while supply lasts). This is how a training mixture is
    cut to an exact token recipe — `mix_to_weights`/`temperature_mix`
    choose PROPORTIONS by row, this enforces ABSOLUTE token counts.

    Sources absent from ``budgets`` are dropped. Token counts come
    from ``token_col`` if given, else the whitespace count of
    ``text_col`` (the `pack_documents` contract). Selection is a
    running sum over (md5 fraction, id) per source — reproducible
    across runs, engines, and cluster sizes (the hash_split
    determinism contract).

    Scale: ONE shuffle, partitioned by source; the window's partition
    is a source, so a giant source makes a hot partition. For that
    case ``prefilter_margin`` (e.g. 2.0) adds a cheap first pass —
    per-source token totals (a broadcast-size aggregate), then only
    rows with fraction <= margin * budget/total enter the window, so
    the sequential scan touches ~margin * budget worth of docs instead
    of the whole source. The margin covers sampling variance in how
    much token mass lands below the cutoff; 2x is ample for any
    source with >~100 docs (token mass below fraction f concentrates
    sharply around f * total). Both phases are deterministic, so the
    prefiltered plan selects the SAME rows as the exact one whenever
    the margin holds (unit-tested).
    """
    if not budgets:
        raise ValueError("token_budget_sample: budgets must be non-empty")
    if any(v <= 0 for v in budgets.values()):
        raise ValueError("token_budget_sample: budgets must be positive")
    reserved = {"_tok", "_frac", "_budget", "_cum_before", "_tot"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"token_budget_sample: input columns {sorted(clash)} collide with "
            "internal names; rename them first"
        )
    from .text import token_count_whitespace

    tokens = (
        F.col(token_col) if token_col else token_count_whitespace(text_col)
    ).cast("long")
    budget_map = F.create_map(
        *[F.lit(x) for kv in budgets.items() for x in kv]
    )
    base = (
        df.withColumn("_tok", tokens)
        .withColumn("_frac", _hash_fraction(id_col, salt))
        .withColumn("_budget", budget_map[F.col(source_col)].cast("double"))
        .filter(F.col("_budget").isNotNull())
    )
    if prefilter_margin is not None:
        if prefilter_margin < 1.0:
            raise ValueError("token_budget_sample: prefilter_margin must be >= 1")
        totals = base.groupBy(source_col).agg(F.sum("_tok").alias("_tot"))
        base = (
            base.join(F.broadcast(totals), source_col)
            .filter(
                F.col("_frac")
                <= F.least(
                    F.lit(1.0),
                    F.lit(prefilter_margin) * F.col("_budget") / F.col("_tot"),
                )
            )
            .drop("_tot")
        )
    w = (
        Window.partitionBy(source_col)
        .orderBy("_frac", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        base.withColumn("_cum_before", F.coalesce(F.sum("_tok").over(w), F.lit(0)))
        .filter(F.col("_cum_before") < F.col("_budget"))
        .withColumnRenamed("_tok", "n_tokens")
        .drop("_frac", "_budget", "_cum_before")
    )


def split_leakage_check(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    splits: dict[str, float] | None = None,
    salt: str = "split",
    train_split: str = "train",
    portable_hash: bool = False,
) -> DataFrame:
    """Train/eval leakage gate: after a :func:`hash_split` assignment,
    find every held-out document whose normalized content hash also
    appears in the training split (an exact-duplicate straddling the
    split boundary — the leakage that makes eval numbers lie; run a
    content-level dedup BEFORE splitting and this returns empty).

    Returns one row per leaking held-out document:
    (id, split, train_dup_id, n_train_dups) where ``train_dup_id`` is
    the smallest colliding train id (deterministic witness) and
    ``n_train_dups`` the collision count.

    Plan: split assignment and the content hash are narrow codegen
    (md5/xxhash64 over the normalized word join — the fingerprint
    operators' normalization, so formatting noise does not hide
    leaks); the only wide op is one equi-join on the hash between the
    eval slice and the train side's hash aggregate — at 100 TB both
    sides carry (hash, id) only, and the train side pre-aggregates to
    one row per distinct hash before the join. ``portable_hash=True``
    switches xxhash64 -> md5 hex for cross-engine-checkable output
    (4x wider shuffle keys; keep the default in production).
    """
    from .dedup import normalized_words

    hash_fn = F.md5 if portable_hash else F.xxhash64
    normalized = F.array_join(normalized_words(F.col(text_col)), " ")
    assigned = hash_split(df, id_col, splits, salt).select(
        F.col(id_col), F.col("split"), hash_fn(normalized).alias("_h")
    )
    train = (
        assigned.filter(F.col("split") == train_split)
        .groupBy("_h")
        .agg(
            F.min(id_col).alias("train_dup_id"),
            F.count("*").cast("long").alias("n_train_dups"),
        )
    )
    held_out = assigned.filter(F.col("split") != train_split)
    return held_out.join(train, "_h").select(
        id_col, "split", "train_dup_id", "n_train_dups"
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    splits: dict[str, float] | None = None,
    salt: str = "split",
    out_col: str = "split",
    pair_cols: tuple[str, str] = ("id_a", "id_b"),
    keep_group: bool = False,
) -> DataFrame:
    """Near-dup-aware train/val/test assignment: every member of a
    near-duplicate component lands in the SAME split, so eval can
    never see a near-copy of a training document.

    :func:`split_leakage_check` DETECTS straddling duplicates after
    the fact; this PREVENTS them by construction: the split key is the
    duplicate-component label (min reachable id via
    dedup.connected_components over ``pairs`` — any certified pair
    source: MinHash-LSH, SimHash, n-gram Jaccard, embedding-LSH), with
    docs appearing in no pair keyed by their own id. The label is then
    hashed with the SAME md5 contract as :func:`hash_split`, so the
    assignment is deterministic across runs and engines and expected
    split fractions hold at component granularity (clusters are
    indivisible — with heavy boilerplate, measure realized fractions
    and rebalance weights if needed).

    100 TB shape: the component closure is the dedup family's
    size-dispatched CC (driver union-find under the pair threshold,
    distributed O(log diameter) min-label rounds above); the label
    join back to the corpus is id-width; the split expression is pure
    codegen. One wide join beyond the pair search itself.
    """
    from .dedup import connected_components

    comp = connected_components(
        pairs.select(F.col(pair_cols[0]).alias("id_a"),
                     F.col(pair_cols[1]).alias("id_b"))
    ).select(
        F.col("node").alias(id_col), F.col("component").alias("_leak_comp")
    )
    group = F.coalesce(F.col("_leak_comp"), F.col(id_col)).alias("_leak_group")
    assigned = hash_split(
        df.join(comp, id_col, "left").withColumn("_leak_group", group),
        id_col="_leak_group",
        splits=splits,
        salt=salt,
        out_col=out_col,
    ).drop("_leak_comp")
    if keep_group:
        return assigned
    return assigned.drop("_leak_group")


def dsir_logratio_weights(
    raw: DataFrame,
    target: "DataFrame | None" = None,
    n: int = 2,
    num_buckets: int = 8192,
    id_col: str = "doc_id",
    text_col: str = "text",
    smoothing: float = 1.0,
    salt: str = "dsir",
    round_digits: int = 4,
    target_filter: "Column | None" = None,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw-corpus
    document by the log-likelihood ratio of its hashed word-n-gram
    features under bag-of-ngrams models fit on the target domain vs the
    raw corpus — high scores mean "distributed like the target". Pair
    with :func:`dsir_resample` for the paper's Gumbel top-k selection.

    Features: word n-grams (same tokenizer/shingle contract as the
    dedup/text family, multiplicity kept) hashed into ``num_buckets``
    buckets via the 32-bit md5 contract (portable across engines, like
    hash_split). Both corpora reduce to bucket histograms; probabilities
    are Laplace-smoothed, p[b] = (c[b]+a) / (total+a*B); a document's
    weight is sum over its gram occurrences of ln(p_target/p_raw),
    rounded for cross-engine summation-order parity. Docs with no grams
    score 0.0 (no evidence = neutral weight, n_feats = 0).

    100 TB shape: the raw corpus is scanned exactly TWICE (once into
    its B-key histogram, once to score documents) and the target once
    — the histogram groupBys are map-side combinable on the bucket (B
    is thousands, so the shuffle is bytes). The merged histogram (<= B
    rows of exact longs) is COLLECTED once; totals are exact integer
    sums on the driver, folded back in as literals, so the scoring
    join sees a small materialized weights table instead of
    re-embedding the two corpus-scan lineages per referencing
    expression (the pre-collect plan re-scanned raw ~3x per action).
    The log itself is still evaluated by Spark, so weights are
    bit-identical to the all-lazy formulation. Scoring reuses the
    explode's per-doc shuffle for the final id-keyed aggregation.
    The target side is typically a domain sample orders of magnitude
    smaller than the raw corpus.

    When the target IS a slice of the raw corpus, pass the membership
    predicate as ``target_filter`` instead of a separate ``target``
    frame: both histograms then come out of ONE tagged gram pass (the
    tag rides each shingle row; ``_ct`` is the count of tagged grams) —
    identical counts, half the explode/md5 work, and one fewer corpus
    scan per fit. ``target`` and ``target_filter`` are mutually
    exclusive.
    """
    from .dedup import exploded_shingles

    if smoothing <= 0:
        raise ValueError("dsir_logratio_weights: smoothing must be > 0")
    if num_buckets < 2:
        raise ValueError("dsir_logratio_weights: num_buckets must be >= 2")
    if (target is None) == (target_filter is None):
        raise ValueError(
            "dsir_logratio_weights: pass exactly one of target (a frame) "
            "or target_filter (a predicate over the raw corpus)"
        )
    a = float(smoothing)
    b_lit = F.lit(float(num_buckets))

    def bucket(gram_col) -> F.Column:
        h = F.md5(F.concat(F.lit(f"{salt}:"), gram_col))
        return F.pmod(
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(num_buckets)
        ).alias("_b")

    def histogram(df: DataFrame, cname: str) -> DataFrame:
        return (
            exploded_shingles(df, text_col, id_col, n, distinct=False)
            .select(bucket(F.col("_sh")))
            .groupBy("_b")
            .agg(F.count("*").cast("long").alias(cname))
        )

    if target_filter is not None:
        # ONE tagged gram pass serves both histograms: every raw gram
        # counts into _cr, and the grams of target-slice docs (the tag
        # is constant per doc, so it rides the explode) into _ct.
        # count_if skips NULL tags exactly as filter(pred) drops
        # NULL-predicate docs, so the counts are identical to the
        # two-frame form's — pytest-pinned.
        #
        # The predicate must be DETERMINISTIC: the tag column can be
        # re-evaluated per exploded shingle row, so a rand()-based
        # filter would break the constant-per-doc assumption silently
        # (ADVICE r12). Spark tracks determinism on the expression —
        # refuse the nondeterministic ones outright.
        if "_is_t" in raw.columns:
            raise ValueError(
                "dsir_logratio_weights: the raw frame already has a "
                "'_is_t' column, which collides with the internal "
                "membership tag; rename it first"
            )
        try:
            det = bool(
                raw.select(target_filter.alias("_is_t"))
                ._jdf.queryExecution()
                .analyzed()
                .expressions()
                .head()
                .deterministic()
            )
        except Exception:  # pragma: no cover — non-py4j backends
            det = True
        if not det:
            raise ValueError(
                "dsir_logratio_weights: target_filter must be a "
                "deterministic predicate — it is re-evaluated per "
                "exploded gram row, so a nondeterministic filter "
                "(rand(), current_timestamp(), ...) would tag the "
                "same document differently across its shingles; "
                "materialize the target membership as a column first "
                "and pass that"
            )
        tagged = raw.withColumn("_is_t", target_filter)
        merged_hist = (
            exploded_shingles(
                tagged, text_col, id_col, n, distinct=False,
                carry_cols=["_is_t"],
            )
            .select(bucket(F.col("_sh")), "_is_t")
            .groupBy("_b")
            .agg(
                F.count("*").cast("long").alias("_cr"),
                F.count_if("_is_t").cast("long").alias("_ct"),
            )
        )
    else:
        merged_hist = (
            histogram(raw, "_cr")
            .join(histogram(target, "_ct"), "_b", "full_outer")
            .select(
                "_b",
                F.coalesce("_cr", F.lit(0).cast("long")).alias("_cr"),
                F.coalesce("_ct", F.lit(0).cast("long")).alias("_ct"),
            )
        )
    # <= num_buckets rows of exact longs — one corpus scan each side
    merged_rows = merged_hist.collect()
    spark = raw.sparkSession
    tr = sum(r["_cr"] for r in merged_rows)  # exact integer totals on the driver
    tt = sum(r["_ct"] for r in merged_rows)
    merged = local_frame(
        spark,
        [(r["_b"], r["_cr"], r["_ct"]) for r in merged_rows],
        "_b long, _cr long, _ct long",
    )
    log_ratio = F.log(
        ((F.col("_ct") + F.lit(a)) / (F.lit(float(tt)) + F.lit(a) * b_lit))
        / ((F.col("_cr") + F.lit(a)) / (F.lit(float(tr)) + F.lit(a) * b_lit))
    )
    weights = merged.select("_b", log_ratio.alias("_lw"))
    doc_feats = exploded_shingles(raw, text_col, id_col, n, distinct=False).select(
        F.col(id_col), bucket(F.col("_sh"))
    )
    per_doc = (
        doc_feats.join(F.broadcast(weights), "_b")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_feats"),
            F.sum("_lw").alias("_sum_lw"),
        )
    )
    return (
        raw.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_feats", F.lit(0).cast("long")).alias("n_feats"),
            F.round(F.coalesce(F.col("_sum_lw"), F.lit(0.0)) + 1e-9, round_digits)
            .alias("logratio"),
        )
    )


def dsir_resample(
    weights: DataFrame,
    k: int,
    id_col: str = "doc_id",
    score_col: str = "logratio",
    temperature: float = 1.0,
    salt: str = "dsir-gumbel",
    round_digits: int = 6,
) -> DataFrame:
    """Gumbel top-k importance resampling over :func:`dsir_logratio_weights`
    output: sampling k documents WITHOUT replacement with probability
    proportional to exp(score/temperature) is exactly taking the top k
    by score/temperature + Gumbel noise (the Gumbel-max trick DSIR
    uses). The noise is derived from the md5 hash-fraction contract, so
    the selection is deterministic across runs, engines, and cluster
    sizes — same property as hash_split, required for reproducible
    data curation. NULL scores are excluded (no weight, cannot win).

    The perturbed key is rounded and ties break on the id, so the top-k
    frontier is engine-exact. One TakeOrderedAndProject — no global
    sort materialization.
    """
    if k <= 0:
        raise ValueError("dsir_resample: k must be > 0")
    if temperature <= 0:
        raise ValueError("dsir_resample: temperature must be > 0")
    u = (
        F.conv(F.substring(_salted_md5(id_col, salt), 1, 8), 16, 10).cast("long")
        + F.lit(0.5)
    ) / F.lit(_HASH_DENOM)
    gumbel = -F.log(-F.log(u))
    key = F.round(
        F.col(score_col) / F.lit(float(temperature)) + gumbel + 1e-9, round_digits
    )
    return (
        weights.filter(F.col(score_col).isNotNull())
        .withColumn("sample_key", key)
        .orderBy(F.col("sample_key").desc(), F.col(id_col))
        .limit(k)
    )

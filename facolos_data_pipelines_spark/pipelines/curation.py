"""Corpus-curation pipeline — the LLM-training-data twin of the
reference-shaped ETL cycle in :mod:`.runner`.

Chains the extension operators into the standard pre-training data
flow (C4/Gopher/Dolma-shaped):

    quality filter (score >= quantile threshold)
      -> benchmark decontamination (drop n-gram-overlapping docs)
      -> near-duplicate removal (MinHash-LSH by default)
      -> fingerprint + write survivors, with a per-stage metrics frame

Every stage is one of the individually oracle-certified operators; the
pipeline adds composition, stage metrics, and the write. Each stage
boundary is one eager checkpoint (``eager.materialize_counted``): the
stage's row count is observed on the checkpoint's own job, so the
metrics cost no extra action, and the next stage reads the
checkpointed rows with their lineage truncated — the minhash self-join
downstream must not re-run the quality filter per side.

At 100 TB the stage order matters: quality filtering and
decontamination are narrow-ish early reducers (drop 30-60% of the
corpus before the shuffle-heavy dedup), which is why they run first —
the same ordering argument the published pipelines make.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..eager import materialize_counted
from ..operators.dedup import minhash_dedup
from ..operators.sampling import (
    curriculum_order,
    filter_by_score_quantile,
    mix_to_weights,
    temperature_mix,
)
from ..operators.text import c4_clean, decontaminate, fingerprint, quality_score
from ..session import local_frame


@dataclass
class CurationResult:
    survivors: DataFrame
    metrics: DataFrame


def curate_corpus(
    spark: SparkSession,
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_quantile: float = 0.25,
    decontaminate_n: int = 3,
    dedup_threshold: float = 0.8,
    mix_col: str | None = None,
    mix_weights: dict[str, float] | None = None,
    mix_temperature: float | None = None,
    curriculum_buckets: int | None = None,
    c4_rules: bool = False,
    output_path: str | None = None,
    keep: str = "best",
    quality_model: dict | None = None,
) -> CurationResult:
    """Run the full curation flow; returns surviving docs (id, text,
    fingerprint) and a per-stage metrics frame (stage, rows_in,
    rows_out).

    ``quality_quantile`` drops the bottom X of the score distribution
    (0.25 = keep top 75%); ``benchmark=None`` skips decontamination.
    ``mix_col``/``mix_weights`` add a final mixture-downsampling stage
    (``sampling.mix_to_weights``) AFTER dedup — mixing last, so target
    proportions are measured over unique clean docs, not duplicates.
    ``mix_temperature`` is the weight-free alternative (targets derived
    in-plan as count^tau, ``sampling.temperature_mix``); give one or
    the other, not both. ``curriculum_buckets`` appends a curriculum
    stage: survivors are re-scored and stamped with
    ``sampling.curriculum_order``'s (bucket, order_key) so the written
    corpus replays easy-to-hard. ``c4_rules=True`` prepends the hard
    C4 line/doc deletion pass (``text.c4_clean``) BEFORE scoring —
    cheapest-reducer-first ordering, since the hard rules are pure
    narrow codegen. With ``output_path`` the survivors are also
    written as parquet.

    ``keep`` picks the near-dedup survivor policy: ``'best'``
    (default) keeps the HIGHEST-quality-score member of each
    duplicate cluster (full single-link resolution via
    ``keep_best_per_cluster``, min-id deterministic tiebreak) —
    near-dedup should upgrade the corpus, not sample it blindly;
    ``'min_id'`` restores the plain lowest-id single-sweep policy.

    ``quality_model`` swaps the scoring backend: pass a trained model
    dict from ``quality_model.train_quality_classifier`` and the
    quality stage scores with ``score_quality_model``'s
    expression-only inference (sigmoid over codegen features — same
    cost shape as the heuristic) instead of ``text.quality_score``;
    the score keeps the ``quality_score`` column name so the quantile
    filter, ``keep='best'`` survivor policy, and curriculum stage are
    backend-agnostic.
    """
    if keep not in ("best", "min_id"):
        raise ValueError(f"curate_corpus: keep={keep!r}; expected 'best' or 'min_id'")
    if mix_weights and mix_temperature is not None:
        raise ValueError(
            "curate_corpus: give mix_weights OR mix_temperature, not both"
        )
    if (mix_col is None) != (not mix_weights and mix_temperature is None):
        raise ValueError(
            "curate_corpus: mix_col must be given together with exactly one "
            f"of mix_weights / mix_temperature (got mix_col={mix_col!r}, "
            f"mix_weights={mix_weights!r}, mix_temperature={mix_temperature!r}) "
            "— a half-specified mixture would silently skip downsampling"
        )

    stages: list[tuple[str, int, int]] = []

    if c4_rules:
        n_raw = docs.count()
        docs = c4_clean(docs, text_col=text_col, id_col=id_col).drop(
            "n_lines_orig", "n_lines_kept"
        )

    # scoring adds a column and drops no row: its checkpoint counts the
    # quality stage's input (the c4 stage's output)
    if quality_model is not None:
        from ..operators.quality_model import score_quality_model

        scored = score_quality_model(
            docs, quality_model, text_col=text_col, score_col="quality_score"
        )
    else:
        scored = quality_score(docs, text_col)
    scored, n0 = materialize_counted(scored)
    if c4_rules:
        stages.append(("c4_rules", n_raw, n0))
    kept = filter_by_score_quantile(
        scored, "quality_score", q=quality_quantile, approx=True
    )
    # keep='best' threads the quality score through to the dedup stage
    # so the survivor of each duplicate cluster is the best-scoring
    # member, not an arbitrary id.
    if keep != "best":
        kept = kept.drop("quality_score")
    kept, n1 = materialize_counted(kept)
    stages.append(("quality_filter", n0, n1))

    if benchmark is not None:
        flags = decontaminate(kept, benchmark, n=decontaminate_n, id_col=id_col,
                              text_col=text_col)
        clean_ids = flags.filter(~F.col("contaminated")).select(id_col)
        kept, n2 = materialize_counted(kept.join(clean_ids, id_col, "left_semi"))
    else:
        n2 = n1
    stages.append(("decontaminate", n1, n2))

    deduped = minhash_dedup(
        kept,
        text_col=text_col,
        id_col=id_col,
        threshold=dedup_threshold,
        score_col="quality_score" if keep == "best" else None,
    )
    if keep == "best":
        deduped = deduped.drop("quality_score")
    deduped, n3 = materialize_counted(deduped)
    stages.append(("near_dedup", n2, n3))

    if mix_col is not None:
        if mix_weights:
            deduped = mix_to_weights(deduped, mix_col, mix_weights, id_col=id_col)
        else:
            deduped = temperature_mix(
                deduped, mix_col, mix_temperature, id_col=id_col
            )
        deduped, n4 = materialize_counted(deduped)
        stages.append(("mixture", n3, n4))
    else:
        n4 = n3

    survivors = fingerprint(deduped, text_col=text_col, id_col=id_col)
    if curriculum_buckets is not None:
        if quality_model is not None:
            from ..operators.quality_model import score_quality_model

            rescored = score_quality_model(
                survivors, quality_model, text_col=text_col,
                score_col="quality_score",
            )
        else:
            rescored = quality_score(survivors, text_col)
        survivors = curriculum_order(
            rescored, "quality_score", id_col, num_buckets=curriculum_buckets
        ).drop("quality_score")
        stages.append(("curriculum", n4, n4))
    if output_path is not None:
        survivors.write.mode("overwrite").parquet(output_path)
    stages.append(("fingerprint", n4, n4))

    metrics = local_frame(
        spark,
        [(s, int(i), int(o)) for s, i, o in stages],
        "stage string, rows_in bigint, rows_out bigint",
    )
    return CurationResult(survivors=survivors, metrics=metrics)

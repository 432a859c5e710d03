"""End-to-end training-corpus preparation: the 100 TB pipeline as ONE
declared DataFrame plan.

This is the composition a user of this engine actually runs over a
raw web/document corpus before pretraining — the operators exist
individually in ``operators/`` (each oracle- or property-verified);
this module fixes their ORDER and keeps the whole chain lazy so
Catalyst optimizes across stage boundaries (filter reordering among
the narrow stages, column pruning through the scrub projection, one
scan of the input).

Stage order is the scale-correct one:
1. narrow per-row filters FIRST (language, quality, repetition) —
   they're whole-stage-codegen row predicates that cut the corpus
   before anything shuffles;
2. exact dedup (one hash shuffle on content hash) on the survivors;
3. decontamination anti-join (benchmark side distinct-aggregated and
   broadcast — the corpus side never shuffles for it);
4. PII scrub (pure projection — AFTER dedup so the regex chain runs
   once per kept doc, not per duplicate);
5. deterministic hash split (pure projection, no randomness).

The whole plan is one lazy DAG. Near-dup clustering
(``operators.dedup.minhash_lsh_pairs`` + ``keep_cluster_canonical``)
is not part of it: its connected components checkpoint intermediate
state, so a caller that wants it runs it on the output.

Output: the cleaned corpus with provenance columns
(lang, quality, split) — feed ``operators.traindata.pack_sequences``
/ ``deterministic_shuffle`` downstream for context-window packing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text_clean import ALL_STOPWORDS
from ..functions.tokenize import token_count
from ..operators import textstats as TS
from ..operators.dedup import exact_dedup
from ..operators.traindata import contamination, deterministic_split, pii_scrub

# The filter settings of the chain: English only, quality score and
# repetition shares at most 0.5 off, at most 20% benchmark n-grams.
LANG = "en"
MIN_QUALITY = 0.5
MAX_TOP_WORD_SHARE = 0.5
MAX_DUP_BIGRAM_FRAC = 0.5
MAX_CONTAMINATION = 0.2


def prepare_training_corpus(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    classifier_keep: bool = False,
    min_score_milli: float = 500.0,
    contamination_n: int = 5,
) -> DataFrame:
    """Run the full corpus-preparation chain; see module docstring.

    Returns the kept documents with ``lang_detected``, ``quality``
    (post-scrub), ``n_tokens`` and ``split`` columns, ``text_col``
    scrubbed in place. Lazy end to end. ``classifier_keep=True`` adds
    the learned logreg quality gate after the heuristic filters.
    """
    tokens = F.split(F.col(text_col), " ")

    # 1. narrow per-row filters (codegen predicates, no shuffle)
    out = docs.withColumn(
        "lang_detected", TS.detect_language(tokens)
    ).filter(F.col("lang_detected") == LANG)
    out = out.filter(
        TS.quality_score(F.col(text_col), list(ALL_STOPWORDS)) >= MIN_QUALITY
    )
    top_share, dup_frac = TS.repetition_stats(F.col(text_col))
    out = out.filter(
        (top_share <= MAX_TOP_WORD_SHARE) & (dup_frac <= MAX_DUP_BIGRAM_FRAC)
    )
    # 1.5 optional learned-filter gate (map-only codegen inference;
    # default-off so the certified default plan is unchanged)
    if classifier_keep:
        out = out.filter(
            TS.logreg_quality_score(F.col(text_col), list(ALL_STOPWORDS))
            >= min_score_milli
        )

    # 2. pin ONE evaluation of the expensive narrow chain. Every
    #    downstream stage joins back on id (exact-dedup semi join,
    #    decontamination anti-join), and each join SIDE is its own
    #    subtree — without a boundary here Catalyst re-evaluates the
    #    whole language/quality/repetition expression chain once per
    #    consumer (measured 4-5x on this plan). An explicit hash
    #    repartition on the id makes that subtree an Exchange node,
    #    which every consumer picks up as a ReusedExchange: the chain
    #    runs once, stays lazy, and the id-keyed joins that follow
    #    reuse the partitioning instead of adding their own shuffle —
    #    so this is shuffle-NEUTRAL at 100 TB, not an extra pass.
    out = out.repartition(F.col(id_col))

    # 3. exact dedup (content-hash shuffle, min-id keeps determinism)
    out = exact_dedup(out, text_col, id_col)

    # 4. decontamination: drop docs sharing too many verbatim n-grams
    #    with the benchmark (broadcast benchmark side)
    if benchmark is not None:
        dirty = contamination(
            out, benchmark, id_col, text_col, n=contamination_n
        ).filter(F.col("contamination_ratio") > MAX_CONTAMINATION)
        out = out.join(
            dirty.select(F.col(id_col).alias("__dirty_id")),
            F.col(id_col) == F.col("__dirty_id"),
            "left_anti",
        )

    # 5. PII scrub + provenance columns (pure projection)
    out = out.withColumn(text_col, pii_scrub(F.col(text_col)))
    out = out.withColumn(
        "quality", TS.quality_score(F.col(text_col), list(ALL_STOPWORDS))
    ).withColumn("n_tokens", token_count(F.col(text_col)))

    # 6. deterministic split (pure projection, reproducible anywhere)
    return deterministic_split(out, id_col)

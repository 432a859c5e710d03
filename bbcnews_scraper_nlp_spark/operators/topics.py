"""Topic modeling: the reference's gensim LDA pipeline rebuilt on
MLlib (SURVEY §2.8 M1-M5, M8).

Reference flow (topic_modelling.ipynb cells 5-31):
  tokenize -> Dictionary.filter_extremes(no_below=10, no_above=0.9)
  -> doc2bow -> LdaMulticore(k, passes=20, seed=42) -> per-doc argmax
  -> keywords string -> 12-row label join.

Spark-first mapping:
  clean tokens (ArrayType col) -> CountVectorizer(minDF=10, maxDF=0.9)
  -> LDA(k, maxIter, seed, optimizer='online') -> transform ->
  vector argmax (W3 semantics: first-max tie-break) -> broadcast join
  topic keywords.

Scale notes: CountVectorizer's vocabulary is a broadcast array (the
reference's global Dictionary); online LDA mini-batches across
partitions (gensim's chunksize/workers are subsumed by partitioning);
inference is a narrow map over the features column. The reference's
positional concat (J2) is redesigned: the document key column rides
through the whole pipeline so the final join is a real equi-join.
"""

from __future__ import annotations

from pyspark.ml.clustering import LDA, LDAModel
from pyspark.ml.feature import CountVectorizer, CountVectorizerModel
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_DF = 0.9  # drop terms in more than 90% of documents (no_above=0.9)
VOCAB_SIZE = 1 << 18
NUM_WORDS = 10  # top terms per topic, for keywords and c_v coherence
SEED = 42
ROWS_PER_PARTITION = 512  # target rows per task of an iterative fit


def fit_partitions(df: DataFrame, n_rows: int) -> int:
    """Partition count for iterative MLlib fits (LDA/KMeans): each
    iteration launches one job over every partition, so per-job
    scheduling overhead scales with partition count while per-task
    work scales with rows per partition. Aim ≥ ROWS_PER_PARTITION
    rows/task (measured ~3x faster than 32 near-empty partitions at
    5k docs), capped at cluster width — at real corpus sizes the cap
    binds and the fit runs at full parallelism."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    return max(1, min(parallelism, n_rows // ROWS_PER_PARTITION))


def fit_count_vectorizer(
    df: DataFrame,
    tokens_col: str = "tokens",
    features_col: str = "features",
    min_df: float = 10.0,
) -> CountVectorizerModel:
    """A4/A5: vocabulary build + prune, doc-term vectors.
    minDF/maxDF mirror Dictionary.filter_extremes(no_below=10,
    no_above=0.9) (topic_modelling.ipynb:319, cell 7)."""
    cv = CountVectorizer(
        inputCol=tokens_col,
        outputCol=features_col,
        minDF=min_df,
        maxDF=MAX_DF,
        vocabSize=VOCAB_SIZE,
    )
    return cv.fit(df)


def vectorize(
    df: DataFrame,
    tokens_col: str = "tokens",
    min_df: float = 10.0,
) -> tuple[CountVectorizerModel, DataFrame]:
    """The one vectorize step before every LDA fit: returns
    ``(cv_model, vectors)``, the fitted CountVectorizer and df plus
    its doc-term ``features``, coalesced to ``fit_partitions``.

    Both the token frame and the vectors are cached: the CV fit, the
    CV transform and each of the online optimizer's minibatch
    iterations would otherwise recompute the upstream tokenize/clean
    chain, and the caller's own action (transform, coherence counts)
    reads the same blocks. The runner that runs the action releases
    them (``session.release_blocks``)."""
    df = df.cache()
    n_docs = df.count()
    cv_model = fit_count_vectorizer(df, tokens_col=tokens_col, min_df=min_df)
    vectors = cv_model.transform(df)
    target = fit_partitions(df, n_docs)
    if target < vectors.rdd.getNumPartitions():
        vectors = vectors.coalesce(target)
    return cv_model, vectors.cache()


def fit_lda(
    vectorized: DataFrame,
    k: int = 12,
    max_iter: int = 20,
    seed: int = 42,
    features_col: str = "features",
) -> LDAModel:
    """M1: LDA train. k=12/passes=20/seed=42 mirror the reference's
    production model (topic_modelling.ipynb:410-421, cell 10);
    'online' = distributed mini-batch EM, the scale path."""
    lda = LDA(
        k=k,
        maxIter=max_iter,
        seed=seed,
        optimizer="online",
        featuresCol=features_col,
    )
    return lda.fit(vectorized)


def topic_keywords(model: LDAModel, vocab: list[str]) -> DataFrame:
    """M4: per-topic top-NUM_WORDS terms as a ', '-joined string
    (print_topics/show_topic, topic_modelling.ipynb cells 11/23)."""
    topics = model.describeTopics(NUM_WORDS)
    vocab_arr = F.lit(vocab)
    words = F.transform(
        F.col("termIndices"), lambda i: F.element_at(vocab_arr, i + 1)
    )
    return topics.select(
        F.col("topic").alias("topic_num"),
        F.array_join(words, ", ").alias("keywords"),
    )


def dominant_topics(
    transformed: DataFrame,
    id_col: str,
    dist_col: str = "topicDistribution",
) -> DataFrame:
    """M5+W3: per-doc dominant topic = argmax of θ with
    first-occurrence tie-break (matching Python sorted stability,
    topic_modelling.ipynb cell 23), weight rounded to 4 like the
    reference's round(prop_topic, 4)."""
    arr = vector_to_array(F.col(dist_col))
    mx = F.array_max(arr)
    idx = (F.array_position(arr, mx) - 1).cast("int")
    return transformed.select(
        F.col(id_col),
        idx.alias("dominant_topic"),
        F.round(mx, 4).alias("weight"),
    )


def lda_pipeline(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    k: int = 12,
    max_iter: int = 20,
    seed: int = 42,
    min_df: float = 10.0,
    labels: DataFrame | None = None,
) -> DataFrame:
    """End-to-end M1-M5: returns (id, dominant_topic, weight,
    keywords[, topic_label]).

    The label join is J1: a broadcast left join against a k-row dim
    (topic_modelling.ipynb:1692-1696, cell 29)."""
    cv_model, vectorized = vectorize(df, tokens_col=tokens_col, min_df=min_df)
    model = fit_lda(vectorized, k=k, max_iter=max_iter, seed=seed)
    dom = dominant_topics(model.transform(vectorized), id_col)
    kw = topic_keywords(model, cv_model.vocabulary)
    out = dom.join(
        F.broadcast(kw), dom.dominant_topic == kw.topic_num, "left"
    ).drop("topic_num")
    if labels is not None:
        out = out.join(
            F.broadcast(labels), out.dominant_topic == labels.topic_num, "left"
        ).drop("topic_num")
    return out


def sweep_k(
    df: DataFrame,
    tokens_col: str,
    ks: list[int],
    max_iter: int = 10,
    min_df: float = 10.0,
    metric: str = "perplexity",
    id_col: str = "doc_id",
) -> list[tuple[int, float]]:
    """M2: hyperparameter sweep over k. Mirrors
    topic_modelling.ipynb:347-375 (cell 8), where the reference picks
    argmax c_v coherence.

    metric='perplexity': logPerplexity (lower=better, built-in).
    metric='cv': mean per-topic c_v coherence (higher=better) via
    coherence.cv_coherence — the faithful reproduction of the
    reference's selection criterion."""
    cv_model = fit_count_vectorizer(df, tokens_col=tokens_col, min_df=min_df)
    vectorized = cv_model.transform(df).cache()
    out = []
    try:
        for k in ks:
            model = fit_lda(vectorized, k=k, max_iter=max_iter, seed=SEED)
            if metric == "cv":
                from .coherence import cv_coherence, topics_terms_from_model

                terms = topics_terms_from_model(
                    model, cv_model.vocabulary, num_words=NUM_WORDS
                )
                score = (
                    cv_coherence(df, terms, id_col=id_col, tokens_col=tokens_col)
                    .agg(F.avg("coherence"))
                    .collect()[0][0]
                )
                out.append((k, float(score)))
            else:
                out.append((k, model.logPerplexity(vectorized)))
    finally:
        vectorized.unpersist()
    return out

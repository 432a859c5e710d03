"""Multinomial Naive Bayes as pure DataFrame aggregation.

The classic corpus-scale text classifier (language / domain / quality
routing in training-data pipelines, cf. CCNet's fastText lang-ID and
the quality classifiers in GPT-3/LLaMA data work). The reference has
no classifier surface; this extends the engine the way the
textstats/logreg operators do — but unlike logreg (whose weights are
fit externally), NB TRAINING is itself one aggregation pass, so both
train and predict stay inside Spark with no driver-side state.

Design constraints shared with the rest of the engine:
- train = ONE token pass: the (token, class) count table is the only
  aggregation that reads the token stream; class totals and the
  vocabulary size are marginals OF THAT TABLE (identical integers,
  no second explode);
- log-likelihoods are quantized to integer MILLI-NATS before any
  per-document aggregation (the bm25/perplexity recipe): ln's 1-ulp
  Java/libm disagreement is absorbed by the rounding, and the
  per-document score sum is exact integer math in any fold order —
  a DuckDB oracle reproduces predictions bit-for-bit;
- prediction ties break by MINIMUM class label (total order).

At 100 TB: the token explode dominates (one pass over text); the
model — (vocab × classes) milli-nat table — is Heaps-law bounded and
joins the token-type table on (token, class) with AQE free to
broadcast it when small. No Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .traindata import md5_int

MILLI = 1000  # log-likelihood quantum: milli-nats

HASH_SALT = "fh-v1:"


def feature_hash(token: Column, n_buckets: int) -> Column:
    """The hashing trick (Weinberger et al. 2009): token → bucket id
    via the engine's md5-prefix flavor (DuckDB recomputes it
    exactly; 48 bits mod B is uniform for B ≪ 2⁴⁸). With hashed
    features the NB model is (n_buckets × classes) rows REGARDLESS
    of vocabulary — the 100 TB path where even a Heaps-bounded vocab
    table is unwelcome state: no vocab join, no OOV rows, a
    fixed-size broadcastable model."""
    return md5_int(F.concat(F.lit(HASH_SALT), token), 12) % n_buckets


def nb_train_predict(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
    hash_buckets: int | None = None,
) -> DataFrame:
    """Train a Laplace-smoothed multinomial NB on ``docs`` and score
    every document (resubstitution — the operator demo; split
    train/score callers pass disjoint frames through ``nb_model`` +
    ``nb_predict`` below). ``hash_buckets`` switches features from
    raw tokens to the hashing trick (``feature_hash``).

    Returns (id, label, pred, score_milli): the argmax class per
    document with its integer milli-nat log-posterior.

    Because train and score read the SAME frame here, the token
    stream is exploded exactly once: the per-document term-frequency
    table (id, cls, w, tf) is materialized once (lazy
    localCheckpoint), the model's (w, cls) counts are its marginal
    (cls is a function of id, so the counts are the same integers),
    and prediction re-reads the tf slice. The split-caller path
    (``nb_model`` + ``nb_predict``) costs one explode per frame the
    same way.
    """
    tfc = _nb_tf(
        docs, text_col, [F.col(id_col).alias("id"), F.col(label_col).alias("cls")],
        hash_buckets,
    ).localCheckpoint(eager=False)
    wc = tfc.groupBy("w", "cls").agg(F.sum("tf").alias("cnt"))
    model, classes = _nb_model_from_counts(wc, _nb_class_counts(docs, label_col, wc))
    base = docs.select(
        F.col(id_col).alias("id"), F.col(label_col).alias("label")
    )
    return _nb_score(base, tfc.select("id", "w", "tf"), model, classes)


def _nb_feature(w: Column, hash_buckets: int | None) -> Column:
    return feature_hash(w, hash_buckets) if hash_buckets else w


def _nb_tf(
    docs: DataFrame, text_col: str, keys: list[Column], hash_buckets: int | None
) -> DataFrame:
    """THE token pass: the space-split tokens of ``text_col`` (empty
    tokens dropped, hashed when ``hash_buckets``) counted per
    (``keys``, token). Returns (*keys, w, tf)."""
    tok = (
        docs.select(*keys, F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter(F.col("w") != "")
        .withColumn("w", _nb_feature(F.col("w"), hash_buckets))
    )
    return tok.groupBy(*tok.columns).agg(F.count("*").alias("tf"))


def nb_model(
    docs: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    hash_buckets: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One-pass NB training.

    Returns (model, classes): ``model`` = (w, cls, ll_milli) — the
    milli-nat log-likelihood ROUND(1000 * ln((cnt_wc + 1) /
    (tot_c + V))) per seen (token, class); ``classes`` = (cls,
    prior_milli, miss_milli) — the log-prior and the unseen-token
    default ROUND(1000 * ln(1 / (tot_c + V))), a few rows,
    broadcastable.

    One token pass: only the (w, cls) count aggregation reads the
    token explode; class totals and |V| are its marginals (the same
    integers a direct pass would count).
    """
    wc = _nb_tf(
        docs, text_col, [F.col(label_col).alias("cls")], hash_buckets
    ).withColumnRenamed("tf", "cnt")
    return _nb_model_from_counts(wc, _nb_class_counts(docs, label_col, wc))


def _nb_class_counts(docs: DataFrame, label_col: str, wc: DataFrame) -> DataFrame:
    """(cls, tot, v, n_c, n) for a model trained on all of ``docs``:
    class token totals and vocabulary size are marginals of the
    (w, cls, cnt) table, so however ``wc`` was produced the token
    stream is read exactly once."""
    totals = wc.groupBy("cls").agg(F.sum("cnt").alias("tot"))
    vocab = wc.agg(F.countDistinct("w").alias("v"))
    ndocs = docs.groupBy(F.col(label_col).alias("cls")).agg(
        F.count("*").alias("n_c")
    )
    n_all = docs.agg(F.count("*").alias("n"))
    return (
        totals.join(ndocs, "cls")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(n_all))
    )


def _nb_model_from_counts(
    wc: DataFrame, counts: DataFrame, keys: tuple[str, ...] = ()
) -> tuple[DataFrame, DataFrame]:
    """Derive (model, classes) from the (w, cls, *keys, cnt) token
    counts and the (cls, *keys, tot, v, n_c, n) class counts, one
    model per value of ``keys`` (none for a single model, ``["fold"]``
    for the k-fold models): ``model`` = (w, cls, *keys, ll_milli),
    ``classes`` = (cls, *keys, prior_milli, miss_milli)."""
    classes = counts.select(
        "cls",
        *keys,
        "tot",
        "v",
        F.round(F.lit(MILLI) * F.log(F.col("n_c") / F.col("n")))
        .cast("long")
        .alias("prior_milli"),
        F.round(
            F.lit(MILLI)
            * F.log(F.lit(1.0) / (F.col("tot") + F.col("v")))
        )
        .cast("long")
        .alias("miss_milli"),
    )
    model = wc.join(
        F.broadcast(classes.select("cls", *keys, "tot", "v")), ["cls", *keys]
    ).select(
        "w",
        "cls",
        *keys,
        F.round(
            F.lit(MILLI)
            * F.log((F.col("cnt") + 1.0) / (F.col("tot") + F.col("v")))
        )
        .cast("long")
        .alias("ll_milli"),
    )
    return model, classes.select("cls", *keys, "prior_milli", "miss_milli")


def nb_predict(
    docs: DataFrame,
    model: DataFrame,
    classes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
) -> DataFrame:
    """Score every document against every class (plain, unhashed
    tokens) and take the integer
    argmax (ties → minimum class label). Documents with no tokens
    score prior-only. Plan: token explode → (doc, token) tf →
    fan out by the few classes (broadcast) → left join the model on
    (token, class) with the per-class unseen default → one (doc,
    class) integer sum → row_number argmax."""
    base = docs.select(
        F.col(id_col).alias("id"), F.col(label_col).alias("label")
    )
    tf = _nb_tf(docs, text_col, [F.col(id_col).alias("id")], None)
    return _nb_score(base, tf, model, classes)


def _nb_score(
    base: DataFrame,
    tf: DataFrame,
    model: DataFrame,
    classes: DataFrame,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """The scoring tail shared by the fused, split and k-fold paths:
    fan the (id, *keys, w, tf) table out by the few classes of its
    ``keys`` model (broadcast), left-join the model on (token, class,
    *keys) with the per-class unseen default, one (doc, class)
    integer sum, row_number argmax. ``base`` is (id, label, *keys);
    returns (*keys, id, label, pred, score_milli)."""
    cls = F.broadcast(classes)
    scored = (
        tf.join(cls.select("cls", *keys, "miss_milli"), list(keys) or None)
        .join(model, ["w", "cls", *keys], "left")
        .select(
            "id",
            "cls",
            *keys,
            (
                F.col("tf") * F.coalesce(F.col("ll_milli"), F.col("miss_milli"))
            ).alias("s"),
        )
        .groupBy("id", "cls", *keys)
        .agg(F.sum("s").alias("tok_milli"))
    )
    full = (
        base.join(cls.select("cls", *keys, "prior_milli"), list(keys) or None)
        .join(scored, ["id", "cls", *keys], "left")
        .select(
            "id",
            "label",
            *keys,
            "cls",
            (F.col("prior_milli") + F.coalesce("tok_milli", F.lit(0))).alias(
                "score_milli"
            ),
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("score_milli"), "cls")
    return (
        full.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(*keys, "id", "label", F.col("cls").alias("pred"), "score_milli")
    )


def _leave_one_out(
    part: DataFrame, keys: list[str], val: str, out: str, folds: DataFrame
) -> DataFrame:
    """Per-fold training-complement value from the per-(keys, fold)
    parts: ``out`` = total of ``val`` over all folds minus the fold's
    own part (0 where the key has no rows in that fold), one row per
    (keys, fold) over the k-row ``folds`` grid."""
    total = part.groupBy(*keys).agg(F.sum(val).alias("__t"))
    return (
        total.join(folds)
        .join(part, [*keys, "fold"], "left")
        .select(
            *keys, "fold", (F.col("__t") - F.coalesce(val, F.lit(0))).alias(out)
        )
    )


def nb_kfold_predict(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
    k: int = 3,
) -> DataFrame:
    """K-fold cross-validated NB: every document is scored by the
    model trained on the OTHER k-1 folds — the honest held-out
    evaluation (``nb_train_predict`` is resubstitution by design).

    The naive form retrains k times (k full token passes). This is
    ONE pass — literally one: the per-document term-frequency table
    (id, cls, fold, w, tf) is the only aggregation that reads the
    token explode (lazy localCheckpoint), and every count the fold
    models need is a MARGINAL of it — per-(token, class, fold)
    counts, class token totals, per-fold vocabulary sizes
    (V(i) = #{w : cnt_w_total > cnt_w_fold(i)}), while each fold's
    leave-one-out model is derived by SUBTRACTION over a k-row fold
    grid — cnt_train(i) = cnt_total − cnt_fold(i). Folds come from
    ``traindata.kfold_split`` (md5-bucket — engine-portable, so a
    DuckDB oracle reproduces fold membership AND every model weight
    bit-for-bit).

    Returns (fold, id, label, pred, score_milli). At 100 TB: the
    token explode happens once; model state is Heaps-bounded × k;
    every shuffle keys on (token[, class][, fold]) or (doc[, ...]) —
    the subtraction grid joins are driven by a k-row broadcast.
    """
    from .traindata import kfold_split

    d = kfold_split(docs, id_col, k)
    folds = F.broadcast(
        docs.sparkSession.range(k).select(F.col("id").cast("int").alias("fold"))
    )

    # THE token pass: per-document tf with label and fold riding
    # along (both are functions of the doc id, so the added grouping
    # keys do not change the groups). Everything below is a marginal
    # of this table — the explode never re-runs.
    tfc = _nb_tf(
        d, text_col,
        [F.col(id_col).alias("id"), F.col(label_col).alias("cls"), F.col("fold")],
        None,
    ).localCheckpoint(eager=False)

    # (token, class): per-fold counts once, totals derived from them
    # (the second agg reads the already-Heaps-bounded first, and the
    # leave-one-out grid left-joins back on (w, cls, fold))
    wcf = (
        tfc.groupBy("w", "cls", "fold")
        .agg(F.sum("tf").alias("cnt_f"))
        .localCheckpoint(eager=False)
    )
    model_cnt = _leave_one_out(wcf, ["w", "cls"], "cnt_f", "cnt", folds).filter(
        F.col("cnt") > 0
    )

    # class token totals per training complement (classes × k rows) —
    # a marginal of wcf, not a second token pass
    tcf = wcf.groupBy("cls", "fold").agg(F.sum("cnt_f").alias("t_f"))
    tot = _leave_one_out(tcf, ["cls"], "t_f", "tot", folds)

    # per-fold training vocabulary: a token counts for fold i's model
    # iff it occurs OUTSIDE fold i — again a marginal of wcf
    wf = wcf.groupBy("w", "fold").agg(F.sum("cnt_f").alias("u_f"))
    voc = (
        _leave_one_out(wf, ["w"], "u_f", "u", folds)
        .filter(F.col("u") > 0)
        .groupBy("fold")
        .agg(F.count("*").alias("v"))
    )

    # class doc counts + corpus size per training complement
    ncf = d.groupBy(F.col(label_col).alias("cls"), F.col("fold")).agg(
        F.count("*").alias("m_f")
    )
    nc = _leave_one_out(ncf, ["cls"], "m_f", "n_c", folds)
    nf = d.groupBy("fold").agg(F.count("*").alias("q_f"))
    nn = _leave_one_out(nf, [], "q_f", "n", folds)

    # a class is a candidate for fold i only if it has training docs.
    # ≤ classes × k rows, read by three consumers (the model and both
    # scoring broadcasts): eager-materialize once so each broadcast
    # build does not re-run the count chain (broadcast builds never
    # see ReusedExchange)
    counts = (
        nc.join(tot, ["cls", "fold"])
        .join(voc, "fold")
        .join(nn, "fold")
        .filter(F.col("n_c") > 0)
        .localCheckpoint(eager=True)
    )
    model, classes = _nb_model_from_counts(model_cnt, counts, ("fold",))

    # predict: each document scored against ITS OWN fold's held-out
    # model (the fold column rides the tf table, so the model join is
    # a plain (w, cls, fold) hash join). tf is the SAME materialized
    # table the model counts came from — cls is a function of id, so
    # projecting it away leaves exactly the (id, fold, w) tf rows.
    base = d.select(
        F.col(id_col).alias("id"), F.col(label_col).alias("label"), "fold"
    )
    return _nb_score(
        base, tfc.select("id", "fold", "w", "tf"), model, classes, ("fold",)
    )

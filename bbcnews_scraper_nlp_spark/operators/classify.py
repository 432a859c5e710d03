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
    tfc = (
        docs.select(
            F.col(id_col).alias("id"),
            F.col(label_col).alias("cls"),
            F.explode(F.split(F.col(text_col), " ")).alias("w"),
        )
        .filter(F.col("w") != "")
        .withColumn("w", _nb_feature(F.col("w"), hash_buckets))
        .groupBy("id", "cls", "w")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )
    wc = tfc.groupBy("w", "cls").agg(F.sum("tf").alias("cnt"))
    ndocs = docs.groupBy(F.col(label_col).alias("cls")).agg(
        F.count("*").alias("n_c")
    )
    n_all = docs.agg(F.count("*").alias("n"))
    model, classes = _nb_model_from_counts(wc, ndocs, n_all)
    base = docs.select(
        F.col(id_col).alias("id"), F.col(label_col).alias("label")
    )
    return _nb_score(base, tfc.select("id", "w", "tf"), model, classes)


def _nb_feature(w: Column, hash_buckets: int | None) -> Column:
    return feature_hash(w, hash_buckets) if hash_buckets else w


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
    tok = (
        docs.select(
            F.col(label_col).alias("cls"),
            F.explode(F.split(F.col(text_col), " ")).alias("w"),
        )
        .filter(F.col("w") != "")
        .withColumn("w", _nb_feature(F.col("w"), hash_buckets))
    )
    wc = tok.groupBy("w", "cls").agg(F.count("*").alias("cnt"))
    ndocs = docs.groupBy(F.col(label_col).alias("cls")).agg(
        F.count("*").alias("n_c")
    )
    n_all = docs.agg(F.count("*").alias("n"))
    return _nb_model_from_counts(wc, ndocs, n_all)


def _nb_model_from_counts(
    wc: DataFrame, ndocs: DataFrame, n_all: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Derive (model, classes) from the (w, cls, cnt) table: class
    token totals and vocabulary size are marginals of it, so however
    ``wc`` was produced the token stream is read exactly once."""
    totals = wc.groupBy("cls").agg(F.sum("cnt").alias("tot"))
    vocab = wc.agg(F.countDistinct("w").alias("v"))

    classes = (
        totals.join(ndocs, "cls")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(n_all))
        .select(
            "cls",
            "tot",
            "v",
            F.round(
                F.lit(MILLI) * F.log(F.col("n_c") / F.col("n"))
            )
            .cast("long")
            .alias("prior_milli"),
            F.round(
                F.lit(MILLI)
                * F.log(F.lit(1.0) / (F.col("tot") + F.col("v")))
            )
            .cast("long")
            .alias("miss_milli"),
        )
    )
    model = wc.join(F.broadcast(classes.select("cls", "tot", "v")), "cls").select(
        "w",
        "cls",
        F.round(
            F.lit(MILLI)
            * F.log((F.col("cnt") + 1.0) / (F.col("tot") + F.col("v")))
        )
        .cast("long")
        .alias("ll_milli"),
    )
    return model, classes.select("cls", "prior_milli", "miss_milli")


def nb_predict(
    docs: DataFrame,
    model: DataFrame,
    classes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
    hash_buckets: int | None = None,
) -> DataFrame:
    """Score every document against every class and take the integer
    argmax (ties → minimum class label). Documents with no tokens
    score prior-only. Plan: token explode → (doc, token) tf →
    fan out by the few classes (broadcast) → left join the model on
    (token, class) with the per-class unseen default → one (doc,
    class) integer sum → row_number argmax."""
    base = docs.select(
        F.col(id_col).alias("id"), F.col(label_col).alias("label")
    )
    tf = (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.col(text_col), " ")).alias("w"),
        )
        .filter(F.col("w") != "")
        .withColumn("w", _nb_feature(F.col("w"), hash_buckets))
        .groupBy("id", "w")
        .agg(F.count("*").alias("tf"))
    )
    return _nb_score(base, tf, model, classes)


def _nb_score(
    base: DataFrame, tf: DataFrame, model: DataFrame, classes: DataFrame
) -> DataFrame:
    """The scoring tail shared by the fused and split paths: fan the
    (id, w, tf) table out by the few classes (broadcast), left-join
    the model on (token, class) with the per-class unseen default,
    one (doc, class) integer sum, row_number argmax."""
    cls = F.broadcast(classes)
    scored = (
        tf.crossJoin(cls.select("cls", "miss_milli"))
        .join(model, ["w", "cls"], "left")
        .select(
            "id",
            "cls",
            (
                F.col("tf") * F.coalesce(F.col("ll_milli"), F.col("miss_milli"))
            ).alias("s"),
        )
        .groupBy("id", "cls")
        .agg(F.sum("s").alias("tok_milli"))
    )
    full = (
        base.crossJoin(cls.select("cls", "prior_milli"))
        .join(scored, ["id", "cls"], "left")
        .select(
            "id",
            "label",
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
        .select("id", "label", F.col("cls").alias("pred"), "score_milli")
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
    tfc = (
        d.select(
            F.col(id_col).alias("id"),
            F.col(label_col).alias("cls"),
            "fold",
            F.explode(F.split(F.col(text_col), " ")).alias("w"),
        )
        .filter(F.col("w") != "")
        .groupBy("id", "cls", "fold", "w")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )

    # (token, class): per-fold counts once, totals derived from them
    # (the second agg reads the already-Heaps-bounded first, and the
    # leave-one-out grid left-joins back on (w, cls, fold))
    wcf = (
        tfc.groupBy("w", "cls", "fold")
        .agg(F.sum("tf").alias("cnt_f"))
        .localCheckpoint(eager=False)
    )
    wct = wcf.groupBy("w", "cls").agg(F.sum("cnt_f").alias("cnt_t"))
    model_cnt = (
        wct.join(folds)
        .join(wcf, ["w", "cls", "fold"], "left")
        .select(
            "w",
            "cls",
            "fold",
            (F.col("cnt_t") - F.coalesce("cnt_f", F.lit(0))).alias("cnt"),
        )
        .filter(F.col("cnt") > 0)
    )

    # class token totals per training complement (classes × k rows) —
    # a marginal of wcf, not a second token pass
    tcf = wcf.groupBy("cls", "fold").agg(F.sum("cnt_f").alias("t_f"))
    tct = tcf.groupBy("cls").agg(F.sum("t_f").alias("t_t"))
    tot = (
        tct.join(folds)
        .join(tcf, ["cls", "fold"], "left")
        .select(
            "cls",
            "fold",
            (F.col("t_t") - F.coalesce("t_f", F.lit(0))).alias("tot"),
        )
    )

    # per-fold training vocabulary: a token counts for fold i's model
    # iff it occurs OUTSIDE fold i — again a marginal of wcf
    wf = wcf.groupBy("w", "fold").agg(F.sum("cnt_f").alias("u_f"))
    wt = wf.groupBy("w").agg(F.sum("u_f").alias("u_t"))
    voc = (
        wt.join(folds)
        .join(wf, ["w", "fold"], "left")
        .filter(F.col("u_t") > F.coalesce("u_f", F.lit(0)))
        .groupBy("fold")
        .agg(F.count("*").alias("v"))
    )

    # class doc counts + corpus size per training complement
    ncf = d.groupBy(F.col(label_col).alias("cls"), F.col("fold")).agg(
        F.count("*").alias("m_f")
    )
    nct = ncf.groupBy("cls").agg(F.sum("m_f").alias("m_t"))
    nc = (
        nct.join(folds)
        .join(ncf, ["cls", "fold"], "left")
        .select(
            "cls",
            "fold",
            (F.col("m_t") - F.coalesce("m_f", F.lit(0))).alias("n_c"),
        )
    )
    nf = d.groupBy("fold").agg(F.count("*").alias("q_f"))
    na = d.agg(F.count("*").alias("q_t"))
    nn = (
        folds.join(F.broadcast(na))
        .join(nf, ["fold"], "left")
        .select(
            "fold",
            (F.col("q_t") - F.coalesce("q_f", F.lit(0))).alias("n"),
        )
    )

    # a class is a candidate for fold i only if it has training docs
    classes = (
        nc.join(tot, ["cls", "fold"])
        .join(voc, "fold")
        .join(nn, "fold")
        .filter(F.col("n_c") > 0)
        .select(
            "cls",
            "fold",
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
    )
    # ≤ classes × k rows, read by three consumers: eager-materialize
    # once so each broadcast build does not re-run the count chain
    # (broadcast builds never see ReusedExchange)
    classes = classes.localCheckpoint(eager=True)

    model = model_cnt.join(
        F.broadcast(classes.select("cls", "fold", "tot", "v")), ["cls", "fold"]
    ).select(
        "w",
        "cls",
        "fold",
        F.round(
            F.lit(MILLI)
            * F.log((F.col("cnt") + 1.0) / (F.col("tot") + F.col("v")))
        )
        .cast("long")
        .alias("ll_milli"),
    )

    # predict: each document scored against ITS OWN fold's held-out
    # model (the fold column rides the tf table, so the model join is
    # a plain (w, cls, fold) hash join). tf is the SAME materialized
    # table the model counts came from — cls is a function of id, so
    # projecting it away leaves exactly the (id, fold, w) tf rows.
    base = d.select(
        F.col(id_col).alias("id"), F.col(label_col).alias("label"), "fold"
    )
    tf = tfc.select("id", "fold", "w", "tf")
    scored = (
        tf.join(F.broadcast(classes.select("cls", "fold", "miss_milli")), "fold")
        .join(model, ["w", "cls", "fold"], "left")
        .select(
            "id",
            "cls",
            "fold",
            (
                F.col("tf") * F.coalesce(F.col("ll_milli"), F.col("miss_milli"))
            ).alias("s"),
        )
        .groupBy("id", "cls", "fold")
        .agg(F.sum("s").alias("tok_milli"))
    )
    full = (
        base.join(
            F.broadcast(classes.select("cls", "fold", "prior_milli")), "fold"
        )
        .join(scored, ["id", "cls", "fold"], "left")
        .select(
            "id",
            "label",
            "fold",
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
        .select(
            "fold", "id", "label", F.col("cls").alias("pred"), "score_milli"
        )
    )

"""Semi-structured surface, doc-term/n-gram analytics, approximate
aggregates, data layout, ranking windows, set operations.
Split out of queries.py (round 10); definitions verbatim."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .catalog import load_table
from .operators import relational as R
from .operators import textstats as TS
from .queries_base import register, STOPWORDS_SQL
from .q_text import _BPE_SQL_PAT, _sql_lang_ratio  # noqa: F401
from .q_traindata import _BUCKET_SQL  # noqa: F401


# --------------------------------------------------------------------
# semi-structured (JSON) surface + doc-term matrix + corpus n-grams
# --------------------------------------------------------------------


@register(
    "json_props_stats",
    "SELECT event_type, "
    # outer CAST: DuckDB SUM(BIGINT) is HUGEINT → pandas float64
    "CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) "
    "AS BIGINT) AS sum_k, "
    "COUNT(json_extract_string(props, '$.k')) AS n_with_k "
    "FROM events GROUP BY event_type",
)
def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column surface: JSON path extraction
    (get_json_object — Jackson JVM-side, codegen-compatible) feeding
    an exact integer aggregate. At 100 TB prefer from_json with a
    pinned schema once the shape is known (single parse, columnar
    struct); the path form is for exploratory/ragged JSON."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return events.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.count(k).alias("n_with_k")
    )


@register(
    "json_single_parse_stats",
    "WITH p AS (SELECT event_type, "
    "CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events) "
    "SELECT event_type, CAST(SUM(k) AS BIGINT) AS sum_k, "
    "MIN(k) AS min_k, MAX(k) AS max_k, "
    "COUNT(DISTINCT k) AS n_distinct_k FROM p GROUP BY event_type",
)
def json_single_parse_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for semi-structured columns that
    `json_props_stats`'s docstring points at: `from_json` with a
    PINNED schema — the JSON is parsed ONCE into a columnar struct,
    then every downstream expression reads struct fields (codegen
    field access), vs `get_json_object` re-running Jackson per path
    per row. Same exact-integer aggregation discipline; the
    distinct-agg adds Catalyst's two-phase expand on top."""
    events = load_table(spark, sf_dir, "events")
    parsed = events.select(
        "event_type", F.from_json("props", "k LONG").alias("p")
    ).select("event_type", F.col("p.k").alias("k"))
    return parsed.groupBy("event_type").agg(
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.countDistinct("k").alias("n_distinct_k"),
    )


@register(
    "doc_term_stats",
    "WITH tf AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term "
    "FROM documents), "
    "tfc AS (SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY 1, 2), "
    "dfc AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY 1), "
    "ranked AS (SELECT doc_id, term, tf, df, row_number() OVER "
    "(PARTITION BY doc_id ORDER BY tf DESC, term) AS rnk "
    "FROM tfc JOIN dfc USING (term)) "
    "SELECT doc_id, term, tf, df FROM ranked WHERE rnk <= 5",
)
def doc_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The doc-term matrix relational core (A4/A5's exact twin): term
    frequency per doc, document frequency per term, per-doc top-5
    terms. explode -> two hash aggs (both map-side combinable) ->
    df join -> WindowGroupLimit top-k per doc. The CountVectorizer
    path in topics.py is this plan with vocab pruning; exact integer
    outputs keep it oracle-able (idf's log stays caller-side — libm
    rounding differs across engines)."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    tfc = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfc = tfc.groupBy("term").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tf"), F.col("term"))
    return (
        tfc.join(dfc, "term")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("doc_id", "term", "tf", "df")
    )


@register(
    "tfidf_top_terms",
    "WITH n AS (SELECT COUNT(*) AS n_docs FROM documents), "
    "tf AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term "
    "FROM documents), "
    "tfc AS (SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY 1, 2), "
    "dfc AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY 1), "
    "scored AS (SELECT doc_id, term, tf, df, "
    "tf * (n_docs + 1) AS score_num, df + 1 AS score_den, "
    "row_number() OVER (PARTITION BY doc_id ORDER BY "
    "CAST(tf * (n_docs + 1) AS DOUBLE) / (df + 1) DESC, term) AS rnk "
    "FROM tfc JOIN dfc USING (term) CROSS JOIN n) "
    "SELECT doc_id, rnk, term, tf, df, score_num, score_den "
    "FROM scored WHERE rnk <= 5",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-5 terms per document with an EXACT rational idf —
    the keyword-extraction / salient-term primitive of search and
    corpus-quality work, and the reason `doc_term_stats` stops at
    raw (tf, df): `log` is libm-rounded differently per engine, so a
    logged idf can't value-hash across Spark and DuckDB. Here
    idf = (N+1)/(df+1) (add-one smoothed, log-free): score
    numerator/denominator are exact int64 products, and the ranking
    key `score_num / score_den` is ONE correctly-rounded IEEE
    division — bit-identical in both engines — with a term-asc tie
    break. The log variant is the same plan with
    `F.log((N+1)/(df+1))` substituted caller-side.

    Plan: explode -> two map-side-combinable hash aggs (tf, df) ->
    df join (term dimension; at 100 TB stays a shuffle join on term
    — high-DF stopword terms are the skew keys, AQE skew-split
    bounds them) -> per-doc WindowGroupLimit top-5 (no global sort).
    The corpus count N rides in as a broadcast 1-row cross join, not
    a driver round-trip in the plan."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    n = docs.agg(F.count("*").alias("n_docs"))
    tfc = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfc = tfc.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tfc.join(dfc, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("score_num", F.col("tf") * (F.col("n_docs") + 1))
        .withColumn("score_den", F.col("df") + 1)
    )
    w = Window.partitionBy("doc_id").orderBy(
        (F.col("score_num").cast("double") / F.col("score_den")).desc(),
        F.col("term"),
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("doc_id", "rnk", "term", "tf", "df", "score_num", "score_den")
    )


@register(
    "top_bigrams",
    "WITH t AS (SELECT string_split(text, ' ') AS w FROM documents), "
    "b AS (SELECT unnest(list_transform(range(0, greatest(len(w) - 1, 0)), "
    "i -> array_to_string(w[i+1:i+2], ' '))) AS bigram FROM t) "
    "SELECT bigram, COUNT(*) AS n FROM b GROUP BY bigram "
    "ORDER BY n DESC, bigram LIMIT 100",
)
def top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide n-gram counting (the wordcount of LLM-data work —
    vocabulary induction, contamination lists): explode bigrams ->
    hash agg with map-side partial combine -> top-100 via
    TakeOrderedAndProject. The explode is the scan-dominant stage and
    stays linear; no driver-side state."""
    from .functions.tokenize import word_shingles

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return (
        docs.select(
            F.explode(word_shingles(F.split("text", " "), 2)).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.col("bigram"))
        .limit(100)
    )


# --------------------------------------------------------------------
# approximate aggregates: the 100 TB fast path for exact twins above
# --------------------------------------------------------------------


@register(
    "approx_distinct_users",
    # deterministic-BOUND oracle: the estimate itself is
    # engine-defined, but the certified claim — "the HLL estimate is
    # within 5*rsd of the exact distinct count" — is a boolean both
    # engines can state. DuckDB asserts TRUE unconditionally; Spark
    # computes the bound for real, so any sketch drift past the
    # tolerance hash-mismatches the driver row.
    "SELECT event_type, COUNT(DISTINCT user_id) AS n_users_exact, "
    "TRUE AS hll_within_tol FROM events GROUP BY event_type",
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct counts per event_type (rsd=2%) — the
    scale path for ``distinct_users_per_type``: single-pass, fixed
    ~1.5 KB sketch per group, no Expand/two-phase distinct shuffle of
    the full key set. Certified via a deterministic error bound: the
    row carries the exact count (hash-comparable) plus a boolean
    asserting |approx − exact| <= max(5·rsd·exact, 16) — generous vs
    the 2-3 sigma envelope, so the check is deterministic, yet tight
    enough that a broken sketch (or a silently changed rsd) fails.
    The exact twin rides along ONLY for certification; the production
    scale path is the approx aggregate alone
    (``distinct_users_per_type`` is the exact reference query)."""
    events = load_table(spark, sf_dir, "events")
    tol = F.greatest(
        F.round(F.col("n_users_exact") * 0.10).cast("long"), F.lit(16)
    )
    return (
        events.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("__approx"),
            F.countDistinct("user_id").alias("n_users_exact"),
        )
        .select(
            "event_type",
            "n_users_exact",
            (
                F.abs(F.col("__approx") - F.col("n_users_exact")) <= tol
            ).alias("hll_within_tol"),
        )
    )


@register(
    "approx_price_quantiles",
    # deterministic-BOUND oracle: GK guarantees rank error <= eps*n
    # (eps = 1/accuracy); the certified claim is the integer
    # cross-multiplied rank window, TRUE on the DuckDB side.
    "SELECT l_returnflag, p_pct, CAST(COUNT(*) AS BIGINT) AS n, "
    "TRUE AS rank_ok FROM lineitem "
    "CROSS JOIN (VALUES (25), (50), (75)) v(p_pct) "
    "GROUP BY l_returnflag, p_pct",
)
def approx_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approximate grouped quantiles (the t-digest-
    class scale path for ``price_quantiles``): mergeable fixed-size
    summaries instead of the exact ``percentile`` sort-per-group.
    Certified via the GK rank guarantee: for each returned quantile
    value v at fraction p, the number of rows <= v must sit within
    eps·n + 1 of rank p·n (eps = 1/accuracy = 1e-4). The rank count
    is ONE extra broadcast-join pass over the group (3 quantile rows
    per group broadcast against the fact scan — no sort, no second
    shuffle); all arithmetic is integer cross-multiplied, so the
    boolean is deterministic in any engine. The exact quantile twin
    is ``price_quantiles``."""
    li = load_table(spark, sf_dir, "lineitem")
    q = (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx(
                "l_extendedprice", [0.25, 0.5, 0.75], 10_000
            ).alias("__qs"),
            F.count("*").alias("n"),
        )
        .select(
            "l_returnflag", "n", F.posexplode("__qs").alias("__i", "__qv")
        )
        .select(
            "l_returnflag",
            "n",
            ((F.col("__i") + 1) * 25).cast("int").alias("p_pct"),
            "__qv",
        )
    )
    counts = (
        li.select("l_returnflag", "l_extendedprice")
        .join(F.broadcast(q), "l_returnflag")
        .groupBy("l_returnflag", "p_pct", "n")
        .agg(
            F.sum(
                (F.col("l_extendedprice") <= F.col("__qv")).cast("long")
            ).alias("__le"),
            F.sum(
                (F.col("l_extendedprice") < F.col("__qv")).cast("long")
            ).alias("__lt"),
        )
    )
    # GK: exists a rank r in [min_rank(v), max_rank(v)] with
    # |r - p*n| <= eps*n. Cross-multiply by 100 (p_pct) to stay
    # integral: tol = n div 10000 + 1 covers eps*n rounding.
    tol = F.expr("n div 10000") + F.lit(1)
    rank_ok = (
        (F.col("__le") * 100 >= F.col("p_pct") * F.col("n") - 100 * tol)
        & (F.col("__lt") * 100 <= F.col("p_pct") * F.col("n") + 100 * tol)
    )
    return counts.select(
        "l_returnflag", "p_pct", F.col("n").cast("long").alias("n"),
        rank_ok.alias("rank_ok"),
    )


_CMS_SQL = """
WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS k, user_id FROM events),
hr AS (SELECT i FROM (VALUES (0), (1), (2), (3), (4)) t(i)),
cells AS (
  SELECT i AS row_i,
         CAST('0x' || substr(md5('cms-r' || CAST(i AS VARCHAR) || ':' || k),
              1, 8) AS BIGINT) % 64 AS col_j,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM ev CROSS JOIN hr GROUP BY 1, 2
),
probes AS (SELECT DISTINCT user_id, k FROM ev),
est AS (
  SELECT p.user_id, MIN(c.cnt) AS est_count
  FROM probes p CROSS JOIN hr
  JOIN cells c ON c.row_i = hr.i
   AND c.col_j = CAST('0x' || substr(md5('cms-r' || CAST(hr.i AS VARCHAR)
                 || ':' || p.k), 1, 8) AS BIGINT) % 64
  GROUP BY p.user_id
),
exact AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_count
          FROM events GROUP BY user_id)
SELECT e.user_id, est.est_count, e.exact_count,
       est.est_count - e.exact_count AS overcount
FROM est JOIN exact e USING (user_id)
"""


@register("cms_user_event_counts", _CMS_SQL)
def cms_user_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation (Cormode & Muthukrishnan
    2005): a 5x64 counter table over events.user_id, probed for every
    distinct user. Unlike the HLL/GK bound-certified rows above, CMS
    built on md5 hashing is FULLY deterministic, so the estimates
    themselves hash-match a DuckDB replay of the identical sketch —
    the exact count rides along to exhibit the one-sided guarantee
    (overcount >= 0 always; <= (e/width)*N w.p. 1-e^-depth).

    Scale shape: sketch build is one hash-aggregate whose shuffle is
    capped at n_tasks*depth*width rows by partial combine regardless
    of input size; the probe broadcasts the 320-row sketch (map-side
    hash join), then one min-aggregation per key. Counter tables from
    different shards/days merge by cell-wise addition — the
    incremental path at 100 TB (same contract as
    ``sketch_distinct_users_daily``'s HLL union)."""
    from .operators import profiling as P

    events = load_table(spark, sf_dir, "events")
    sketch = P.build_cms(events, "user_id", depth=5, width=64)
    probes = events.select("user_id").distinct()
    est = P.cms_estimate(sketch, probes, "user_id", depth=5, width=64)
    exact = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    return est.join(exact, "user_id").select(
        "user_id",
        "est_count",
        "exact_count",
        (F.col("est_count") - F.col("exact_count")).alias("overcount"),
    )


_KMV_K = 64
_KMV_SPACE = 1 << 48

def _kmv_setops_sql(per_where: str = "") -> str:
    """The KMV per-type + union + intersect oracle; ``per_where``
    optionally restricts the per-type rows (the streaming variant
    maintains state only for the click/view pair)."""
    return (
        "WITH hv AS (SELECT DISTINCT event_type, "
        "CAST(('0x' || substr(md5('kmv-v1:' || CAST(user_id AS VARCHAR)), "
        "1, 12)) AS UBIGINT) AS hv FROM events), "
        "sk AS (SELECT event_type, hv FROM (SELECT event_type, hv, "
        "row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn "
        f"FROM hv) WHERE rn <= {_KMV_K}), "
        "per AS (SELECT 'type:' || event_type AS scope, "
        f"CASE WHEN COUNT(*) >= {_KMV_K} THEN "
        f"{_KMV_K - 1} * {_KMV_SPACE} // MAX(hv) "
        f"ELSE COUNT(*) END AS est FROM sk {per_where}"
        "GROUP BY event_type), "
        + _KMV_SETOPS_TAIL
    )


_KMV_SETOPS_TAIL = (
    "u AS (SELECT hv FROM (SELECT DISTINCT hv FROM sk "
    "WHERE event_type IN ('click', 'view')) "
    f"ORDER BY hv LIMIT {_KMV_K}), "
    "ustat AS (SELECT COUNT(*) AS n, MAX(hv) AS hk FROM u), "
    f"uest AS (SELECT n, CASE WHEN n >= {_KMV_K} THEN "
    f"{_KMV_K - 1} * {_KMV_SPACE} // hk ELSE n END AS est FROM ustat), "
    "xc AS (SELECT COUNT(*) AS x FROM u WHERE "
    "hv IN (SELECT hv FROM sk WHERE event_type = 'click') AND "
    "hv IN (SELECT hv FROM sk WHERE event_type = 'view')) "
    "SELECT scope, CAST(est AS BIGINT) AS est FROM per "
    "UNION ALL SELECT 'union:click+view', CAST(est AS BIGINT) FROM uest "
    "UNION ALL SELECT 'intersect:click+view', "
    "CAST(CASE WHEN n > 0 THEN x * est // n ELSE 0 END "
    "AS BIGINT) FROM xc, uest"
)


_KMV_STREAM_SQL = (
    "WITH hv AS (SELECT DISTINCT event_type, "
    "CAST(('0x' || substr(md5('kmv-v1:' || CAST(user_id AS VARCHAR)), "
    "1, 12)) AS UBIGINT) AS hv FROM events), "
    "sk AS (SELECT event_type, hv FROM (SELECT event_type, hv, "
    "row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn "
    f"FROM hv) WHERE rn <= {_KMV_K}) "
    "SELECT event_type, CAST(CASE WHEN COUNT(*) >= "
    f"{_KMV_K} THEN {_KMV_K - 1} * {_KMV_SPACE} // MAX(hv) "
    "ELSE COUNT(*) END AS BIGINT) AS est FROM sk GROUP BY event_type"
)


@register("streaming_kmv_distinct", _KMV_STREAM_SQL)
def streaming_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-count with PERSISTENT KMV state
    (streaming/ingest.kmv_stream): each micro-batch writes its
    per-type k-min delta as a (lineage, batch) dynamic partition;
    the merged sketch is the k smallest DISTINCT hashes across all
    deltas — k-min-of-union, idempotent under epoch replay even
    WITHOUT the partition overwrite (duplication is absorbed by
    distinct), the set-cardinality sibling of the cms_stream counter
    state. Because md5-KMV is fully deterministic, the drained
    merged sketch equals the batch-built sketch EXACTLY, so the
    batch KMV estimate SQL is the oracle — a streaming sketch
    pipeline certified value-exact cross-engine. At 100 TB: each
    delta is ≤ k rows per (partition, group) at write time
    (WindowGroupLimit, contract-locked on the batch twin); the
    merge reads n_batches × k-row deltas, never raw history."""
    import shutil
    import tempfile

    from .operators.profiling import kmv_estimate
    from .streaming.ingest import kmv_stream, read_kmv_sketch

    # establishes the nanos-ts read conf for the raw events schema
    load_table(spark, sf_dir, "events")
    ev_path = f"{sf_dir}/events.parquet"
    # one per-run root so the sketch + checkpoint state can be removed
    # as a unit once the estimate is materialized — repeated bench /
    # correctness invocations must not accumulate orphaned temp state
    run_root = tempfile.mkdtemp(prefix="kmv_run_")
    q = kmv_stream(
        spark,
        ev_path,
        f"{run_root}/sketch",
        f"{run_root}/ckpt",
        key="user_id",
        group_cols=["event_type"],
        k=_KMV_K,
    )
    q.awaitTermination()
    sk = read_kmv_sketch(spark, f"{run_root}/sketch", ["event_type"], k=_KMV_K)
    est = kmv_estimate(sk, ["event_type"], k=_KMV_K)
    # materialize the ≤ #types-row estimate before deleting the state
    # it reads from, then hand back a self-contained local relation
    out = spark.createDataFrame(est.collect(), est.schema)
    shutil.rmtree(run_root, ignore_errors=True)
    return out


@register(
    "streaming_kmv_setops",
    _kmv_setops_sql("WHERE event_type IN ('click', 'view') "),
)
def streaming_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations ACROSS separately-maintained streaming KMV
    states: TWO kmv_stream pipelines drain the event feed — one
    keeps click state, one keeps view state, each in its own sketch
    table with its own checkpoint lineage — and the answer
    (per-scope estimate, union, intersection) is computed over the
    two merged states with the SAME kmv_setops algebra the batch
    sketches use. That is the point of KMV over HLL-family state:
    independently-owned streaming pipelines can answer overlap
    questions about each other's domains after the fact, without a
    joint pipeline. md5 determinism makes the merged streaming
    sketch EQUAL the batch sketch, so the batch set-op SQL (per-type
    rows restricted to the maintained pair) is the oracle —
    hash-exact cross-engine. At 100 TB: each delta is ≤ k rows per
    group per batch; the set-op legs read n_batches × k-row deltas,
    never raw history."""
    import shutil
    import tempfile

    from .operators.profiling import kmv_estimate, kmv_setops
    from .streaming.ingest import kmv_stream, read_kmv_sketch

    load_table(spark, sf_dir, "events")
    ev_path = f"{sf_dir}/events.parquet"
    run_root = tempfile.mkdtemp(prefix="kmv_setops_run_")
    # the two pipelines are INDEPENDENT by design (separate sketch
    # tables, separate checkpoint lineages — that is the point of the
    # query); start both drains and await both, so the second
    # pipeline's micro-batches back-fill the first's stragglers
    # (guide §2.6) instead of serializing two full stream startups
    drains = [
        kmv_stream(
            spark,
            ev_path,
            f"{run_root}/{scope}/sketch",
            f"{run_root}/{scope}/ckpt",
            key="user_id",
            group_cols=["event_type"],
            k=_KMV_K,
            where=f"event_type = '{scope}'",
        )
        for scope in ("click", "view")
    ]
    for q in drains:
        q.awaitTermination()
    sk = read_kmv_sketch(
        spark, f"{run_root}/click/sketch", ["event_type"], k=_KMV_K
    ).unionByName(
        read_kmv_sketch(
            spark, f"{run_root}/view/sketch", ["event_type"], k=_KMV_K
        )
    )
    per = kmv_estimate(sk, ["event_type"], k=_KMV_K).select(
        F.concat(F.lit("type:"), F.col("event_type")).alias("scope"),
        F.col("est").cast("long").alias("est"),
    )
    out_df = per.unionByName(
        kmv_setops(sk, "event_type", "click", "view", k=_KMV_K)
    )
    # materialize the 4-row answer before deleting the state it reads
    out = spark.createDataFrame(out_df.collect(), out_df.schema)
    shutil.rmtree(run_root, ignore_errors=True)
    return out


@register("kmv_distinct_setops", _kmv_setops_sql())
def kmv_distinct_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct sketch with SET OPERATIONS
    (Beyer et al. 2007): per-event-type distinct-user estimates,
    plus the union AND intersection estimate for the click/view
    pair — the capability HLL-family sketches lack (HLL unions but
    cannot intersect; KMV's union sketch overlaps with the input
    sketches estimate |A∩B| directly as x · est_union div n).
    md5-prefix hashing (the engine's cross-engine flavor) makes the
    whole sketch DETERMINISTIC: estimates hash-match in DuckDB
    exactly — no bound certificate needed, unlike
    approx_distinct_users' HLL. 48-bit hashes keep (k−1)·2⁴⁸ div h_k
    inside BIGINT. At 100 TB: one distinct (type, hash) shuffle, and
    the k-min window is PHYSICALLY two-level (WindowGroupLimit runs
    a partial per-partition top-k below the group Exchange —
    contract-locked), so only ≤ k rows per (partition, group) ever
    shuffle; sketches are ≤ k rows — merge and intersect cost
    nothing. Sketch rows persist once because the union/intersect
    legs re-read them."""
    from .operators.profiling import kmv_estimate, kmv_setops, kmv_sketch

    events = load_table(spark, sf_dir, "events")
    sk = kmv_sketch(events, "user_id", ["event_type"], k=_KMV_K).persist()
    per = kmv_estimate(sk, ["event_type"], k=_KMV_K).select(
        F.concat(F.lit("type:"), F.col("event_type")).alias("scope"),
        F.col("est").cast("long").alias("est"),
    )
    return per.unionByName(
        kmv_setops(sk, "event_type", "click", "view", k=_KMV_K)
    )


# --------------------------------------------------------------------
# data layout: Z-order clustering for multi-dimensional scan pruning
# --------------------------------------------------------------------


def _zorder_sql() -> str:
    from .operators.layout import morton_z2_sql

    z = morton_z2_sql("x_cell", "y_cell", 8)
    return (
        "WITH q AS (SELECT event_id, "
        "LEAST(CAST(FLOOR(value / 2) AS BIGINT), 255) AS x_cell, "
        "user_id % 256 AS y_cell FROM events) "
        f"SELECT event_id, x_cell, y_cell, {z} AS zval "
        "FROM q ORDER BY zval, event_id LIMIT 1000"
    )


@register("zorder_event_cells", _zorder_sql())
def zorder_event_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-curve) cell assignment over two quantized dimensions
    of events — the clustering key behind ``layout.zorder_write``
    (Delta/Iceberg OPTIMIZE ZORDER BY semantics). The interleave is
    4*bits unrolled JVM bit ops (whole-stage codegen, no UDF) and the
    oracle replays the identical bit math in SQL, so the certified
    claim covers the exact curve, not just row counts. Sorting a
    100 TB table by this value is ONE range-repartition write; the
    payoff is file-stats pruning on EITHER dimension
    (tests/test_layout.py measures it on real parquet row groups)."""
    from .operators.layout import morton_z2

    ev = load_table(spark, sf_dir, "events")
    q = ev.select(
        "event_id",
        F.least(
            F.floor(F.col("value") / 2).cast("long"), F.lit(255).cast("long")
        ).alias("x_cell"),
        (F.col("user_id") % 256).alias("y_cell"),
    )
    return (
        q.select(
            "event_id",
            "x_cell",
            "y_cell",
            morton_z2(F.col("x_cell"), F.col("y_cell"), 8).alias("zval"),
        )
        .orderBy("zval", "event_id")
        .limit(1000)
    )


# --------------------------------------------------------------------
# ranking / lead-lag window surface + set operations
# --------------------------------------------------------------------


@register(
    "rank_orders_in_priority",
    "WITH r AS (SELECT o_orderpriority, o_orderkey, o_totalprice, "
    "rank() OVER w AS rnk, dense_rank() OVER w AS drnk, "
    "ntile(4) OVER w AS quartile FROM orders "
    "WINDOW w AS (PARTITION BY o_orderpriority "
    "ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT) DESC, o_orderkey)) "
    "SELECT o_orderpriority, o_orderkey, rnk, drnk, quartile "
    "FROM r WHERE rnk <= 50",
)
def rank_orders_in_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking surface: rank / dense_rank / ntile in one window pass
    (one shuffle on the partition key; the rank<=50 filter becomes a
    WindowGroupLimit pushdown so each partition keeps a 50-row heap
    rather than sorting everything at 100 TB). Ordering ties broken
    by o_orderkey -> fully deterministic cross-engine."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.round(F.col("o_totalprice") * 100).cast("long").desc(), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_orderpriority",
            "o_orderkey",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .filter(F.col("rnk") <= 50)
    )


@register(
    "event_interarrival_stats",
    "WITH d AS (SELECT user_id, "
    "epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) "
    "AS gap_us FROM events) "
    "SELECT user_id, COUNT(gap_us) AS n_gaps, "
    "CAST(SUM(gap_us) AS BIGINT) AS total_gap_us, "
    "CAST(MAX(gap_us) AS BIGINT) AS max_gap_us "
    "FROM d WHERE gap_us IS NOT NULL GROUP BY user_id",
)
def event_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag surface: per-user inter-arrival gaps (lag over event
    time) aggregated to exact integer stats. Gaps are whole
    microseconds (unix_micros / epoch_us — both engines truncate
    nanos identically; epoch seconds would be fractional in DuckDB
    but truncated in Spark). The window and the groupBy share the
    user_id hash partitioning — one shuffle total, the aggregation
    partial-combined map-side."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = R.epoch_us("ts")
    gap = us - F.lag(us).over(w)
    return (
        events.select("user_id", gap.alias("gap_us"))
        .filter(F.col("gap_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("gap_us").alias("n_gaps"),
            F.sum("gap_us").alias("total_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
        )
    )


@register(
    "setop_intersect_except",
    "WITH click_users AS (SELECT DISTINCT user_id FROM events "
    "WHERE event_type = 'click'), "
    "buy_users AS (SELECT DISTINCT user_id FROM events "
    "WHERE event_type = 'purchase') "
    "SELECT 'both' AS cohort, user_id FROM "
    "(SELECT user_id FROM click_users INTERSECT SELECT user_id FROM buy_users) "
    "UNION ALL "
    "SELECT 'click_only' AS cohort, user_id FROM "
    "(SELECT user_id FROM click_users EXCEPT SELECT user_id FROM buy_users)",
)
def setop_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (INTERSECT / EXCEPT): clickers who did / did not
    purchase. Catalyst plans both as hash semi/anti joins over the
    deduped key sets — no full-row sort-based set algebra."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select("user_id").distinct()
    buys = events.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    both = clicks.intersect(buys).select(F.lit("both").alias("cohort"), "user_id")
    only = clicks.exceptAll(buys).select(
        F.lit("click_only").alias("cohort"), "user_id"
    )
    return both.unionByName(only)


@register(
    "tpch_q7_volume_shipping",
    "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
    "CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year, "
    "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * "
    "(100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_scaled "
    "FROM supplier, lineitem, orders, customer, nation n1, nation n2 "
    "WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey "
    "AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey "
    "AND c_nationkey = n2.n_nationkey "
    "AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') "
    "OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) "
    "GROUP BY supp_nation, cust_nation, l_year",
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: one dimension table (nation) playing TWO join
    roles (supplier's vs customer's nation) with a disjunctive
    cross-role predicate. The nation filter is applied to each small
    side BEFORE the fact joins, so supplier/customer shrink to the
    two named nations and broadcast; the only at-scale shuffle is
    lineitem ⋈ orders on orderkey. The OR-of-pairs predicate runs
    post-join on two broadcast-joined label columns — never a
    nested-loop join."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    two = nation.filter(F.col("n_name").isin("NATION_1", "NATION_2"))
    supp_n = supplier.join(
        F.broadcast(two.select(F.col("n_nationkey").alias("sk"),
                               F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("sk"),
    ).select("s_suppkey", "supp_nation")
    cust_n = customer.join(
        F.broadcast(two.select(F.col("n_nationkey").alias("ck"),
                               F.col("n_name").alias("cust_nation"))),
        F.col("c_nationkey") == F.col("ck"),
    ).select("c_custkey", "cust_nation")
    price = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.join(F.broadcast(supp_n), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust_n), F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(price * (100 - disc)).alias("revenue_scaled"))
    )


@register(
    "tpch_q11_important_parts",
    "WITH pv AS (SELECT l_partkey, "
    "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * "
    "CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS value_scaled "
    "FROM lineitem GROUP BY l_partkey) "
    "SELECT l_partkey, value_scaled FROM pv "
    "WHERE value_scaled * (SELECT COUNT(*) FROM pv) > "
    "2 * (SELECT SUM(value_scaled) FROM pv)",
)
def tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (partsupp→lineitem adaptation: traded value
    per part vs a global-total scalar subquery). Two-level plan: one
    partial+final hash agg by partkey, then the grand total — a
    1-row aggregate — broadcast onto the per-part rows via cross
    join, so the HAVING-vs-global comparison never shuffles the
    per-part side again. All-integer arithmetic: the ">2x the mean
    part value" threshold is cross-multiplied
    (`val*n_parts > 2*total`) — scale-invariant (a fixed share
    fraction goes trivial/empty as #parts grows), no fp."""
    li = load_table(spark, sf_dir, "lineitem")
    price = F.round(F.col("l_extendedprice") * 100).cast("long")
    qty = F.round(F.col("l_quantity") * 100).cast("long")
    pv = (
        li.groupBy("l_partkey")
        .agg(F.sum(price * qty).alias("value_scaled"))
    )
    total = pv.agg(
        F.sum("value_scaled").alias("grand_total"),
        F.count("*").alias("n_parts"),
    )
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(
            F.col("value_scaled") * F.col("n_parts")
            > 2 * F.col("grand_total")
        )
        .select("l_partkey", "value_scaled")
    )


@register(
    "tpch_q13_order_distribution",
    "SELECT c_count, COUNT(*) AS custdist FROM ("
    "SELECT c_custkey, COUNT(o_orderkey) AS c_count "
    "FROM customer LEFT OUTER JOIN orders "
    "ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT' "
    "GROUP BY c_custkey) c_orders "
    "GROUP BY c_count",
)
def tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of orders per customer —
    left-OUTER join with a non-key predicate INSIDE the join
    condition (customers whose only orders are urgent must surface
    with count 0, so the filter cannot be a WHERE), then two stacked
    aggregations. COUNT(o_orderkey) counts non-null matches only —
    expressed as `count(o_orderkey)` which skips the outer-join
    nulls in both engines. The second agg's input is ≤ #customers
    rows, so its shuffle is trivial at any scale."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        customer.select("c_custkey")
        .join(
            orders.select("o_custkey", "o_orderkey", "o_orderpriority"),
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "tpch_q15_top_supplier",
    "WITH rev AS (SELECT l_suppkey, "
    "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * "
    "(100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) AS total_rev_scaled "
    "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00' GROUP BY l_suppkey) "
    "SELECT s_suppkey, s_name, total_rev_scaled "
    "FROM supplier, rev WHERE s_suppkey = l_suppkey "
    "AND total_rev_scaled = (SELECT MAX(total_rev_scaled) FROM rev)",
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: argmax-by-equality against a scalar MAX
    subquery (the revenue view). The quarter's per-supplier revenue
    is aggregated once and reused for both the MAX and the equality
    probe — authored as one cached-free plan: agg → 1-row max
    broadcast → filter, then broadcast-join supplier names. Exact
    integer revenue makes the equality safe cross-engine (fp sums
    would make `= MAX` nondeterministic)."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    price = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(price * (100 - disc)).alias("total_rev_scaled"))
    )
    mx = rev.agg(F.max("total_rev_scaled").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev_scaled") == F.col("mx"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_name")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev_scaled")
    )


@register(
    "tpch_q16_supplier_cnt",
    "SELECT p_brand, p_type, p_size, "
    "COUNT(DISTINCT l_suppkey) AS supplier_cnt "
    "FROM lineitem, part WHERE p_partkey = l_partkey "
    "AND p_brand <> 'Brand#1' AND p_size IN (1, 4, 9, 16, 25, 36, 49) "
    "AND l_suppkey NOT IN "
    "(SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) "
    "GROUP BY p_brand, p_type, p_size",
)
def tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (partsupp→lineitem adaptation; 'complaint'
    suppliers = negative acctbal): NOT-IN exclusion + grouped
    COUNT(DISTINCT). The exclusion list is a handful of keys —
    aggregated then broadcast anti-joined, so the fact side never
    shuffles for it (s_suppkey is non-null, so anti-join ≡ NOT IN;
    a nullable exclusion key would need Spark's null-aware anti
    join, i.e. the `NOT IN` SQL front-end). The distinct-agg is
    Catalyst's standard two-shuffle expand."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    bad = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    keep_parts = part.filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        li.select("l_partkey", "l_suppkey")
        .join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"),
              "left_anti")
        .join(F.broadcast(keep_parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q17_small_qty_revenue",
    "WITH pq AS (SELECT l_partkey AS pk, "
    "CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_q_scaled, "
    "COUNT(*) AS cnt FROM lineitem GROUP BY l_partkey) "
    "SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) "
    "/ 100.0 / 7.0 AS avg_yearly "
    "FROM lineitem, part, pq WHERE p_partkey = l_partkey AND pk = l_partkey "
    "AND p_brand = 'Brand#2' "
    "AND CAST(ROUND(l_quantity * 100) AS BIGINT) * cnt * 5 < sum_q_scaled",
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar-AVG subquery
    (`l_quantity < 0.2 * AVG(l_quantity) per part`), decorrelated to
    a per-part aggregate joined back to the fact — the standard
    rewrite Catalyst itself applies to correlated scalar subqueries.
    The AVG comparison is cross-multiplied into integers
    (`q*cnt*5 < sum`) so the threshold is exact in both engines —
    a fp average would flip rows at the boundary. p_brand prunes
    parts before the join; the per-part agg is over full lineitem
    (needed: AVG is per part, not per brand-filtered subset)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    qty = F.round(F.col("l_quantity") * 100).cast("long")
    pq = (
        li.groupBy(F.col("l_partkey").alias("pk"))
        .agg(F.sum(qty).alias("sum_q_scaled"), F.count("*").alias("cnt"))
    )
    brand = part.filter(F.col("p_brand") == "Brand#2").select("p_partkey")
    return (
        li.select("l_partkey", "l_quantity", "l_extendedprice")
        .join(F.broadcast(brand), F.col("l_partkey") == F.col("p_partkey"))
        .join(pq, F.col("l_partkey") == F.col("pk"))
        .filter(qty * F.col("cnt") * 5 < F.col("sum_q_scaled"))
        .agg(
            (F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
             / 100.0 / 7.0).alias("avg_yearly")
        )
    )


@register(
    "tpch_q22_dormant_customers",
    "WITH pos AS (SELECT CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_s "
    "FROM customer WHERE c_acctbal > 0), "
    "thr AS (SELECT CAST(SUM(bal_s) AS BIGINT) AS sum_s, COUNT(*) AS cnt FROM pos) "
    "SELECT n_name AS nation, COUNT(*) AS numcust, "
    "CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) / 100.0 "
    "AS totacctbal "
    "FROM customer, nation, thr WHERE c_nationkey = n_nationkey "
    "AND CAST(ROUND(c_acctbal * 100) AS BIGINT) * cnt > sum_s "
    "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey "
    "AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00') "
    "GROUP BY n_name",
)
def tpch_q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (phone-prefix→nation adaptation; 'no orders'
    → 'no orders in the final year', since this corpus has no
    order-less customers): above-average balance via a global scalar
    subquery + NOT EXISTS anti-join, grouped by nation. The
    above-average threshold is cross-multiplied to integers
    (`bal*cnt > sum`); the anti-join's right side is the DISTINCT
    recent-buyer key set (pre-aggregated, so the anti probe is
    key-only); nation broadcasts."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    bal = F.round(F.col("c_acctbal") * 100).cast("long")
    thr = (
        customer.filter(F.col("c_acctbal") > 0)
        .agg(F.sum(bal).alias("sum_s"), F.count("*").alias("cnt"))
    )
    recent = (
        orders.filter(
            F.col("o_orderdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp")
        )
        .select("o_custkey")
        .distinct()
    )
    return (
        customer.crossJoin(F.broadcast(thr))
        .filter(bal * F.col("cnt") > F.col("sum_s"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("numcust"),
            (F.sum(bal) / 100.0).alias("totacctbal"),
        )
    )


@register(
    "gapfill_hourly_counts",
    "WITH ev AS (SELECT event_type, date_trunc('hour', ts) AS hr FROM events), "
    "b AS (SELECT MIN(hr) AS mn, MAX(hr) AS mx FROM ev), "
    "spine AS (SELECT event_type, "
    "unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr "
    "FROM (SELECT DISTINCT event_type FROM ev), b), "
    "c AS (SELECT event_type, hr, COUNT(*) AS n FROM ev GROUP BY 1, 2) "
    "SELECT s.event_type, s.hr, COALESCE(n, 0) AS n_events "
    "FROM spine s LEFT JOIN c USING (event_type, hr)",
)
def gapfill_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled time series (timescale-style `time_bucket_gapfill`):
    hourly event counts per type with EMPTY buckets materialized as
    zero rows — the shape every monitoring / training-data freshness
    dashboard needs, and one vanilla groupBy cannot produce (absent
    groups don't exist). The hour spine is generated ENGINE-side
    (`sequence` + `explode` of a 1-row min/max aggregate crossed with
    the distinct key set) — never a driver loop — then left-joined
    with the real counts. At 100 TB the spine is |keys|×|hours| rows
    built from a broadcast 1-row bound, and the left join shuffles on
    the same (key, hour) the counts aggregation already produced."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    )
    bounds = ev.agg(F.min("hr").alias("mn"), F.max("hr").alias("mx"))
    spine = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("mn", "mx", F.expr("interval 1 hour"))
            ).alias("hr"),
        )
    )
    counts = ev.groupBy("event_type", "hr").agg(F.count("*").alias("n"))
    return spine.join(counts, ["event_type", "hr"], "left").select(
        "event_type", "hr", F.coalesce("n", F.lit(0)).alias("n_events")
    )


@register(
    "retention_cohorts",
    "WITH first AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day "
    "FROM events GROUP BY user_id), "
    "act AS (SELECT DISTINCT e.user_id, f.cohort_day, "
    "CAST(ts AS DATE) - cohort_day AS day_n "
    "FROM events e JOIN first f ON e.user_id = f.user_id) "
    "SELECT cohort_day, CAST(day_n AS INT) AS day_n, "
    "COUNT(*) AS n_active FROM act "
    "WHERE day_n IN (0, 1, 7, 14) GROUP BY 1, 2",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention (product analytics): users grouped by
    first-seen day, counted again when active on day 0/1/7/14 after
    it. Two shuffles total — the first-seen MIN aggregation and the
    distinct — and the events↔cohort join co-partitions on user_id
    with both; integer day arithmetic end to end."""
    events = load_table(spark, sf_dir, "events")
    d = F.to_date("ts")
    first = events.groupBy("user_id").agg(F.min(d).alias("cohort_day"))
    act = (
        events.join(first, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(d, F.col("cohort_day")).alias("day_n"),
        )
        .distinct()
    )
    return (
        act.filter(F.col("day_n").isin(0, 1, 7, 14))
        .groupBy("cohort_day", F.col("day_n").cast("int").alias("day_n"))
        .agg(F.count("*").alias("n_active"))
    )


@register(
    "ewma_daily_value",
    # recursive smoothing done EXACTLY: the daily series per type is
    # tiny (≤ #days), so it folds as an ordered list — DuckDB
    # list_reduce seeds with the first element and folds left,
    # mirrored by Spark's slice+aggregate; daily means are exact
    # scaled-int sums; 0.2*x + 0.8*acc is the identical IEEE
    # expression in both engines, so no rounding is needed
    "WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, "
    "CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) "
    "/ (100.0 * COUNT(*)) AS x FROM events GROUP BY 1, 2), "
    "l AS (SELECT event_type, list(x ORDER BY d) AS xs "
    "FROM daily GROUP BY event_type) "
    "SELECT event_type, len(xs) AS n_days, "
    "list_reduce(xs, (acc, v) -> 0.2 * v + 0.8 * acc) AS ewma "
    "FROM l",
)
def ewma_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of the daily mean value
    per event type (alpha=0.2) — the trend-smoothing shape pandas
    ``ewm`` gives the reference's sentiment trends, recursive and so
    inexpressible as a plain window. Made exact AND scalable by the
    two-level shape: the raw table reduces to a per-(type, day)
    aggregate first (one shuffle, partial-combined), and ONLY the
    tiny daily series (≤ #days rows per type) is collected into an
    ordered array and folded deterministically — the fold order is
    pinned, so the fp result is bit-identical across engines and
    partitionings. Never fold raw events this way."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        (
            F.sum(F.round(F.col("value") * 100).cast("long"))
            / (100.0 * F.count("*"))
        ).alias("x")
    )
    series = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("d", "x"))).alias("sx")
    )
    xs = F.col("sx.x")
    ewma = F.aggregate(
        F.slice(xs, 2, F.greatest(F.size(xs) - 1, F.lit(0))),
        F.element_at(xs, 1),
        lambda acc, v: F.lit(0.2) * v + F.lit(0.8) * acc,
    )
    return series.select(
        "event_type",
        F.size(xs).alias("n_days"),
        ewma.alias("ewma"),
    )


@register(
    "time_weighted_avg",
    # exactness: value scaled to int cents, interval widths are exact
    # integer micros, so numerator/denominator are exact integer sums
    # and the average is ONE double division (identical both engines)
    "WITH o AS (SELECT event_type, "
    "CAST(ROUND(value * 100) AS BIGINT) AS v, "
    "epoch_us(ts) AS us, "
    "lead(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY ts, event_id) "
    "AS nxt FROM events) "
    "SELECT event_type, "
    "CAST(SUM(v * (nxt - us)) AS BIGINT) / "
    "(100.0 * CAST(SUM(nxt - us) AS BIGINT)) AS twa "
    "FROM o WHERE nxt IS NOT NULL GROUP BY event_type",
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type (timescale
    `time_weight('LOCF')`): each observation weighted by how long it
    was the latest one. Irregular sampling makes plain AVG wrong —
    a value that held for an hour must count 3600x a value that held
    a second. lead() gives the holding interval; the window and the
    aggregation share one event_type shuffle. Exact integer
    numerator/denominator (scaled cents x micros), one final fp
    division."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    us = R.epoch_us("ts")
    o = events.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v"),
        us.alias("us"),
        F.lead(us).over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    return o.groupBy("event_type").agg(
        (
            F.sum(F.col("v") * (F.col("nxt") - F.col("us")))
            / (100.0 * F.sum(F.col("nxt") - F.col("us")))
        ).alias("twa")
    )


@register(
    "gapfill_interpolate",
    # exactness: hourly means are integer-scaled sums divided once;
    # the interpolation formula is written with IDENTICAL operation
    # order in both engines (prev + (next-prev)*(frac)), and the
    # fraction is a single int/int division — bit-equal doubles, no
    # rounding anywhere
    "WITH ev AS (SELECT event_type, date_trunc('hour', ts) AS hr, "
    "CAST(ROUND(value * 100) AS BIGINT) AS v FROM events), "
    "b AS (SELECT MIN(hr) AS mn, MAX(hr) AS mx FROM ev), "
    "spine AS (SELECT event_type, "
    "unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr "
    "FROM (SELECT DISTINCT event_type FROM ev), b), "
    "hourly AS (SELECT event_type, hr, "
    "CAST(SUM(v) AS BIGINT) / (100.0 * COUNT(*)) AS val "
    "FROM ev GROUP BY 1, 2), "
    "j AS (SELECT s.event_type, s.hr, val, epoch(s.hr) AS hs "
    "FROM spine s LEFT JOIN hourly h "
    "ON s.event_type = h.event_type AND s.hr = h.hr), "
    "w AS (SELECT event_type, hr, val, "
    "last_value(val IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY hr "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv, "
    "last_value(CASE WHEN val IS NOT NULL THEN hs END IGNORE NULLS) "
    "OVER (PARTITION BY event_type ORDER BY hr "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ps, "
    "first_value(val IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY hr "
    "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv, "
    "first_value(CASE WHEN val IS NOT NULL THEN hs END IGNORE NULLS) "
    "OVER (PARTITION BY event_type ORDER BY hr "
    "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ns, hs "
    "FROM j) "
    "SELECT event_type, hr, "
    "CASE WHEN val IS NOT NULL THEN val "
    "WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv "
    "ELSE pv + (nv - pv) * ((hs - ps) / (ns - ps)) END AS value_interp "
    "FROM w",
)
def gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly mean VALUE per event type with LINEAR
    INTERPOLATION across empty buckets (timescale `interpolate`;
    edges carry the nearest observed value). Same scale shape as the
    zero-fill variant — engine-side spine, one (key, hr) shuffle —
    plus two ordered windows per key (forward/backward nearest
    observation); per-key hour counts are bounded (spine length), so
    the window input is small by construction. Means are exact
    scaled-integer sums divided once; the interpolation arithmetic is
    the identical IEEE expression in both engines — no rounding."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    bounds = ev.agg(F.min("hr").alias("mn"), F.max("hr").alias("mx"))
    spine = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("mn", "mx", F.expr("interval 1 hour"))
            ).alias("hr"),
        )
    )
    hourly = ev.groupBy("event_type", "hr").agg(
        (F.sum("v") / (100.0 * F.count("*"))).alias("val")
    )
    j = spine.join(hourly, ["event_type", "hr"], "left").withColumn(
        "hs", R.epoch_seconds("hr")
    )
    back = Window.partitionBy("event_type").orderBy("hr").rowsBetween(
        Window.unboundedPreceding, 0
    )
    fwd = Window.partitionBy("event_type").orderBy("hr").rowsBetween(
        0, Window.unboundedFollowing
    )
    obs_hs = F.when(F.col("val").isNotNull(), F.col("hs"))
    pv = F.last("val", ignorenulls=True).over(back)
    ps = F.last(obs_hs, ignorenulls=True).over(back)
    nv = F.first("val", ignorenulls=True).over(fwd)
    ns = F.first(obs_hs, ignorenulls=True).over(fwd)
    interp = (
        F.when(F.col("val").isNotNull(), F.col("val"))
        .when(pv.isNull(), nv)
        .when(nv.isNull(), pv)
        .otherwise(pv + (nv - pv) * ((F.col("hs") - ps) / (ns - ps)))
    )
    return j.select("event_type", "hr", interp.alias("value_interp"))


@register(
    "histogram_totalprice",
    "SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) // 5000000 AS bucket, "
    "COUNT(*) AS n_orders FROM orders GROUP BY bucket",
)
def histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-width histogram ($50k buckets over order totals) —
    the profiling primitive behind data-distribution dashboards.
    Bucketing is pure integer arithmetic (cents DIV width-in-cents),
    so bucket boundaries are exact in both engines (fp division would
    misplace boundary values). One partial+final hash agg; at 100 TB
    the bucket cardinality is tiny so the map-side combine collapses
    nearly everything before the single Exchange."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.expr(
        "cast(round(o_totalprice * 100) as bigint) div 5000000"
    ).alias("bucket")
    return orders.groupBy(bucket).agg(F.count("*").alias("n_orders"))


@register(
    "tpch_q2_min_cost_supplier",
    "WITH mp AS (SELECT l_partkey AS pk, "
    "MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS min_price_s "
    "FROM lineitem GROUP BY l_partkey) "
    "SELECT l_partkey, MIN(l_suppkey) AS best_supp, min_price_s "
    "FROM lineitem, mp, part WHERE l_partkey = pk "
    "AND CAST(ROUND(l_extendedprice * 100) AS BIGINT) = min_price_s "
    "AND p_partkey = l_partkey AND p_size = 10 "
    "GROUP BY l_partkey, min_price_s",
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (partsupp→lineitem adaptation): groupwise-ARGMIN
    — the supplier quoting the minimum price per part, correlated
    `= (SELECT MIN ...)` decorrelated into a per-part MIN aggregate
    joined back on (part, price=min), with MIN(suppkey) as the
    deterministic tie-break (Q2's ORDER BY role). Exact integer
    prices make the equality probe safe cross-engine. The size
    filter prunes parts before the join; the min-agg and the probe
    shuffle on the same l_partkey, so AQE reuses the partitioning."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    price = F.round(F.col("l_extendedprice") * 100).cast("long")
    mp = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.min(price).alias("min_price_s")
    )
    sized = part.filter(F.col("p_size") == 10).select("p_partkey")
    return (
        li.select("l_partkey", "l_suppkey", price.alias("price_s"))
        .join(F.broadcast(sized), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            mp,
            (F.col("l_partkey") == F.col("pk"))
            & (F.col("price_s") == F.col("min_price_s")),
        )
        .groupBy("l_partkey", "min_price_s")
        .agg(F.min("l_suppkey").alias("best_supp"))
        .select("l_partkey", "best_supp", "min_price_s")
    )


@register(
    "tpch_q20_excess_suppliers",
    "SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey IN ("
    "SELECT l_suppkey FROM lineitem WHERE l_partkey IN "
    "(SELECT p_partkey FROM part WHERE p_name LIKE 'red%') "
    "GROUP BY l_suppkey "
    "HAVING SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) > 200000)",
)
def tpch_q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: a chain of nested IN subqueries — parts by
    name prefix → lineitems of those parts → suppliers whose summed
    shipped quantity clears a threshold → supplier details. Each IN
    becomes a (broadcast) semi-join: the part key set broadcasts
    into the fact scan, the HAVING aggregate's key list semi-joins
    supplier. The p_name LIKE 'red%' prefix predicate is pushed into
    the part scan as a StartsWith filter."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    qty = F.round(F.col("l_quantity") * 100).cast("long")
    red = part.filter(F.col("p_name").startswith("red")).select("p_partkey")
    heavy = (
        li.join(
            F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_suppkey")
        .agg(F.sum(qty).alias("q"))
        .filter(F.col("q") > 200000)
        .select("l_suppkey")
    )
    return supplier.join(
        heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
    ).select("s_suppkey", "s_name")


@register(
    "embedding_centroids",
    "SELECT label, i - 1 AS pos, "
    "(CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) "
    "AS BIGINT) / COUNT(*)) / 1000000.0 AS centroid "
    "FROM embeddings, generate_series(1, 64) AS t(i) "
    "GROUP BY label, i",
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroids (the class-prototype op behind
    nearest-centroid labeling, clustering init, and drift checks).
    Plan: ONE hash aggregate with 64 per-index integer-scaled sums —
    all map-side combinable, so the shuffle carries |labels| × 65
    longs per map partition instead of exploding rows×dim (the
    posexplode-then-groupBy alternative shuffles D× the table). The
    per-index column form is the right physical shape for fixed
    small dims; for dim ≫ 10^3 switch to a Pandas-UDF matrix
    partial-sum. Scaled-integer sums keep the mean exact
    cross-engine (fp partial-sum order would differ)."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = 64
    sums = emb.groupBy("label").agg(
        F.count("*").alias("n"),
        *[
            F.sum(
                F.round(F.col("embedding")[i].cast("double") * 1000000)
                .cast("long")
            ).alias(f"s{i}")
            for i in range(dim)
        ],
    )
    return sums.select(
        "label",
        F.posexplode(F.array(*[F.col(f"s{i}") for i in range(dim)])).alias(
            "pos", "s"
        ),
        "n",
    ).select(
        "label", "pos", ((F.col("s") / F.col("n")) / 1000000.0).alias("centroid")
    )


_SQ_DIM = 64  # embedding components quantized


def _scalar_quant_sql() -> str:
    dim = _SQ_DIM
    mins = ", ".join(
        f"CAST(MIN(embedding[{i + 1}]) AS DOUBLE)" for i in range(dim)
    )
    maxs = ", ".join(
        f"CAST(MAX(embedding[{i + 1}]) AS DOUBLE)" for i in range(dim)
    )
    code = (
        "CAST(FLOOR((CAST(embedding[i] AS DOUBLE) - mns[i]) "
        "/ (mxs[i] - mns[i]) * 255 + 0.5) AS BIGINT)"
    )
    err = (
        "CAST(FLOOR(ABS(CAST(embedding[i] AS DOUBLE) - (mns[i] + "
        f"{code} * (mxs[i] - mns[i]) / 255)) * 1000000) AS BIGINT)"
    )
    return (
        f"WITH st AS (SELECT [{mins}] AS mns, [{maxs}] AS mxs FROM embeddings) "
        "SELECT vec_id, "
        f"array_to_string(list_transform(range(1, {dim + 1}), "
        f"i -> {code}), ' ') AS codes, "
        # CAST: list_aggregate sum of BIGINTs is HUGEINT (-> float64
        # in pandas), the known cross-engine int-width trap
        f"CAST(list_aggregate(list_transform(range(1, {dim + 1}), "
        f"i -> {err}), 'sum') AS BIGINT) AS err_um "
        "FROM embeddings, st"
    )


@register("embedding_scalar_quant", _scalar_quant_sql())
def embedding_scalar_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension min-max int8 scalar quantization of the
    embedding table — the export format vector stores (FAISS SQ8,
    Milvus/pgvector scalar index) consume, and the simple sibling of
    the PQ/IVFADC codecs already certified. Returns the code string
    per vector plus the total reconstruction error in integer
    micro-units.

    Determinism contract (what makes this hash-certifiable):
    quantization uses FLOOR(x + 0.5), never ROUND — Spark rounds
    doubles through BigDecimal's shortest-decimal representation
    while DuckDB rounds the raw double, so they split on .5-boundary
    quotients; FLOOR is a pure IEEE op both engines evaluate
    identically. Per-dim reconstruction errors are floored to
    integer micro-units BEFORE summing, so the per-vector total is
    order-free integer math.

    Plan: one map-side-combinable agg produces the 1-row min/max
    table (128 partials — same shape as embedding_centroids),
    broadcast onto the vector scan; codes + error are a single
    narrow projection over a 64-step sequence transform. The vector
    table never shuffles."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = _SQ_DIM
    xd = lambda i: F.element_at("embedding", i).cast("double")  # noqa: E731
    stats = emb.agg(
        F.array(*[F.min(xd(i + 1)) for i in range(dim)]).alias("mns"),
        F.array(*[F.max(xd(i + 1)) for i in range(dim)]).alias("mxs"),
    )
    idx = F.sequence(F.lit(1), F.lit(dim))

    def code(i):
        x = F.element_at("embedding", i).cast("double")
        mn = F.element_at("mns", i)
        mx = F.element_at("mxs", i)
        return F.floor((x - mn) / (mx - mn) * 255 + F.lit(0.5)).cast("long")

    def err(i):
        x = F.element_at("embedding", i).cast("double")
        mn = F.element_at("mns", i)
        mx = F.element_at("mxs", i)
        recon = mn + code(i).cast("double") * (mx - mn) / 255
        return F.floor(F.abs(x - recon) * 1000000).cast("long")

    return emb.crossJoin(F.broadcast(stats)).select(
        "vec_id",
        F.array_join(F.transform(idx, code), " ").alias("codes"),
        F.aggregate(
            F.transform(idx, err), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("err_um"),
    )


@register(
    "chunk_documents",
    "WITH x AS (SELECT doc_id, text, unnest(range(0, "
    "CAST(greatest(ceil((n_chars - 100) / 400.0) - 1, 0) AS BIGINT) + 1)) "
    "AS chunk_idx FROM documents) "
    "SELECT doc_id, chunk_idx, "
    "substring(text, CAST(chunk_idx * 400 + 1 AS INT), 500) AS chunk_text "
    "FROM x",
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping document chunking — the standard long-document →
    training-window split (chunk 500 chars, stride 400, 100 overlap).
    Chunk offsets are generated ENGINE-side (`sequence` + `explode` on
    a computed per-row count) and sliced with `substring` — linear,
    fully codegen, no UDF, no driver loop. At 100 TB this is a pure
    map stage: output rows ≈ chars/stride, no shuffle at all. The
    chunk count is ceil((n_chars - overlap) / stride) so the final
    partial window is kept iff it extends past the previous chunk."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    n_chunks = F.greatest(
        F.ceil((F.col("n_chars") - 100) / 400.0) - 1, F.lit(0)
    ).cast("long")
    return docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks)).alias(
            "chunk_idx"
        ),
        "text",
    ).select(
        "doc_id",
        "chunk_idx",
        F.substring(
            F.col("text"), (F.col("chunk_idx") * 400 + 1).cast("int"), 500
        ).alias("chunk_text"),
    )


@register(
    "dup_ngram_span_score",
    "WITH sh AS (SELECT doc_id, unnest(list_transform("
    "range(0, greatest(len(string_split(text, ' ')) - 3, 0)), "
    "i -> array_to_string(string_split(text, ' ')[i+1:i+4], ' '))) AS g "
    "FROM documents), "
    "d AS (SELECT DISTINCT doc_id, g FROM sh), "
    "df AS (SELECT g, COUNT(*) AS ndocs FROM d GROUP BY g) "
    "SELECT doc_id, COUNT(*) AS n_grams, "
    # CAST: DuckDB SUM(INT) is HUGEINT, which pandas materializes as
    # float64 — the driver hashes it as "1.0" vs Spark's "1"
    "CAST(SUM(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_dup_grams "
    "FROM d JOIN df USING (g) GROUP BY doc_id",
)
def dup_ngram_span_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-duplication scoring (the signal behind suffix-array
    span dedup, Lee et al. 2022 'Deduplicating Training Data Makes
    Language Models Better', recast relationally): per document, how
    many of its distinct word 4-grams also appear in ANOTHER
    document. Plan: one shingle explode → per-doc DISTINCT (first
    agg, map-combinable) → corpus document-frequency agg → key-only
    join back → per-doc counts. The duplicated-span *fraction*
    (n_dup/n_grams) is one caller-side division; exact integer
    outputs keep the oracle hashable. At 100 TB the DF table is the
    big intermediate — it shuffles once on the gram hash, and high-DF
    grams (boilerplate) are exactly the skew AQE's skew-join split
    handles; cap or sample ndocs>K grams for a cheaper approximate
    variant."""
    from .functions.tokenize import word_shingles

    docs = load_table(spark, sf_dir, "documents", widen=True)
    d = (
        docs.select(
            "doc_id",
            F.explode(word_shingles(F.split("text", " "), 4)).alias("g"),
        )
        .distinct()
    )
    dfreq = d.groupBy("g").agg(F.count("*").alias("ndocs"))
    return (
        d.join(dfreq, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("ndocs") > 1, 1).otherwise(0)).alias(
                "n_dup_grams"
            ),
        )
    )


@register(
    "new_users_per_day",
    "WITH fs AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day "
    "FROM events GROUP BY user_id), "
    "nd AS (SELECT first_day AS day, COUNT(*) AS new_users "
    "FROM fs GROUP BY first_day) "
    "SELECT day, new_users, "
    "CAST(SUM(new_users) OVER (ORDER BY day "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
    "AS cumulative_users FROM nd",
)
def new_users_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-acquisition curve: first-seen day per user, daily new-user
    counts, and the RUNNING cumulative — i.e. 'distinct users to
    date' computed WITHOUT a quadratic running-distinct (the naive
    per-day COUNT(DISTINCT) over growing prefixes rescans the fact
    table per day). Plan: min-agg per user (map-combinable) → tiny
    daily agg → unpartitioned running-sum window over ≤ #days rows —
    the single-task window input is the daily aggregate, never raw
    events, so the 'global window' anti-pattern doesn't apply."""
    ev = load_table(spark, sf_dir, "events")
    fs = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    nd = fs.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return nd.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).alias("cumulative_users"),
    )


def _corpus_pipeline_oracle_sql() -> str:
    """Composite oracle for the end-to-end corpus plan: every stage's
    already-verified SQL twin chained in the pipeline's order
    (en-filter → quality ≥ 0.5 → repetition caps → md5 min-id dedup →
    3-gram decontamination > 0.2 anti-join → PII scrub → post-scrub
    quality/token provenance → hash split)."""
    from .operators.traindata import pii_scrub_sql

    def lang_ratios(src: str) -> str:
        cols = ", ".join(
            f"{_sql_lang_ratio(lg)} AS r_{lg}" for lg in TS.LANG_MARKERS
        )
        return f"SELECT doc_id, text, {cols} FROM {src}"

    lang_case = (
        "CASE WHEN greatest("
        + ", ".join(f"r_{lg}" for lg in TS.LANG_MARKERS)
        + ") > 0.01 THEN (CASE "
        + " ".join(
            f"WHEN r_{lg} = greatest("
            + ", ".join(f"r_{m}" for m in TS.LANG_MARKERS)
            + f") THEN '{lg}'"
            for lg in TS.LANG_MARKERS
        )
        + " END) ELSE 'und' END"
    )

    punct = TS.ASCII_PUNCT_CHARS.replace(chr(39), chr(39) * 2)

    def quality_expr(t: str) -> str:
        n = f"len(string_split({t}, ' '))"
        sw = (
            f"CAST(len(list_filter(string_split({t}, ' '), "
            f"w -> list_contains({STOPWORDS_SQL}, w))) AS DOUBLE) "
            f"/ greatest({n}, 1)"
        )
        mwl = (
            f"CAST(list_aggregate(list_transform(string_split({t}, ' '), "
            f"w -> len(w)), 'sum') AS DOUBLE) / greatest({n}, 1)"
        )
        pr = (
            f"CAST(len(regexp_replace({t}, '[^{punct}]', '', 'g')) AS DOUBLE)"
            f" / greatest(len({t}), 1)"
        )
        return (
            f"ROUND("
            f"0.3 * (CASE WHEN {n} >= 20 AND {n} <= 10000 THEN 1.0::DOUBLE ELSE 0.0 END) + "
            f"0.3 * (CASE WHEN {sw} >= 0.05 AND {sw} <= 0.6 THEN 1.0::DOUBLE ELSE 0.0 END) + "
            f"0.2 * (CASE WHEN {mwl} >= 2.5 AND {mwl} <= 10.0 THEN 1.0::DOUBLE ELSE 0.0 END) + "
            f"0.2 * (CASE WHEN {pr} <= 0.2 THEN 1.0::DOUBLE ELSE 0.0 END), 2)"
        )

    tws = (
        "CASE WHEN len(string_split(text, ' ')) > 0 THEN "
        "CAST(list_max(list_transform(list_distinct(string_split(text, ' ')), "
        "d -> len(list_filter(string_split(text, ' '), x -> x = d)))) AS DOUBLE)"
        " / len(string_split(text, ' ')) ELSE 0.0 END"
    )
    dbf = (
        "CASE WHEN len(string_split(text, ' ')) >= 2 THEN "
        "1.0 - CAST(len(list_distinct(list_transform("
        "range(0, len(string_split(text, ' ')) - 1), "
        "i -> array_to_string((string_split(text, ' '))[i+1:i+2], ' ')))) "
        "AS DOUBLE) / (len(string_split(text, ' ')) - 1) ELSE 0.0 END"
    )

    shingles3 = (
        "list_distinct(list_transform("
        "range(0, greatest(len(string_split(text, ' ')) - 2, 0)), "
        "i -> array_to_string((string_split(text, ' '))[i+1:i+3], ' ')))"
    )

    return f"""
WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
lr AS ({lang_ratios('base')}),
lang AS (SELECT doc_id, text, {lang_case} AS lang_detected FROM lr),
lfil AS (SELECT * FROM lang WHERE lang_detected = 'en'),
qfil AS (SELECT * FROM lfil WHERE {quality_expr('text')} >= 0.5),
rfil AS (SELECT doc_id, text, lang_detected FROM qfil
         WHERE {tws} <= 0.5 AND {dbf} <= 0.5),
dd AS (SELECT r.* FROM rfil r
       JOIN (SELECT MIN(doc_id) AS doc_id FROM rfil GROUP BY md5(text)) k
       USING (doc_id)),
bench AS (SELECT DISTINCT unnest(sh) AS s FROM
          (SELECT {shingles3} AS sh FROM documents WHERE doc_id % 97 = 0)),
dsh AS (SELECT doc_id, len(sh) AS total, unnest(sh) AS s FROM
        (SELECT doc_id, {shingles3} AS sh FROM dd)),
dirty AS (SELECT doc_id FROM dsh JOIN bench USING (s)
          GROUP BY doc_id, total
          HAVING CAST(COUNT(*) AS DOUBLE) / total > 0.2),
kept AS (SELECT dd.* FROM dd LEFT JOIN dirty USING (doc_id)
         WHERE dirty.doc_id IS NULL),
scr AS (SELECT doc_id, lang_detected, {pii_scrub_sql('text')} AS text FROM kept)
SELECT doc_id, lang_detected,
       {quality_expr('text')} AS quality,
       CAST(len(regexp_extract_all(text, '{_BPE_SQL_PAT}', 1)) AS INT) AS n_tokens,
       CASE WHEN {_BUCKET_SQL} % 100 < 80 THEN 'train'
            WHEN {_BUCKET_SQL} % 100 < 90 THEN 'val'
            ELSE 'test' END AS split
FROM scr
"""


@register("prepare_corpus_pipeline", _corpus_pipeline_oracle_sql())
def prepare_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-corpus preparation plan
    (plans/corpus.py): language + quality + repetition filters →
    exact dedup → decontamination anti-join → PII scrub →
    deterministic split, as ONE lazy DataFrame DAG. Oracle = every
    stage's verified SQL twin composed in the same order; pytest
    additionally asserts the composition equals applying the stages
    in sequence and that the whole default plan stays a single lazy
    DAG."""
    from .plans.corpus import prepare_training_corpus

    # "barrier" widen: the language/quality/repetition predicates are
    # the cost center here, and a bare widen exchange lets Catalyst
    # push them back onto the single-partition scan (measured ~2x
    # end-to-end; see catalog.widen_scan)
    docs = load_table(spark, sf_dir, "documents", widen="barrier")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    out = prepare_training_corpus(train, bench, contamination_n=3)
    return out.select("doc_id", "lang_detected", "quality", "n_tokens", "split")


@register(
    "range_join_ship_window",
    "SELECT o_orderkey, (SELECT COUNT(*) FROM lineitem "
    "WHERE l_shipdate >= o_orderdate "
    "AND l_shipdate < o_orderdate + INTERVAL 7 DAY) AS n_shipped "
    "FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "AND o_orderdate < TIMESTAMP '1996-02-01 00:00:00'",
)
def range_join_ship_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYLESS interval-containment join (the 'range join' Spark has
    no batch operator for): per January-1996 order, how many
    lineitems — any order's — shipped inside that order's 7-day
    window. Runs through `relational.range_join_binned`: intervals
    explode to covered day-bins, points map to one bin, the match is
    a plain equi-join on bin + exact-range post-filter — where naive
    Spark would BroadcastNestedLoopJoin (quadratic). Unmatched
    windows come back via left join with COUNT 0 (the oracle's
    scalar subquery returns 0 the same way)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    wins = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-02-01 00:00:00").cast("timestamp"))
    ).select(
        "o_orderkey",
        F.col("o_orderdate").alias("w_start"),
        (F.col("o_orderdate") + F.expr("interval 7 days")).alias("w_end"),
    )
    pairs = R.range_join_binned(
        li.select("l_shipdate"), "l_shipdate", wins, "w_start", "w_end"
    )
    counts = pairs.groupBy("o_orderkey").agg(F.count("*").alias("n"))
    return wins.join(counts, "o_orderkey", "left").select(
        "o_orderkey", F.coalesce("n", F.lit(0)).alias("n_shipped")
    )


@register(
    "time_bucket_rollup",
    "SELECT CAST(ts AS DATE) AS day, date_trunc('hour', ts) AS hr, "
    "COUNT(*) AS n_events, "
    "CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_scaled "
    "FROM events GROUP BY ROLLUP(day, hr) HAVING day IS NOT NULL",
)
def time_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup (timescale
    'continuous aggregate' shape): event counts and exact scaled
    value sums at BOTH hour and day granularity in ONE pass — a
    ROLLUP(day, hour) Expand, so the scan and shuffle happen once
    for all granularities instead of once per materialized view
    (the grand-total row is dropped; day-level rows carry NULL hr,
    matching the SQL rollup contract). At 100 TB this is the
    always-on ingest rollup: map-side partial aggs collapse each
    scan partition to ≤ #hours×2 rows before the single Exchange."""
    ev = load_table(spark, sf_dir, "events")
    val = F.round(F.col("value") * 100).cast("long")
    return (
        ev.select(
            F.to_date("ts").alias("day"),
            F.date_trunc("hour", F.col("ts")).alias("hr"),
            val.alias("v"),
        )
        .rollup("day", "hr")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("v").alias("value_scaled"),
        )
        .filter(F.col("day").isNotNull())
    )


@register(
    "event_transition_matrix",
    "WITH p AS (SELECT user_id, event_type, "
    "lead(event_type) OVER (PARTITION BY user_id "
    "ORDER BY epoch_us(ts), event_id) AS next_type FROM events), "
    "t AS (SELECT event_type, next_type, count(*) AS n_ab FROM p "
    "WHERE next_type IS NOT NULL GROUP BY event_type, next_type) "
    "SELECT event_type, next_type, n_ab, "
    "CAST(n_ab * 1000000 // SUM(n_ab) OVER (PARTITION BY event_type) "
    "AS BIGINT) AS prob_ppm FROM t",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior:
    P(next event type | current) as parts-per-million via pure
    integer division — exact in both engines, no fractional rounding.
    One user-keyed window (deterministic (epoch_us, event_id) order),
    one tiny types² agg, one types-keyed window over ≤ types² rows."""
    ev = load_table(spark, sf_dir, "events", widen=True)
    w = Window.partitionBy("user_id").orderBy(
        R.epoch_us("ts"), F.col("event_id")
    )
    pairs = (
        ev.select("user_id", "event_type", "ts", "event_id")
        .withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
    )
    t = pairs.groupBy("event_type", "next_type").agg(
        F.count("*").alias("n_ab")
    )
    return t.select(
        "event_type",
        "next_type",
        "n_ab",
        F.expr("CAST(n_ab * 1000000 div SUM(n_ab) OVER "
               "(PARTITION BY event_type) AS BIGINT)").alias("prob_ppm"),
    )


@register(
    "session_paths_top",
    "WITH g AS (SELECT user_id, ts, event_id, event_type, CASE WHEN "
    "epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL OR "
    f"epoch_us(ts) - lag(epoch_us(ts)) OVER w > {R.SESSION_GAP_US} THEN 1 ELSE 0 END "
    "AS is_new FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
    "s AS (SELECT user_id, ts, event_id, event_type, SUM(is_new) OVER "
    "(PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING "
    "AND CURRENT ROW) AS session_id FROM g), "
    "p AS (SELECT user_id, session_id, "
    "array_to_string(list(event_type ORDER BY epoch_us(ts), event_id), '>') "
    "AS path FROM s GROUP BY user_id, session_id) "
    "SELECT path, count(*) AS n FROM p GROUP BY path "
    "ORDER BY n DESC, path LIMIT 20",
)
def session_paths_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: the 20 most common per-session event-type
    sequences ('view>click>purchase'). Rides the ONE sessionization
    shuffle; per-session paths via array_sort(collect_list(struct)) —
    no per-session re-sort stage, the sort is per-row over bounded
    session arrays; top-20 is TakeOrderedAndProject."""
    ev = load_table(spark, sf_dir, "events", widen=True)
    s = R.sessionize(ev, "user_id", "ts")
    paths = s.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            R.epoch_us("ts").alias("u"),
                            F.col("event_id").alias("e"),
                            F.col("event_type").alias("t"),
                        )
                    )
                ),
                lambda x: x["t"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(20)
    )


@register(
    "session_funnel_conversion",
    "WITH g AS (SELECT user_id, ts, event_type, CASE WHEN "
    "epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL OR "
    f"epoch_us(ts) - lag(epoch_us(ts)) OVER w > {R.SESSION_GAP_US} THEN 1 ELSE 0 END AS is_new "
    "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
    "s AS (SELECT user_id, ts, event_type, SUM(is_new) OVER "
    "(PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING "
    "AND CURRENT ROW) AS session_id FROM g), "
    "f AS (SELECT user_id, session_id, MIN(ts) AS session_start, "
    "MIN(CASE WHEN event_type = 'click' THEN ts END) AS first_click, "
    "MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase "
    "FROM s GROUP BY user_id, session_id) "
    "SELECT CAST(session_start AS DATE) AS day, COUNT(*) AS n_sessions, "
    "CAST(SUM(CASE WHEN first_click IS NOT NULL THEN 1 ELSE 0 END) "
    "AS BIGINT) AS n_click_sessions, "
    "CAST(SUM(CASE WHEN first_click IS NOT NULL AND first_purchase "
    "IS NOT NULL AND first_purchase > first_click THEN 1 ELSE 0 END) "
    "AS BIGINT) AS n_converted FROM f GROUP BY day",
)
def session_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analytics over sessionized behavior: per day, how many
    sessions happened, how many contained a click, and how many
    CONVERTED (a purchase strictly after the session's first click) —
    the product-analytics composite (sessionize → per-session
    conditional extrema → daily rollup). All three aggregations ride
    the ONE shuffle sessionization already paid (user_id), then a
    tiny daily agg; conditional MIN-timestamps avoid any per-session
    sort or self-join for the ordering test."""
    ev = load_table(spark, sf_dir, "events")
    s = R.sessionize(ev, "user_id", "ts")
    f = s.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "first_click"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    return f.groupBy(F.to_date("session_start").alias("day")).agg(
        F.count("*").alias("n_sessions"),
        F.sum(
            F.when(F.col("first_click").isNotNull(), 1).otherwise(0)
        ).alias("n_click_sessions"),
        F.sum(
            F.when(
                F.col("first_click").isNotNull()
                & F.col("first_purchase").isNotNull()
                & (F.col("first_purchase") > F.col("first_click")),
                1,
            ).otherwise(0)
        ).alias("n_converted"),
    )


@register(
    "tpch_q8_market_share",
    "SELECT o_year, "
    "CAST(SUM(CASE WHEN nation = 'NATION_3' THEN vol ELSE 0 END) AS BIGINT) "
    "AS nation_volume_scaled, "
    "CAST(SUM(vol) AS BIGINT) AS total_volume_scaled FROM ("
    "SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year, "
    "CAST(ROUND(l_extendedprice * 100) AS BIGINT) * "
    "(100 - CAST(ROUND(l_discount * 100) AS BIGINT)) AS vol, "
    "n2.n_name AS nation "
    "FROM part, lineitem, supplier, orders, customer, nation n1, "
    "nation n2, region "
    "WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey "
    "AND l_orderkey = o_orderkey AND o_custkey = c_custkey "
    "AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey "
    "AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey "
    "AND p_type = 'PROMO') all_nations GROUP BY o_year",
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): the widest join in the
    suite — 8 table roles, with nation playing two (customer's region
    gate vs supplier's label). Physical plan: every dimension chain
    collapses to a broadcast BEFORE touching the facts — part(PROMO)
    broadcast-SEMI-prunes the lineitem scan, supplier⋈nation is a
    broadcast label lookup, region→nation→customer reduces to a
    broadcast semi-join key set on o_custkey — so the only at-scale
    shuffle is lineitem ⋈ orders on orderkey. The market-share
    RATIO is returned as two exact scaled-integer sums (share =
    nation/total downstream); dividing in-engine would be the one
    nondeterministic fp op in the query."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")
    promo = part.filter(F.col("p_type") == "PROMO").select("p_partkey")
    asia_nk = (
        region.filter(F.col("r_name") == "ASIA")
        .join(nation, nation.n_regionkey == region.r_regionkey)
        .select("n_nationkey")
    )
    asia_cust = customer.join(
        F.broadcast(asia_nk),
        customer.c_nationkey == F.col("n_nationkey"),
        "left_semi",
    ).select("c_custkey")
    supp_n = supplier.join(
        F.broadcast(
            nation.select(
                F.col("n_nationkey").alias("sk"), F.col("n_name").alias("nation")
            )
        ),
        F.col("s_nationkey") == F.col("sk"),
    ).select("s_suppkey", "nation")
    price = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    vol = price * (100 - disc)
    return (
        li.join(F.broadcast(promo), F.col("l_partkey") == F.col("p_partkey"),
                "left_semi")
        .join(F.broadcast(supp_n), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(asia_cust), F.col("o_custkey") == F.col("c_custkey"),
              "left_semi")
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("nation") == "NATION_3", vol).otherwise(0))
            .alias("nation_volume_scaled"),
            F.sum(vol).alias("total_volume_scaled"),
        )
    )


@register(
    "tpch_q9_product_profit",
    "SELECT nation, o_year, CAST(SUM(amount) AS BIGINT) AS profit_scaled "
    "FROM (SELECT n_name AS nation, "
    "CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year, "
    "CAST(ROUND(l_extendedprice * 100) AS BIGINT) * "
    "(100 - CAST(ROUND(l_discount * 100) AS BIGINT)) - "
    "CAST(ROUND(p_retailprice * 100) AS BIGINT) * "
    "CAST(ROUND(l_quantity * 100) AS BIGINT) AS amount "
    "FROM part, supplier, lineitem, orders, nation "
    "WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey "
    "AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey "
    "AND p_name LIKE '%widget%') profit GROUP BY nation, o_year",
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year). The
    testdata has no partsupp table, so supply cost is proxied by
    p_retailprice carried on the broadcast part side (same plan
    shape: a per-row profit expression combining fact columns with
    TWO broadcast-joined dimension attributes). The '%widget%'
    infix LIKE cannot prune the scan via startswith, but the
    filtered part set still broadcast-prunes lineitem before the
    orders shuffle. Both product terms are in the same 1e-4-dollar
    scale (cents × hundredths), so profit stays exact integer
    arithmetic end to end."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")
    widget = part.filter(F.col("p_name").contains("widget")).select(
        "p_partkey", "p_retailprice"
    )
    supp_n = supplier.join(
        F.broadcast(
            nation.select(
                F.col("n_nationkey").alias("sk"), F.col("n_name").alias("nation")
            )
        ),
        F.col("s_nationkey") == F.col("sk"),
    ).select("s_suppkey", "nation")
    price = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    retail = F.round(F.col("p_retailprice") * 100).cast("long")
    qty = F.round(F.col("l_quantity") * 100).cast("long")
    amount = price * (100 - disc) - retail * qty
    return (
        li.join(F.broadcast(widget), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp_n), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            "nation", F.year("o_orderdate").cast("long").alias("o_year")
        )
        .agg(F.sum(amount).alias("profit_scaled"))
    )


@register(
    "tpch_q12_late_shipments",
    "SELECT l_linestatus AS ship_class, "
    "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
    "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
    "CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') "
    "THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count "
    "FROM orders, lineitem "
    "WHERE o_orderkey = l_orderkey "
    "AND l_shipdate > o_orderdate + INTERVAL 30 DAY "
    "GROUP BY l_linestatus",
)
def tpch_q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping priority audit): fact-fact join whose
    FILTER spans both sides (shipped >30 days after order date — the
    testdata's stand-in for commit/receipt-date lateness), then
    priority-conditional counts per line status (stand-in for
    shipmode). The cross-table predicate can't be pushed below the
    join, so the plan is scan→shuffle-join on orderkey→filter→
    2-row hash agg; both conditional sums ride one aggregate. At
    scale the join IS the query — co-locating lineitem and orders
    by orderkey (bucketing, see stage_io.write_bucketed) removes
    the shuffle entirely."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        )
        .groupBy(F.col("l_linestatus").alias("ship_class"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q21_waiting_suppliers",
    "WITH flagged AS (SELECT l_orderkey, l_suppkey, "
    "CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY "
    "THEN 1 ELSE 0 END AS late "
    "FROM lineitem, orders "
    "WHERE o_orderkey = l_orderkey AND o_orderstatus = 'F'), "
    "per_order AS (SELECT l_orderkey, "
    "COUNT(DISTINCT l_suppkey) AS n_supp, "
    "COUNT(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS n_late, "
    "MAX(CASE WHEN late = 1 THEN l_suppkey END) AS late_supp "
    "FROM flagged GROUP BY l_orderkey) "
    "SELECT s_name, COUNT(*) AS numwait "
    "FROM per_order, supplier "
    "WHERE n_supp > 1 AND n_late = 1 AND late_supp = s_suppkey "
    "GROUP BY s_name",
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): the
    canonical form is a triple self-join on lineitem (EXISTS another
    supplier on the order, NOT EXISTS another LATE supplier).
    Re-expressed as ONE grouped aggregate per order — distinct
    suppliers, distinct late suppliers, and the late supplier id
    (well-defined exactly when n_late = 1, the only case kept) —
    so the 6-scan/2-semi-join plan collapses to a single shuffle
    on orderkey. 'Late' = shipped >60 days after order date (the
    commit/receipt-date stand-in, as in Q12). The qualifying
    per-order rows are tiny and broadcast-join supplier for the
    final per-supplier count."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    flagged = (
        li.join(
            orders.filter(F.col("o_orderstatus") == "F").select(
                "o_orderkey", "o_orderdate"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            )
            .cast("int")
            .alias("late"),
        )
    )
    late_supp = F.when(F.col("late") == 1, F.col("l_suppkey"))
    per_order = flagged.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(late_supp).alias("n_late"),
        F.max(late_supp).alias("late_supp"),
    )
    return (
        per_order.filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            F.col("late_supp") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@register(
    "bloom_semi_join_lineitems",
    "SELECT l_returnflag, COUNT(*) AS n_items, "
    "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) "
    "AS price_scaled "
    "FROM lineitem WHERE l_orderkey IN "
    "(SELECT o_orderkey FROM orders WHERE o_totalprice > 400000) "
    "GROUP BY l_returnflag",
)
def bloom_semi_join_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join via broadcast Bloom runtime filter
    (relational.bloom_semi_join): lineitems of high-value orders.
    The qualifying orderkey set is assumed too large for a broadcast
    hash join at scale, so its ~0.5 MB bitmap broadcasts instead and
    prunes the lineitem scan BEFORE the shuffle; the exact left_semi
    join afterwards removes Bloom false positives, so the result is
    exactly the IN-subquery semantics. The bitmap itself is built
    distributedly (BIT_OR word aggregation — keys never reach the
    driver)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    keys = (
        orders.filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    price = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        R.bloom_semi_join(li, keys, "l_orderkey")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(price).alias("price_scaled"),
        )
    )


@register(
    "heavy_hitter_users",
    "SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id "
    "HAVING COUNT(*) * 10 * (SELECT COUNT(DISTINCT user_id) FROM events) "
    "> 11 * (SELECT COUNT(*) FROM events) "
    "ORDER BY cnt DESC, user_id",
)
def heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters (users above 1.1× the mean per-user event count)
    via profiling.approx_heavy_hitters: a freqItems (KPS streaming
    majority) skim proposes candidates with NO false negatives in
    one bounded-state pass, then one exact count over the broadcast
    candidate set confirms — so the RESULT is exact (hence the SQL
    oracle) while the full-table groupBy is replaced by a semi-join
    aggregation over the candidate keys. The threshold is relative
    to the mean (integer cross-multiplied, exact at any scale — a
    fixed fraction empties as the user universe grows). At 100 TB
    this is the hot-key detector feeding salted_join/skew
    handling."""
    from .operators.profiling import approx_heavy_hitters

    ev = load_table(spark, sf_dir, "events")
    return approx_heavy_hitters(ev, "user_id", times_mean=(11, 10))


@register(
    "sketch_distinct_users_daily",
    # deterministic-BOUND oracle (Datasketches binary state has no
    # DuckDB twin, but the estimate-vs-exact bound is a boolean both
    # engines can state): exact per-day distincts hash-compare; the
    # sketch estimate must land within max(10%, 16) of them.
    "SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_rows, "
    "COUNT(DISTINCT user_id) AS n_exact, TRUE AS sketch_within_tol "
    "FROM events GROUP BY 1",
)
def sketch_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable per-day HLL distinct-user sketches, unioned and
    estimated (profiling.distinct_sketches/merge_sketches) — the
    incremental-analytics path: sketch once at ingest, answer any
    date-range distinct query by register-max union, no raw re-scan.
    Certified via a deterministic error bound: each row carries the
    exact per-day distinct count (hash-comparable) plus a boolean
    asserting the lg_k=12 estimate (~1.6% std error) sits within
    max(10%·exact, 16) — generous vs 3 sigma yet tight enough that a
    broken sketch/union/estimate path fails the driver row. The
    exact twin rides along only for certification; pytest separately
    asserts union-of-parts == whole (mergeability)."""
    from .operators.profiling import distinct_sketches, merge_sketches

    ev = load_table(spark, sf_dir, "events")
    sk = distinct_sketches(ev, "user_id", [F.to_date("ts").alias("day")])
    merged = merge_sketches(sk, ["day"])
    exact = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    tol = F.greatest(
        F.round(F.col("n_exact") * 0.10).cast("long"), F.lit(16)
    )
    return merged.join(exact, "day").select(
        "day",
        F.col("n_rows").cast("long").alias("n_rows"),
        "n_exact",
        (
            F.abs(F.col("n_distinct_est") - F.col("n_exact")) <= tol
        ).alias("sketch_within_tol"),
    )




# --------------------------------------------------------------------
# round 10 (cont.): SCD2 validity-interval history (gaps-and-islands
# over the per-user event-type change log)
# --------------------------------------------------------------------

_SCD2_SQL = """
WITH d AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
           FROM events),
s AS (SELECT user_id, event_type, us, event_id,
      CASE WHEN LAG(event_type) OVER
             (PARTITION BY user_id ORDER BY us, event_id)
             IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS st
      FROM d),
g AS (SELECT user_id, event_type, us,
      SUM(st) OVER (PARTITION BY user_id ORDER BY us, event_id
                    ROWS UNBOUNDED PRECEDING) AS grp
      FROM s),
runs AS (SELECT user_id, CAST(grp AS BIGINT) AS grp,
         MIN(event_type) AS event_type,
         CAST(MIN(us) AS BIGINT) AS valid_from_us,
         CAST(COUNT(*) AS BIGINT) AS n_events
         FROM g GROUP BY user_id, grp)
SELECT user_id, event_type, valid_from_us,
       COALESCE(LEAD(valid_from_us) OVER
         (PARTITION BY user_id ORDER BY valid_from_us, grp),
         9223372036854775807) AS valid_to_us,
       n_events
FROM runs
"""


@register("scd2_type_history", _SCD2_SQL)
def scd2_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 validity-interval history (Kimball's slowly-changing
    dimension, built by the gaps-and-islands pattern): collapse each
    user's consecutive same-event-type run into ONE
    [valid_from, valid_to) row — valid_to = the next run's start,
    int64-max for the current (open) run — the standard SCD2 open-interval convention, and it keeps the hashed column NULL-free (a nullable int degrades to float through pandas) — the change-log → history-table
    transform every warehouse dimension load performs. Islands via
    the LAG-change running sum (IS DISTINCT FROM so the first row
    starts a run without NULL special-casing); every window is
    user-keyed with full (us, event_id) tie-break, so same-instant
    events order deterministically. Plan: ONE user-keyed
    exchange+sort serves the LAG, the running SUM, and (after the
    run-collapsing agg on the same partitioning) the LEAD — the
    history build is a single shuffle at any scale."""
    d = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        R.epoch_us("ts").alias("us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    s = d.select(
        "user_id",
        "event_type",
        "us",
        "event_id",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")),
            1,
        )
        .otherwise(0)
        .alias("st"),
    )
    g = s.select(
        "user_id",
        "event_type",
        "us",
        F.sum("st")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("grp"),
    )
    runs = g.groupBy("user_id", "grp").agg(
        F.min("event_type").alias("event_type"),
        F.min("us").cast("long").alias("valid_from_us"),
        F.count("*").alias("n_events"),
    )
    # grp as a secondary key makes the run ordering total by
    # construction even if two runs of one user started at the same
    # microsecond (same-instant events with different event_type) —
    # without it valid_to_us would be nondeterministic in that case.
    w2 = Window.partitionBy("user_id").orderBy("valid_from_us", "grp")
    return runs.select(
        "user_id",
        "event_type",
        "valid_from_us",
        F.coalesce(
            F.lead("valid_from_us").over(w2),
            F.lit(9223372036854775807),
        ).alias("valid_to_us"),
        "n_events",
    )


_HILBERT_BITS = 8  # x_cell and y_cell each lie in [0, 2^8)


def _hilbert_sql() -> str:
    from .operators.layout import hilbert_d2_sql

    src = (
        "SELECT event_id, "
        "LEAST(CAST(FLOOR(value / 2) AS BIGINT), 255) AS x_cell, "
        "user_id % 256 AS y_cell FROM events"
    )
    inner = hilbert_d2_sql(src, "x_cell", "y_cell", _HILBERT_BITS)
    return (
        f"SELECT event_id, x_cell, y_cell, hval FROM ({inner}) "
        "ORDER BY hval, event_id LIMIT 1000"
    )


@register("hilbert_event_cells", _hilbert_sql())
def hilbert_event_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve cell assignment over the same quantized event
    dimensions as zorder_event_cells — the locality upgrade over
    Morton (every Hilbert step is a unit grid step, so a 1-D range
    of the key covers a compact 2-D blob with no Z-shaped jumps;
    Delta OPTIMIZE's documented Hilbert mode, Hamilton 2006's
    transform). The xy->d state machine unrolls to 2*bits narrow
    projections of pure bit/arithmetic ops — named intermediates per
    level because the rotate references the previous x/y twice
    (inlining would double the expression tree per level) — fused by
    whole-stage codegen, no UDF; the oracle replays the identical
    steps as nested SELECTs, so the certificate covers the exact
    curve. Clustering a 100 TB table by hval is the same ONE
    range-repartition write as Z-order with strictly better
    range-scan locality (tests/test_layout.py proves the adjacency
    law Morton lacks)."""
    from .operators.layout import hilbert_d2

    ev = load_table(spark, sf_dir, "events")
    q = ev.select(
        "event_id",
        F.least(
            F.floor(F.col("value") / 2).cast("long"), F.lit(255).cast("long")
        ).alias("x_cell"),
        (F.col("user_id") % 256).alias("y_cell"),
    )
    return (
        hilbert_d2(q, "x_cell", "y_cell", _HILBERT_BITS)
        .select("event_id", "x_cell", "y_cell", "hval")
        .orderBy("hval", "event_id")
        .limit(1000)
    )

"""Scale extensions over documents: dedup, similarity, text analysis,
published quality/repetition gauntlets (Gopher, C4), tokenizer counts.
Split out of queries.py (round 10); definitions verbatim."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .catalog import load_table
from .functions.text_clean import ALL_STOPWORDS
from .functions.tokenize import BPE_ISH_PATTERN, bpe_ish_tokens
from .operators import similarity as S
from .operators import textstats as TS
from .operators.dedup import MERSENNE31, content_hash, ngram_jaccard_pairs
from .operators.traindata import md5_int
from .queries_base import register, _sql_str_list, STOPWORDS_SQL


# --------------------------------------------------------------------
# scale extensions: dedup / similarity / text analysis
# --------------------------------------------------------------------


@register(
    "dedup_exact_content",
    "SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)",
)
def dedup_exact_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content-hash dedup: survivors = min doc_id per md5.
    One shuffle on a uniform 128-bit key — no skew possible."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    return (
        docs.groupBy(content_hash(F.col("text")).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )


_NGRAM_SQL = (
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), "
    "sh AS (SELECT doc_id AS id, unnest(list_distinct(list_transform("
    "range(0, greatest(len(t) - 2, 0)), i -> array_to_string(t[i+1:i+3], ' ')))) "
    "AS shingle FROM toks), "
    "sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id), "
    "pairs AS (SELECT a.id AS id_1, b.id AS id_2, COUNT(*) AS inter "
    "FROM sh a JOIN sh b USING (shingle) WHERE a.id < b.id GROUP BY 1, 2) "
    "SELECT id_1, id_2, ROUND(CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter), 6) "
    "AS jaccard FROM pairs "
    "JOIN sizes s1 ON id_1 = s1.id JOIN sizes s2 ON id_2 = s2.id "
    "WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= {thr}"
)


@register("dedup_ngram_jaccard", _NGRAM_SQL.format(thr="0.2"))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard similarity join, fully relational (the exact
    verify stage of MinHash-LSH, runnable standalone)."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    return ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.2)


@register(
    "ann_topk_cosine",
    "SELECT e.vec_id, ROUND(list_cosine_similarity("
    "CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6) AS cosine "
    "FROM embeddings e, embeddings q WHERE q.vec_id = 0 AND e.vec_id <> 0 "
    "ORDER BY cosine DESC, e.vec_id LIMIT 10",
)
def ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for a query vector (the ANN
    correctness baseline): one narrow scan + TakeOrderedAndProject."""
    emb = load_table(spark, sf_dir, "embeddings", widen=True)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(S.cosine(F.col("embedding"), F.col("qv")), 6).alias("cosine"),
        )
    )
    return scored.orderBy(F.desc("cosine"), F.col("vec_id")).limit(10)


def _sql_lang_ratio(lang: str) -> str:
    markers = _sql_str_list(TS.LANG_MARKERS[lang])
    return (
        f"CAST(len(list_filter(string_split(text, ' '), "
        f"w -> list_contains({markers}, w))) AS DOUBLE) "
        f"/ greatest(len(string_split(text, ' ')), 1)"
    )


_LANG_SQL = (
    "WITH r AS (SELECT doc_id, "
    + ", ".join(f"{_sql_lang_ratio(lg)} AS r_{lg}" for lg in TS.LANG_MARKERS)
    + " FROM documents) SELECT doc_id, CASE WHEN greatest("
    + ", ".join(f"r_{lg}" for lg in TS.LANG_MARKERS)
    + ") > 0.01 THEN (CASE "
    + " ".join(
        f"WHEN r_{lg} = greatest(" + ", ".join(f"r_{m}" for m in TS.LANG_MARKERS) + f") THEN '{lg}'"
        for lg in TS.LANG_MARKERS
    )
    + " END) ELSE 'und' END AS lang_pred FROM r"
)


@register("lang_id", _LANG_SQL)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID via marker-word hit ratios (common-word heuristic);
    argmax with declaration-order tie-break."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    return docs.select(
        "doc_id",
        TS.detect_language(F.split(F.col("text"), " ")).alias("lang_pred"),
    )


_QUALITY_SQL = (
    "WITH f AS (SELECT doc_id, len(string_split(text, ' ')) AS n, "
    f"CAST(len(list_filter(string_split(text, ' '), "
    f"w -> list_contains({STOPWORDS_SQL}, w))) AS DOUBLE) "
    "/ greatest(len(string_split(text, ' ')), 1) AS sw, "
    "CAST(list_aggregate(list_transform(string_split(text, ' '), w -> len(w)), "
    "'sum') AS DOUBLE) / greatest(len(string_split(text, ' ')), 1) AS mwl, "
    "CAST(len(regexp_replace(text, "
    f"'[^{TS.ASCII_PUNCT_CHARS.replace(chr(39), chr(39) * 2)}]', '', 'g')) AS DOUBLE)"
    " / greatest(len(text), 1) AS pr FROM documents) "
    "SELECT doc_id, ROUND("
    "0.3 * (CASE WHEN n >= 20 AND n <= 10000 THEN 1.0::DOUBLE ELSE 0.0 END) + "
    "0.3 * (CASE WHEN sw >= 0.05 AND sw <= 0.6 THEN 1.0::DOUBLE ELSE 0.0 END) + "
    "0.2 * (CASE WHEN mwl >= 2.5 AND mwl <= 10.0 THEN 1.0::DOUBLE ELSE 0.0 END) + "
    "0.2 * (CASE WHEN pr <= 0.2 THEN 1.0::DOUBLE ELSE 0.0 END), 2) AS quality "
    "FROM f"
)


# SQL form of the shared constant (textstats.GOPHER_STOPS) so the
# batch query, its oracle, and the streaming gate agree by construction
_GOPHER_STOPS = "(" + ", ".join(f"'{w}'" for w in TS.GOPHER_STOPS) + ")"

_GOPHER_SQL = (
    "WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w "
    "FROM documents), "
    "nz AS (SELECT doc_id, w FROM w WHERE w <> ''), "
    "a AS (SELECT doc_id, COUNT(*) AS n_words, "
    "CAST(SUM(len(w)) AS BIGINT) AS tot_len, "
    "SUM(CASE WHEN w LIKE '%#%' OR w LIKE '%...%' THEN 1 ELSE 0 END) "
    "AS n_sym, "
    "SUM(CASE WHEN regexp_matches(w, '[a-zA-Z]') THEN 1 ELSE 0 END) "
    "AS n_alpha, "
    f"COUNT(DISTINCT CASE WHEN w IN {_GOPHER_STOPS} THEN w END) "
    "AS stop_hits FROM nz GROUP BY doc_id), "
    "f AS (SELECT d.doc_id, COALESCE(n_words, 0) AS n_words, "
    "1000 * COALESCE(tot_len, 0) // greatest(COALESCE(n_words, 0), 1) "
    "AS mwl_milli, "
    "1000000 * COALESCE(n_sym, 0) // greatest(COALESCE(n_words, 0), 1) "
    "AS sym_ppm, "
    "1000000 * COALESCE(n_alpha, 0) // greatest(COALESCE(n_words, 0), 1) "
    "AS alpha_ppm, "
    "COALESCE(stop_hits, 0) AS stop_hits "
    "FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id) "
    "SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, "
    "CAST(mwl_milli AS BIGINT) AS mwl_milli, "
    "CAST(sym_ppm AS BIGINT) AS sym_ppm, "
    "CAST(alpha_ppm AS BIGINT) AS alpha_ppm, "
    "CAST(stop_hits AS BIGINT) AS stop_hits, "
    "CAST(CASE WHEN n_words >= 50 AND n_words <= 100000 "
    "AND mwl_milli >= 3000 AND mwl_milli <= 10000 "
    "AND sym_ppm <= 100000 AND alpha_ppm >= 800000 "
    "AND stop_hits >= 2 THEN 1 ELSE 0 END AS INT) AS keep FROM f"
)


@register("gopher_quality_flags", _GOPHER_SQL)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PUBLISHED Gopher document-quality rules (Rae et al. 2021
    Table A1, the word-level subset), each as an exact integer flag —
    the citable counterpart of quality_score's blended heuristic:
    50 ≤ word count ≤ 100k; 3 ≤ mean word length ≤ 10 (milli-units);
    symbol-to-word ratio ≤ 0.1 (# or ellipsis, ppm); ≥80% of words
    contain an alphabetic character (ppm); ≥2 of Gopher's 8 stopword
    indicators present. All ratios are integer div quantizations —
    hash-exact cross-engine with zero float boundaries. Plan: one
    token explode → one map-side-combinable hash agg per doc (five
    conditional counts + one small COUNT DISTINCT) → pure projection
    flags; one shuffle keyed on doc_id. At 100 TB this IS the shape
    quality gates run at — a single pass, no model state."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    w = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    stops = [s.strip("'") for s in _GOPHER_STOPS.strip("()").split(", ")]
    a = w.groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.sum(F.length("w")).alias("tot_len"),
        F.sum(
            (
                F.col("w").contains("#") | F.col("w").contains("...")
            ).cast("long")
        ).alias("n_sym"),
        F.sum(F.col("w").rlike("[a-zA-Z]").cast("long")).alias("n_alpha"),
        F.count_distinct(
            F.when(F.col("w").isin(stops), F.col("w"))
        ).alias("stop_hits"),
    )
    f = (
        docs.select("doc_id")
        .join(a, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.expr(
                "1000 * coalesce(tot_len, 0) "
                "div greatest(coalesce(n_words, 0), 1)"
            ).alias("mwl_milli"),
            F.expr(
                "1000000 * coalesce(n_sym, 0) "
                "div greatest(coalesce(n_words, 0), 1)"
            ).alias("sym_ppm"),
            F.expr(
                "1000000 * coalesce(n_alpha, 0) "
                "div greatest(coalesce(n_words, 0), 1)"
            ).alias("alpha_ppm"),
            F.coalesce("stop_hits", F.lit(0)).alias("stop_hits"),
        )
    )
    keep = (
        (F.col("n_words") >= 50)
        & (F.col("n_words") <= 100000)
        & (F.col("mwl_milli") >= 3000)
        & (F.col("mwl_milli") <= 10000)
        & (F.col("sym_ppm") <= 100000)
        & (F.col("alpha_ppm") >= 800000)
        & (F.col("stop_hits") >= 2)
    )
    return f.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("mwl_milli").cast("long").alias("mwl_milli"),
        F.col("sym_ppm").cast("long").alias("sym_ppm"),
        F.col("alpha_ppm").cast("long").alias("alpha_ppm"),
        F.col("stop_hits").cast("long").alias("stop_hits"),
        keep.cast("int").alias("keep"),
    )


# C4's terminal-punctuation / sentence rules need sentence structure;
# the synthetic corpus is punctuation-free, so the structural rules
# (C4's AND Gopher's line-wise repetition rules below) run on
# designated terminator TOKENS ('the', 'a' — frequent enough to
# produce 0-14 sentences per page) with every published threshold
# kept at its source value. The bad-word list is a parameter of the
# rule (C4 uses the LDNOOBW list, not shipped here); the demo
# instance picks corpus words so the flag has variance.
_C4_TERMINATORS = ("the", "a")
_C4_BADWORDS = ("slow", "stale")


@register("streaming_quality_gate", _GOPHER_SQL)
def streaming_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gopher_quality_flags INSIDE Structured Streaming — the
    production quality-gate shape: documents are scored by the
    published Gopher word rules as they ARRIVE (file stream ->
    per-row flags -> AvailableNow drain), before anything downstream
    sees them. The streaming formulation is deliberately a different
    PLAN for the same semantics: pure per-row HOF expressions
    (textstats.gopher_stats_columns — no explode, no groupBy, no
    watermark, stateless 1:1), so the drain is append-mode and
    deterministic regardless of micro-batch splits, and the BATCH
    query's oracle applies unchanged — the hash match certifies that
    the narrow streaming plan and the shuffle-agg batch plan compute
    the identical integer flags. At 100 TB the gate rides the ingest
    stream with bounded per-batch memory and zero shuffle."""
    from .streaming.ingest import streaming_quality_gate_batch

    return streaming_quality_gate_batch(spark, sf_dir).select(
        "doc_id", "n_words", "mwl_milli", "sym_ppm", "alpha_ppm",
        "stop_hits", "keep",
    )
# Rae et al. 2021 Table A1 repetition thresholds (fraction -> ppm):
# dup-line frac 0.30, dup-line char frac 0.20, top-{2,3,4}-gram char
# frac 0.20/0.18/0.16, dup-{5..10}-gram char frac 0.15..0.10.
_REP_TOP = {2: 200000, 3: 180000, 4: 160000}
_REP_DUP = {5: 150000, 6: 140000, 7: 130000, 8: 120000, 9: 110000, 10: 100000}


def _gopher_rep_sql() -> str:
    term = ", ".join(f"'{w}'" for w in _C4_TERMINATORS)
    max_n = max(_REP_DUP)
    leads = ", ".join(
        f"LEAD(w, {k}) OVER win AS w{k}, LEAD(lw, {k}) OVER win AS lw{k}"
        for k in range(1, max_n)
    )
    def gram(n):
        ws = ", ".join(["w"] + [f"w{k}" for k in range(1, n)])
        lws = " + ".join(["lw"] + [f"lw{k}" for k in range(1, n)])
        return ws, lws
    parts = [
        "WITH t AS (SELECT doc_id, list_filter(string_split("
        "coalesce(text, ''), ' '), x -> x <> '') AS toks FROM documents), "
        "tok AS (SELECT doc_id, unnest(range(0, len(toks))) AS pos, "
        "unnest(toks) AS w FROM t), "
        "tk AS (SELECT doc_id, pos, w, len(w) AS lw, "
        f"CASE WHEN w IN ({term}) THEN 1 ELSE 0 END AS trm FROM tok), "
        "tot AS (SELECT doc_id, CAST(COALESCE(SUM(lw), 0) AS BIGINT) "
        "AS total_chars FROM tk GROUP BY doc_id), "
        "st AS (SELECT doc_id, pos, w, lw, COALESCE(SUM(trm) OVER ("
        "PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND 1 PRECEDING), 0) AS sid FROM tk), "
        "sen AS (SELECT doc_id, sid, string_agg(w, ' ' ORDER BY pos) "
        "AS stext, CAST(SUM(lw) AS BIGINT) AS schars FROM st "
        "GROUP BY 1, 2), "
        "sd AS (SELECT doc_id, COUNT(*) AS n_sent, "
        "SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS dup_sent, "
        "SUM(CASE WHEN c >= 2 THEN schars ELSE 0 END) AS dup_schars "
        "FROM (SELECT doc_id, schars, COUNT(*) OVER (PARTITION BY "
        "doc_id, stext) AS c FROM sen) GROUP BY doc_id), "
        f"ld AS MATERIALIZED (SELECT doc_id, pos, w, lw, {leads} "
        "FROM tk WINDOW win AS (PARTITION BY doc_id ORDER BY pos))",
    ]
    for n in _REP_TOP:
        ws, lws = gram(n)
        parts.append(
            f", g{n} AS (SELECT doc_id, concat_ws(' ', {ws}) AS gram, "
            f"{lws} AS gchars FROM ld WHERE w{n-1} IS NOT NULL)"
            f", gc{n} AS (SELECT doc_id, gram, COUNT(*) AS cnt, "
            f"MIN(gchars) AS gchars FROM g{n} GROUP BY 1, 2)"
            f", top{n} AS (SELECT doc_id, CAST(cnt * gchars AS BIGINT) "
            "AS top_chars FROM (SELECT doc_id, cnt, gchars, "
            "row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, "
            f"gram) AS rn FROM gc{n}) WHERE rn = 1)"
        )
    for n in _REP_DUP:
        ws, _ = gram(n)
        parts.append(
            f", h{n} AS (SELECT doc_id, pos, concat_ws(' ', {ws}) "
            f"AS gram FROM ld WHERE w{n-1} IS NOT NULL)"
            f", hd{n} AS (SELECT doc_id, gram FROM (SELECT doc_id, gram, "
            f"COUNT(*) AS c FROM h{n} GROUP BY 1, 2) WHERE c >= 2)"
            f", cov{n} AS (SELECT DISTINCT doc_id, idx FROM (SELECT "
            f"h.doc_id, unnest(range(h.pos, h.pos + {n})) AS idx "
            f"FROM h{n} h JOIN hd{n} d ON h.doc_id = d.doc_id "
            "AND h.gram = d.gram))"
            f", cc{n} AS (SELECT c.doc_id, CAST(SUM(k.lw) AS BIGINT) "
            f"AS cchars FROM cov{n} c JOIN tk k ON c.doc_id = k.doc_id "
            "AND c.idx = k.pos GROUP BY 1)"
        )
    ppm = "1000000 * COALESCE({x}, 0) // greatest(COALESCE({d}, 0), 1)"
    cols = [
        "d.doc_id",
        "CAST(" + ppm.format(x="sd.dup_sent", d="sd.n_sent")
        + " AS BIGINT) AS dup_sent_ppm",
        "CAST(" + ppm.format(x="sd.dup_schars", d="tot.total_chars")
        + " AS BIGINT) AS dup_sent_char_ppm",
    ]
    keeps = [
        ppm.format(x="sd.dup_sent", d="sd.n_sent") + " <= 300000",
        ppm.format(x="sd.dup_schars", d="tot.total_chars") + " <= 200000",
    ]
    for n, thr in _REP_TOP.items():
        e = ppm.format(x=f"top{n}.top_chars", d="tot.total_chars")
        cols.append(f"CAST({e} AS BIGINT) AS top{n}_char_ppm")
        keeps.append(f"{e} <= {thr}")
    for n, thr in _REP_DUP.items():
        e = ppm.format(x=f"cc{n}.cchars", d="tot.total_chars")
        cols.append(f"CAST({e} AS BIGINT) AS dup{n}_char_ppm")
        keeps.append(f"{e} <= {thr}")
    joins = " ".join(
        [
            "LEFT JOIN tot ON d.doc_id = tot.doc_id",
            "LEFT JOIN sd ON d.doc_id = sd.doc_id",
        ]
        + [f"LEFT JOIN top{n} ON d.doc_id = top{n}.doc_id" for n in _REP_TOP]
        + [f"LEFT JOIN cc{n} ON d.doc_id = cc{n}.doc_id" for n in _REP_DUP]
    )
    parts.append(
        " SELECT " + ", ".join(cols)
        + ", CAST(CASE WHEN " + " AND ".join(keeps)
        + " THEN 1 ELSE 0 END AS INT) AS keep FROM documents d " + joins
    )
    return "".join(parts)


def _gauntlet_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared quality-gauntlet token table: (doc_id, pos, w, lw,
    trm) with DENSE positions (empties filtered before posexplode —
    gopher's coverage legs do pos arithmetic and need adjacency) and
    the C4 terminator flag. Eager-materialized once; both published
    gauntlets and their agreement composition read these blocks
    instead of re-exploding the corpus."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    t = docs.select(
        "doc_id",
        F.filter(
            F.split(F.coalesce("text", F.lit("")), " "),
            lambda x: x != "",
        ).alias("toks"),
    )
    return t.select(
        "doc_id", F.posexplode("toks").alias("pos", "w")
    ).select(
        "doc_id",
        "pos",
        "w",
        F.length("w").alias("lw"),
        F.col("w").isin(list(_C4_TERMINATORS)).cast("int").alias("trm"),
    ).localCheckpoint(eager=True)


@register("gopher_repetition_flags", _gopher_rep_sql())
def gopher_repetition_flags(
    spark: SparkSession, sf_dir: str, tk: DataFrame | None = None
) -> DataFrame:
    """The PUBLISHED Gopher repetition filters (Rae et al. 2021 Table
    A1, the repetition subset — gopher_quality_flags' sibling, done
    to the same zero-float-boundary standard): duplicate-line
    fraction and duplicate-line character fraction (lines = the C4
    terminator-token sentences; the corpus has no newlines —
    documented adaptation, published thresholds kept), fraction of
    characters in the most frequent {2,3,4}-gram, and fraction of
    characters covered by duplicated {5..10}-grams, all as exact
    integer ppm via truncating division over token characters
    (separators excluded — the pinned interpretation on both
    engines). keep applies the published per-column thresholds
    (0.30/0.20, 0.20/0.18/0.16, 0.15 down to 0.10). Plan: ONE token
    explode (checkpointed once), ONE doc-keyed 9-deep LEAD window
    builds every n-gram as a projection (no per-n explode), per-n
    hash aggs; duplicate coverage fans out n rows per DUPLICATED
    instance only (the dedup_span_removal linearity argument), and
    the 11 result legs join back on doc_id. At 100 TB: everything
    shuffles on doc_id or a gram key; no pairwise stage anywhere;
    the window frame is per-document and bounded. ``tk`` lets a
    composing query (quality_filter_agreement) hand in the shared
    pre-materialized token table instead of exploding the corpus a
    second time — same (doc_id, pos, w, lw, trm) rows, dense pos."""
    max_n = max(_REP_DUP)
    if tk is None:
        tk = _gauntlet_tokens(spark, sf_dir)
    tot = tk.groupBy("doc_id").agg(
        F.coalesce(F.sum("lw"), F.lit(0)).cast("long").alias("total_chars")
    )
    run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sen = (
        tk.withColumn(
            "sid", F.coalesce(F.sum("trm").over(run), F.lit(0))
        )
        .groupBy("doc_id", "sid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("stext"),
            F.sum("lw").cast("long").alias("schars"),
        )
    )
    wdup = Window.partitionBy("doc_id", "stext")
    sd = (
        sen.withColumn("c", F.count("*").over(wdup))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sent"),
            F.sum((F.col("c") >= 2).cast("int")).alias("dup_sent"),
            F.sum(
                F.when(F.col("c") >= 2, F.col("schars")).otherwise(0)
            ).alias("dup_schars"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    ld = tk.select(
        "doc_id",
        "pos",
        "w",
        "lw",
        *[F.lead("w", k).over(win).alias(f"w{k}") for k in range(1, max_n)],
        *[
            F.lead("lw", k).over(win).alias(f"lw{k}")
            for k in range(1, max_n)
        ],
    ).localCheckpoint(eager=True)

    def gram_cols(n):
        ws = [F.col("w")] + [F.col(f"w{k}") for k in range(1, n)]
        lws = F.col("lw")
        for k in range(1, n):
            lws = lws + F.col(f"lw{k}")
        return F.concat_ws(" ", *ws), lws

    legs = [tot, sd]
    for n in _REP_TOP:
        gexpr, lexpr = gram_cols(n)
        g = ld.filter(F.col(f"w{n-1}").isNotNull()).select(
            "doc_id", gexpr.alias("gram"), lexpr.alias("gchars")
        )
        gc = g.groupBy("doc_id", "gram").agg(
            F.count("*").alias("cnt"), F.min("gchars").alias("gchars")
        )
        wr = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), "gram")
        legs.append(
            gc.withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") == 1)
            .select(
                "doc_id",
                (F.col("cnt") * F.col("gchars"))
                .cast("long")
                .alias(f"top{n}_chars"),
            )
        )
    for n in _REP_DUP:
        gexpr, _ = gram_cols(n)
        h = ld.filter(F.col(f"w{n-1}").isNotNull()).select(
            "doc_id", "pos", gexpr.alias("gram")
        )
        hd = (
            h.groupBy("doc_id", "gram")
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") >= 2)
            .select("doc_id", "gram")
        )
        cov = (
            h.join(hd, ["doc_id", "gram"])
            .select(
                "doc_id",
                F.explode(
                    F.sequence(F.col("pos"), F.col("pos") + (n - 1))
                ).alias("idx"),
            )
            .distinct()
        )
        legs.append(
            cov.join(
                tk.select("doc_id", F.col("pos").alias("idx"), "lw"),
                ["doc_id", "idx"],
            )
            .groupBy("doc_id")
            .agg(F.sum("lw").cast("long").alias(f"cc{n}_chars"))
        )
    # base row set = ALL documents (zero-token docs still emit a
    # row); a bare column-pruned scan — no widen needed to project
    # one key column
    out = load_table(spark, sf_dir, "documents").select("doc_id")
    for leg in legs:
        out = out.join(leg, "doc_id", "left")

    def ppm(x, d):
        return F.expr(
            f"1000000 * coalesce({x}, 0) div greatest(coalesce({d}, 0), 1)"
        )

    cols = [
        ppm("dup_sent", "n_sent").cast("long").alias("dup_sent_ppm"),
        ppm("dup_schars", "total_chars")
        .cast("long")
        .alias("dup_sent_char_ppm"),
    ]
    keeps = [
        ppm("dup_sent", "n_sent") <= 300000,
        ppm("dup_schars", "total_chars") <= 200000,
    ]
    for n, thr in _REP_TOP.items():
        e = ppm(f"top{n}_chars", "total_chars")
        cols.append(e.cast("long").alias(f"top{n}_char_ppm"))
        keeps.append(e <= thr)
    for n, thr in _REP_DUP.items():
        e = ppm(f"cc{n}_chars", "total_chars")
        cols.append(e.cast("long").alias(f"dup{n}_char_ppm"))
        keeps.append(e <= thr)
    keep = keeps[0]
    for k in keeps[1:]:
        keep = keep & k
    return out.select("doc_id", *cols, keep.cast("int").alias("keep"))


@register("quality_score", _QUALITY_SQL)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style document quality heuristic."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    return docs.select(
        "doc_id",
        TS.quality_score(F.col("text"), list(ALL_STOPWORDS)).alias("quality"),
    )


def _c4_sql() -> str:
    term = ", ".join(f"'{w}'" for w in _C4_TERMINATORS)
    bad = ", ".join(f"'{w}'" for w in _C4_BADWORDS)
    return (
        "WITH t AS (SELECT doc_id, coalesce(text, '') AS text, "
        "string_split(coalesce(text, ''), ' ') AS ws FROM documents), "
        "tok AS (SELECT doc_id, unnest(range(0, len(ws))) AS pos, "
        "unnest(ws) AS w FROM t), "
        f"tk AS (SELECT doc_id, pos, w, CASE WHEN w IN ({term}) "
        "THEN 1 ELSE 0 END AS trm FROM tok WHERE w <> ''), "
        "st AS (SELECT doc_id, pos, w, trm, COALESCE(SUM(trm) OVER ("
        "PARTITION BY doc_id ORDER BY pos "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sid "
        "FROM tk), "
        "sen AS (SELECT doc_id, sid, COUNT(*) AS n_w, MAX(trm) AS term, "
        "string_agg(w, ' ' ORDER BY pos) AS stext FROM st GROUP BY 1, 2), "
        "kepts AS (SELECT doc_id, stext, row_number() OVER ("
        "PARTITION BY doc_id ORDER BY sid) AS rk FROM sen "
        "WHERE term = 1 AND n_w >= 5), "
        "spans AS (SELECT a.doc_id, md5(a.stext || chr(10) || b.stext "
        "|| chr(10) || c.stext) AS sh FROM kepts a "
        "JOIN kepts b ON a.doc_id = b.doc_id AND b.rk = a.rk + 1 "
        "JOIN kepts c ON a.doc_id = c.doc_id AND c.rk = a.rk + 2), "
        "dup AS (SELECT sh FROM (SELECT sh, COUNT(*) AS c FROM spans "
        "GROUP BY sh) WHERE c >= 2), "
        "dps AS (SELECT doc_id, COUNT(*) AS n_dup FROM spans "
        "SEMI JOIN dup ON spans.sh = dup.sh GROUP BY doc_id), "
        "agg AS (SELECT doc_id, SUM(term) AS n_sent, "
        "SUM(CASE WHEN term = 1 AND n_w >= 5 THEN 1 ELSE 0 END) AS n_kept "
        "FROM sen GROUP BY doc_id), "
        "fl AS (SELECT doc_id, "
        "CASE WHEN text LIKE '%lorem ipsum%' THEN 1 ELSE 0 END AS has_lorem, "
        "CASE WHEN text LIKE '%{%' THEN 1 ELSE 0 END AS has_brace, "
        f"CASE WHEN list_has_any(string_split(text, ' '), [{bad}]) "
        "THEN 1 ELSE 0 END AS has_badword FROM t) "
        "SELECT fl.doc_id, "
        "CAST(COALESCE(a.n_sent, 0) AS BIGINT) AS n_sentences, "
        "CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept_sentences, "
        "CAST(has_lorem AS INT) AS has_lorem, "
        "CAST(has_brace AS INT) AS has_brace, "
        "CAST(has_badword AS INT) AS has_badword, "
        "CAST(COALESCE(dp.n_dup, 0) AS BIGINT) AS n_dup_spans, "
        "CAST(CASE WHEN COALESCE(a.n_kept, 0) >= 3 AND has_lorem = 0 "
        "AND has_brace = 0 AND has_badword = 0 THEN 1 ELSE 0 END AS INT) "
        "AS keep "
        "FROM fl LEFT JOIN agg a USING (doc_id) "
        "LEFT JOIN dps dp USING (doc_id)"
    )


@register("c4_quality_flags", _c4_sql())
def c4_quality_flags(
    spark: SparkSession, sf_dir: str, tk: DataFrame | None = None
) -> DataFrame:
    """The PUBLISHED C4 page-filter rules (Raffel et al. 2020 §2.2),
    each as an exact integer flag — the line/sentence-structural
    sibling of gopher_quality_flags' word-level rules: retain only
    sentences ending in a terminal marker; retain only sentences
    with >= 5 words; drop pages with < 3 retained sentences; flag
    pages containing "lorem ipsum", a curly brace, or a bad-word
    list hit; and count each page's three-sentence spans that recur
    corpus-wide (C4's dedup granularity, Lee et al. 2022's signal).
    All counts are exact integers — hash-exact cross-engine with
    zero float boundaries. Plan: one token explode -> per-doc
    bounded-frame running sum assigns sentence ids -> one
    (doc, sentence) hash agg -> sentence-rank self-joins build
    3-spans -> one md5-keyed global span count (uniform key, no
    skew) -> per-doc left joins. Everything shuffles on doc_id or
    a 128-bit span hash; at 100 TB this is the C4 pipeline's actual
    shape (reference analog: the clean() gauntlet
    data_preparation.py:34-42 done to a published standard).

    ``tk`` lets a composing query (quality_filter_agreement) hand in
    the shared pre-materialized token table. Every tk consumer here
    uses pos only for ORDERING, so the shared table's dense
    positions produce identical sentences; standalone, the inline
    explode stays unmaterialized (its one consumer is the
    checkpointed sentence table)."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    t = docs.select("doc_id", F.coalesce("text", F.lit("")).alias("text"))
    if tk is None:
        tok = t.select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
        ).filter(F.col("w") != "")
        tk = tok.withColumn(
            "trm", F.col("w").isin(list(_C4_TERMINATORS)).cast("int")
        )
    run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    st = tk.withColumn(
        "sid", F.coalesce(F.sum("trm").over(run), F.lit(0))
    )
    # the (doc, sentence) table is read by kepts (3 span aliases),
    # agg, and dps — materialize it ONCE or the token explode +
    # running-sum window re-derives per consumer (6 corpus scans)
    sen = (
        st.groupBy("doc_id", "sid")
        .agg(
            F.count("*").alias("n_w"),
            F.max("trm").alias("term"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("stext"),
        )
        .localCheckpoint(eager=True)
    )
    kepts = (
        sen.filter((F.col("term") == 1) & (F.col("n_w") >= 5))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("sid")
            ),
        )
        .select("doc_id", "stext", "rk")
        .localCheckpoint(eager=True)
    )
    a, b, c = kepts.alias("a"), kepts.alias("b"), kepts.alias("c")
    spans = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.rk") == F.col("a.rk") + 1),
        )
        .join(
            c,
            (F.col("a.doc_id") == F.col("c.doc_id"))
            & (F.col("c.rk") == F.col("a.rk") + 2),
        )
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.md5(
                F.concat_ws("\n", "a.stext", "b.stext", "c.stext")
            ).alias("sh"),
        )
    )
    dup = (
        spans.groupBy("sh")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("sh")
    )
    dps = (
        spans.join(dup, "sh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup"))
    )
    agg = sen.groupBy("doc_id").agg(
        F.sum("term").alias("n_sent"),
        F.sum(
            ((F.col("term") == 1) & (F.col("n_w") >= 5)).cast("int")
        ).alias("n_kept"),
    )
    fl = t.select(
        "doc_id",
        F.col("text").contains("lorem ipsum").cast("int").alias("has_lorem"),
        F.col("text").contains("{").cast("int").alias("has_brace"),
        F.arrays_overlap(
            F.split("text", " "), F.lit(list(_C4_BADWORDS))
        )
        .cast("int")
        .alias("has_badword"),
    )
    out = fl.join(agg, "doc_id", "left").join(dps, "doc_id", "left")
    n_kept = F.coalesce("n_kept", F.lit(0))
    keep = (
        (n_kept >= 3)
        & (F.col("has_lorem") == 0)
        & (F.col("has_brace") == 0)
        & (F.col("has_badword") == 0)
    )
    return out.select(
        "doc_id",
        F.coalesce("n_sent", F.lit(0)).cast("long").alias("n_sentences"),
        n_kept.cast("long").alias("n_kept_sentences"),
        "has_lorem",
        "has_brace",
        "has_badword",
        F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup_spans"),
        keep.cast("int").alias("keep"),
    )


def _kappa_sql() -> str:
    # the two published gauntlets composed as derived tables (DuckDB
    # supports CTEs inside subqueries); kappa over ppm-quantized
    # po/pe is the defined metric on both engines
    return (
        f"WITH gg AS (SELECT doc_id, keep AS g FROM ({_gopher_rep_sql()}) t1), "
        f"cc AS (SELECT doc_id, keep AS c FROM ({_c4_sql()}) t2), "
        "j AS (SELECT g, c FROM gg JOIN cc USING (doc_id)), "
        "m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(CASE WHEN g = 1 AND c = 1 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_both, "
        "CAST(SUM(CASE WHEN g = 0 AND c = 0 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_neither, "
        "CAST(SUM(g) AS BIGINT) AS n_g, CAST(SUM(c) AS BIGINT) AS n_c "
        "FROM j), "
        "p AS (SELECT n, n_both, n_neither, n_g, n_c, "
        "1000000 * (n_both + n_neither) // greatest(n, 1) AS po_ppm, "
        "1000000 * (n_g * n_c + (n - n_g) * (n - n_c)) "
        "// greatest(n * n, 1) AS pe_ppm FROM m) "
        "SELECT n, n_g AS n_rep_keep, n_c AS n_c4_keep, n_both, "
        "n_neither, CAST(po_ppm AS BIGINT) AS po_ppm, "
        "CAST(pe_ppm AS BIGINT) AS pe_ppm, "
        "CAST((po_ppm - pe_ppm) * 1000000 "
        "// greatest(1000000 - pe_ppm, 1) AS BIGINT) AS kappa_ppm FROM p"
    )


@register("quality_filter_agreement", _kappa_sql())
def quality_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-filter agreement between the two published quality
    gauntlets — Cohen's kappa (1960) between the Gopher repetition
    keep and the C4 structural-rule keep, the standard chance-
    corrected agreement statistic: when a curation pipeline stacks
    filters, kappa tells you whether the second gate adds signal
    (kappa << 1) or re-measures the first (kappa near 1). Confusion
    counts are exact integers; po/pe are ppm integer divisions and
    kappa_ppm = (po - pe)·10⁶ div (10⁶ - pe) — can be negative
    (worse-than-chance agreement), safe because Spark `div` and
    DuckDB `//` both truncate toward zero. ONE output row. Plan:
    both flag pipelines run as written (their own contracts apply),
    ONE doc_id-keyed join, one global agg — the two gauntlets share
    ONE materialized token table (r13: both read the same
    (doc_id, pos, w, lw, trm) blocks instead of exploding the corpus
    once each; identical rows by the pos-ordering argument on the
    C4 side); nothing new shuffles wide."""
    tk = _gauntlet_tokens(spark, sf_dir)
    g = gopher_repetition_flags(spark, sf_dir, tk=tk).select(
        "doc_id", F.col("keep").alias("g")
    )
    c = c4_quality_flags(spark, sf_dir, tk=tk).select(
        "doc_id", F.col("keep").alias("c")
    )
    j = g.join(c, "doc_id")
    m = j.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(((F.col("g") == 1) & (F.col("c") == 1)).cast("int"))
        .cast("long")
        .alias("n_both"),
        F.sum(((F.col("g") == 0) & (F.col("c") == 0)).cast("int"))
        .cast("long")
        .alias("n_neither"),
        F.sum("g").cast("long").alias("n_g"),
        F.sum("c").cast("long").alias("n_c"),
    )
    p = m.select(
        "n",
        "n_both",
        "n_neither",
        "n_g",
        "n_c",
        F.expr(
            "1000000 * (n_both + n_neither) div greatest(n, 1)"
        ).alias("po_ppm"),
        F.expr(
            "1000000 * (n_g * n_c + (n - n_g) * (n - n_c)) "
            "div greatest(n * n, 1)"
        ).alias("pe_ppm"),
    )
    return p.select(
        "n",
        F.col("n_g").alias("n_rep_keep"),
        F.col("n_c").alias("n_c4_keep"),
        "n_both",
        "n_neither",
        F.col("po_ppm").cast("long").alias("po_ppm"),
        F.col("pe_ppm").cast("long").alias("pe_ppm"),
        F.expr(
            "(po_ppm - pe_ppm) * 1000000 "
            "div greatest(1000000 - pe_ppm, 1)"
        )
        .cast("long")
        .alias("kappa_ppm"),
    )


_BPE_SQL_PAT = BPE_ISH_PATTERN.replace("'", "''")


@register(
    "token_count_bpe",
    f"SELECT doc_id, CAST(len(regexp_extract_all(text, '{_BPE_SQL_PAT}', 1)) AS INT) "
    "AS n_tokens FROM documents",
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (training-data budgeting)."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    return docs.select(
        "doc_id", F.size(bpe_ish_tokens(F.col("text"))).alias("n_tokens")
    )


@register(
    "doc_fingerprint",
    "SELECT doc_id, list_reduce(list_transform(string_split(text, ' '), "
    f"w -> CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % {MERSENNE31}), "
    f"(a, b) -> (a * 31 + b) % {MERSENNE31}) AS fingerprint FROM documents",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive polynomial rolling hash over the token stream.
    Cross-engine variant: token hash = first 8 md5 hex digits (md5 is
    identical in both engines; xxhash64 is not)."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    toks = F.split(F.col("text"), " ")
    hashed = F.transform(
        toks,
        lambda w: F.pmod(md5_int(w, 8), F.lit(MERSENNE31)),
    )
    fp = F.aggregate(
        hashed,
        F.lit(0).cast("long"),
        lambda acc, h: F.pmod(acc * 31 + h, F.lit(MERSENNE31)),
    )
    return docs.select("doc_id", fp.alias("fingerprint"))




# --------------------------------------------------------------------
# round 10 (cont.): collocation extraction by Dunning log-likelihood
# ratio
# --------------------------------------------------------------------

_LLR_SQL = r"""
WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
           FROM documents),
tok AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS idx,
               unnest(toks) AS word FROM t),
tk AS (SELECT doc_id, idx, word FROM tok WHERE word <> ''),
bg AS (SELECT a, b FROM (
         SELECT word AS a,
                LEAD(word, 1) OVER (PARTITION BY doc_id ORDER BY idx) AS b
         FROM tk) s WHERE b IS NOT NULL),
ab AS MATERIALIZED (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS k11
                    FROM bg GROUP BY 1, 2),
ra AS (SELECT a, CAST(SUM(k11) AS BIGINT) AS ca FROM ab GROUP BY 1),
cb AS (SELECT b, CAST(SUM(k11) AS BIGINT) AS cbn FROM ab GROUP BY 1),
nn AS (SELECT CAST(SUM(k11) AS BIGINT) AS n FROM ab),
cells AS (SELECT ab.a, ab.b, ab.k11,
                 ca - k11 AS k12, cbn - k11 AS k21,
                 n - ca - cbn + k11 AS k22,
                 ca, cbn, n
          FROM ab JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN nn),
llr AS (SELECT a, b, k11 AS n_ab,
  2 * (
    k11 * CAST(ROUND(1000 * ln((CAST(k11 AS DOUBLE) * n)
                     / (CAST(ca AS DOUBLE) * cbn))) AS BIGINT)
    + CASE WHEN k12 > 0 THEN k12 * CAST(ROUND(1000 * ln(
        (CAST(k12 AS DOUBLE) * n) / (CAST(ca AS DOUBLE) * (n - cbn))))
        AS BIGINT) ELSE 0 END
    + CASE WHEN k21 > 0 THEN k21 * CAST(ROUND(1000 * ln(
        (CAST(k21 AS DOUBLE) * n) / (CAST(n - ca AS DOUBLE) * cbn)))
        AS BIGINT) ELSE 0 END
    + CASE WHEN k22 > 0 THEN k22 * CAST(ROUND(1000 * ln(
        (CAST(k22 AS DOUBLE) * n) / (CAST(n - ca AS DOUBLE) * (n - cbn))))
        AS BIGINT) ELSE 0 END
  ) AS llr_milli
  FROM cells)
SELECT a, b, n_ab, llr_milli FROM llr
ORDER BY llr_milli DESC, a, b LIMIT 50
"""


@register("bigram_llr_collocations", _LLR_SQL)
def bigram_llr_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by log-likelihood ratio (Dunning 1993 —
    the classic significance test for bigrams, robust at low counts
    where PMI over-rewards rarity; the NLTK/Mahout standard): top-50
    adjacent-word pairs by the 2·Σ k_ij·ln(k_ij·N / R_i·C_j)
    statistic over the 2×2 contingency table. Each cell's log-ratio
    is milli-quantized BEFORE the integer multiply-sum (the
    perplexity/nb/KL convention — ROUND absorbs Java-vs-libm ln ulp),
    so llr_milli is exact integer arithmetic and the top-50 cut
    (TakeOrderedAndProject, full (llr, a, b) tie-break) is
    hash-stable. Plan: bigrams from ONE doc-keyed LEAD window (the
    gopher_repetition shape); all four contingency cells fold from
    the ONE (a, b) count table (persisted — row totals, column
    totals, and N are derived aggregates, never corpus rescans); the
    totals joins key on the Heaps-bounded vocab. At 100 TB this is
    one token window + one bigram shuffle — the standard distributed
    collocation pass."""
    from pyspark.storagelevel import StorageLevel

    docs = load_table(spark, sf_dir, "documents", widen=True)
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), r"\s+")).alias(
            "idx", "word"
        ),
    ).filter(F.col("word") != "")
    w = Window.partitionBy("doc_id").orderBy("idx")
    bg = (
        tok.select(
            F.col("word").alias("a"), F.lead("word", 1).over(w).alias("b")
        )
        .filter(F.col("b").isNotNull())
    )
    ab = (
        bg.groupBy("a", "b")
        .agg(F.count("*").alias("k11"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ra = ab.groupBy("a").agg(F.sum("k11").alias("ca"))
    cbt = ab.groupBy("b").agg(F.sum("k11").alias("cbn"))
    nn = ab.agg(F.sum("k11").alias("n"))
    cells = (
        ab.join(ra, "a")
        .join(cbt, "b")
        .join(F.broadcast(nn))
        .select(
            "a",
            "b",
            "k11",
            (F.col("ca") - F.col("k11")).alias("k12"),
            (F.col("cbn") - F.col("k11")).alias("k21"),
            (F.col("n") - F.col("ca") - F.col("cbn") + F.col("k11")).alias(
                "k22"
            ),
            "ca",
            "cbn",
            "n",
        )
    )

    def _term(k, num, den):
        part = (
            F.round(
                1000
                * F.log((k.cast("double") * F.col("n")) / (num * den))
            )
            .cast("long")
        )
        return k * part

    llr = cells.select(
        "a",
        "b",
        F.col("k11").alias("n_ab"),
        (
            2
            * (
                _term(
                    F.col("k11"),
                    F.col("ca").cast("double"),
                    F.col("cbn"),
                )
                + F.when(
                    F.col("k12") > 0,
                    _term(
                        F.col("k12"),
                        F.col("ca").cast("double"),
                        F.col("n") - F.col("cbn"),
                    ),
                ).otherwise(F.lit(0))
                + F.when(
                    F.col("k21") > 0,
                    _term(
                        F.col("k21"),
                        (F.col("n") - F.col("ca")).cast("double"),
                        F.col("cbn"),
                    ),
                ).otherwise(F.lit(0))
                + F.when(
                    F.col("k22") > 0,
                    _term(
                        F.col("k22"),
                        (F.col("n") - F.col("ca")).cast("double"),
                        F.col("n") - F.col("cbn"),
                    ),
                ).otherwise(F.lit(0))
            )
        ).alias("llr_milli"),
    )
    return llr.orderBy(F.desc("llr_milli"), "a", "b").limit(50)


# --------------------------------------------------------------------
# round 11: Aho-Corasick multi-pattern matching — the scale path for
# 10k+-pattern blocklists behind the C4 bad-word flag / PII scrub
# --------------------------------------------------------------------

# Nested and overlapping on purpose: "scan">"can">"an" and
# "the">"he" exercise the dictionary-suffix output sets; "she" never
# occurs (absent-pattern leg); the phrases cross word boundaries.
AC_PATTERNS = [
    "scan", "can", "an", "a", "part", "art", "table part", "row fast",
    "agg", "gg", "the", "he", "she", "value table",
    "sort table window", "merge batch",
]


def _ac_oracle_sql() -> str:
    vals = ", ".join(f"('{p}')" for p in AC_PATTERNS)
    return (
        f"WITH p AS (SELECT * FROM (VALUES {vals}) AS v(pat)), "
        "d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents), "
        "hits AS (SELECT doc_id, pat, i + len(pat) - 1 AS e "
        "FROM d CROSS JOIN p "
        "CROSS JOIN LATERAL (SELECT unnest(range(1, len(t) - len(pat) + 2)) AS i) r "
        "WHERE substr(t, i, len(pat)) = pat) "
        "SELECT doc_id, pat AS pattern, CAST(COUNT(*) AS BIGINT) AS n_matches, "
        "CAST(MIN(e) AS BIGINT) AS first_end, CAST(MAX(e) AS BIGINT) AS last_end "
        "FROM hits GROUP BY doc_id, pat"
    )


@register("aho_corasick_matches", _ac_oracle_sql())
def aho_corasick_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aho-Corasick multi-pattern matching (Aho & Corasick 1975) over
    the document corpus: every occurrence of every pattern — nested,
    overlapping, phrase — in ONE linear pass per document,
    independent of pattern count. The goto/fail automaton is built
    RELATIONALLY (operators/ahocorasick.py: prefix-explode nodes,
    longest-suffix fail links via semi-join + per-node argmax,
    output sets via suffix join to the pattern table) so 10k+-pattern
    blocklists parallelize over patterns; matching is one
    Arrow-batched mapInPandas goto/fail walk with the bounded
    automaton closure-broadcast. Output aggregates each (doc,
    pattern): match count + first/last 1-based end positions —
    integer-exact. The oracle is the O(chars x patterns) direct
    position scan, which is exactly the per-pattern cost AC exists to
    beat; the hash match certifies the automaton semantics
    end-to-end."""
    from .operators.ahocorasick import automaton_frame, match_counts

    docs = load_table(spark, sf_dir, "documents", widen=True)
    auto = automaton_frame(spark, AC_PATTERNS)
    return match_counts(docs, "doc_id", "text", auto)


_C4_AC_SQL = """
WITH t AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM t),
vocab AS (SELECT w FROM (SELECT w, COUNT(*) AS c FROM tok
                         WHERE len(w) >= 6 GROUP BY w
                         ORDER BY c DESC, w LIMIT 200)),
hit AS (SELECT DISTINCT doc_id FROM tok SEMI JOIN vocab ON tok.w = vocab.w)
SELECT t.doc_id,
       CAST(CASE WHEN hit.doc_id IS NULL THEN 0 ELSE 1 END AS INT)
         AS has_badword
FROM t LEFT JOIN hit ON t.doc_id = hit.doc_id
"""


@register("c4_badwords_ac", _C4_AC_SQL)
def c4_badwords_ac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 bad-word page flag (Raffel et al. 2020 §2.2 — the rule
    c4_quality_flags carries with a 2-word list) at REAL blocklist
    scale, computed on the Aho-Corasick kernel: the blocklist is the
    200 most frequent >= 6-char corpus tokens (derived relationally —
    deterministic (count desc, token) cut, so both engines build the
    identical list with no literal vocabulary in the SQL), each word
    becomes the pattern " word " and the padded-text walk makes an
    AC hit EXACTLY token membership under C4's single-space
    tokenization. The oracle is the word-membership semi-join — the
    hash match certifies the automaton gate computes the published
    word rule verbatim, which is what lets the streaming blocklist
    gate and the batch C4 filter share one kernel in production.
    Plan: one token-count shuffle + a 200-row TakeOrdered collect for
    the list; the flag itself is ONE Arrow-batched mapInPandas walk,
    O(chars + matches) per doc at ANY list size (the arrays_overlap
    projection it replaces is O(tokens x words) — the scan that dies
    at 10k+ words)."""
    from .operators.ahocorasick import badword_flag
    from .operators.relational import top_n

    docs = load_table(spark, sf_dir, "documents", widen=True)
    t = docs.select("doc_id", F.coalesce("text", F.lit("")).alias("text"))
    tok = t.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.length("w") >= 6)
    vocab = top_n(
        tok.groupBy("w").agg(F.count("*").alias("c")),
        [F.desc("c"), F.asc("w")],
        200,
    )
    words = [r["w"] for r in vocab.collect()]
    return badword_flag(t, "doc_id", "text", words).select(
        "doc_id", "has_badword"
    )


# --------------------------------------------------------------------
# round 11: interpolated Kneser-Ney bigram LM — the smoothing the
# perplexity filter's add-one LM graduates to
# --------------------------------------------------------------------

_KN_SQL = """
WITH t AS (SELECT doc_id,
        list_filter(string_split_regex(coalesce(text, ''), '\\s+'),
                    x -> x <> '') AS toks FROM documents),
tok AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS idx,
               unnest(toks) AS w FROM t),
bg AS (SELECT doc_id, w AS a,
              LEAD(w, 1) OVER (PARTITION BY doc_id ORDER BY idx) AS b
       FROM tok),
bi AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_ab FROM bg
       WHERE b IS NOT NULL GROUP BY a, b),
ctx AS (SELECT a, CAST(SUM(c_ab) AS BIGINT) AS c_a,
               CAST(COUNT(*) AS BIGINT) AS n1_fwd FROM bi GROUP BY a),
rev AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n1_rev FROM bi GROUP BY b),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM bi),
s AS (SELECT bi.a, bi.b, c_ab, c_a, n1_fwd, n1_rev,
      CAST((GREATEST(4 * c_ab - 3, 0)::HUGEINT * nt
            + 3 * n1_fwd::HUGEINT * n1_rev) * 1000000
           // (4 * c_a::HUGEINT * nt) AS BIGINT) AS pkn_ppm
      FROM bi JOIN ctx ON bi.a = ctx.a JOIN rev ON bi.b = rev.b
      CROSS JOIN nt)
SELECT a, b, c_ab, c_a, n1_fwd, n1_rev, pkn_ppm FROM s
ORDER BY c_ab DESC, a, b LIMIT 100
"""


@register("kneser_ney_bigram_lm", _KN_SQL)
def kneser_ney_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM (Kneser & Ney 1995; Chen &
    Goodman 1998 eq. 4.25) fit on the corpus — the smoothing the
    CCNet-style perplexity filter's add-one LM graduates to. With
    discount d = 3/4 the whole estimate is an EXACT integer rational:
    P(b|a) = max(c_ab - d, 0)/c_a + d·N1+(a·)/c_a · N1+(·b)/N1+(··)
    multiplies through to (max(4c_ab-3, 0)·NT + 3·N1f·N1r)·1e6 //
    (4·c_a·NT) ppm — every column certifiable, no float anywhere.
    The product routes through DECIMAL(38,0) in Spark and HUGEINT in
    the oracle (the degree_assortativity treatment): at sf1+ the raw
    int64 product approaches 2^63, where non-ANSI Spark would wrap
    silently while DuckDB raises — the widened lane keeps both sides
    exact at any scale, and the final ppm stays int64. Output:
    top-100 bigrams by count with the full count/continuation
    breakdown. Plan: ONE token scan -> doc-keyed LEAD window ->
    bigram count (map-side combined); context totals and both
    continuation counts are marginals OF THE BIGRAM TABLE (no second
    scan); NT is a 1-row broadcast; final cut is
    TakeOrderedAndProject. At 100 TB the bigram table is the only
    token-scale shuffle."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    toks = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
        lambda t: t != "",
    )
    tok = docs.select(
        "doc_id", F.posexplode(toks).alias("idx", "w")
    )
    wd = Window.partitionBy("doc_id").orderBy("idx")
    bg = tok.select(
        F.col("w").alias("a"), F.lead("w", 1).over(wd).alias("b")
    ).filter(F.col("b").isNotNull())
    bi = bg.groupBy("a", "b").agg(F.count("*").alias("c_ab"))
    ctx = bi.groupBy("a").agg(
        F.sum("c_ab").alias("c_a"), F.count("*").alias("n1_fwd")
    )
    rev = bi.groupBy("b").agg(F.count("*").alias("n1_rev"))
    nt = bi.agg(F.count("*").alias("nt"))
    s = (
        bi.join(ctx, "a")
        .join(rev, "b")
        .crossJoin(F.broadcast(nt))
        .select(
            "a",
            "b",
            "c_ab",
            "c_a",
            "n1_fwd",
            "n1_rev",
            F.expr(
                "(greatest(4 * c_ab - 3, 0) * cast(nt as decimal(38,0))"
                " + 3 * cast(n1_fwd as decimal(38,0)) * n1_rev)"
                " * 1000000 div (4 * cast(c_a as decimal(38,0)) * nt)"
            ).alias("pkn_ppm"),
        )
    )
    from .operators.relational import top_n

    return top_n(s, [F.desc("c_ab"), F.asc("a"), F.asc("b")], 100)


@register("streaming_blocklist_gate", _ac_oracle_sql())
def streaming_blocklist_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aho_corasick_matches as a STREAMING ingest gate (the
    streaming_hrw_route pattern applied to content filtering):
    documents stream in and exit with per-pattern match counts from
    the same goto/fail automaton, stateless mapInPandas, append-mode
    AvailableNow drain. The oracle is the batch position-scan SQL
    unchanged — the hash match certifies the streaming gate and the
    batch audit compute identical matches, the property a blocklist
    must hold across backfill and live paths at 100 TB."""
    from .streaming.ingest import streaming_blocklist_gate_batch

    out = streaming_blocklist_gate_batch(spark, sf_dir, AC_PATTERNS)
    return out.select(
        "doc_id", "pattern", "n_matches", "first_end", "last_end"
    )


_KN_PPL_SQL = """
WITH t AS (SELECT doc_id,
        list_filter(string_split_regex(coalesce(text, ''), '\\s+'),
                    x -> x <> '') AS toks FROM documents),
tok AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS idx,
               unnest(toks) AS w FROM t),
big AS (SELECT doc_id, w AS a,
               LEAD(w, 1) OVER (PARTITION BY doc_id ORDER BY idx) AS b
        FROM tok),
bg AS (SELECT doc_id, a, b FROM big WHERE b IS NOT NULL),
bi AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_ab FROM bg GROUP BY a, b),
ctx AS (SELECT a, CAST(SUM(c_ab) AS BIGINT) AS c_a,
               CAST(COUNT(*) AS BIGINT) AS n1_fwd FROM bi GROUP BY a),
rev AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n1_rev FROM bi GROUP BY b),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM bi),
scored AS (SELECT bi.a, bi.b,
        CAST(ROUND(ln(CAST(GREATEST(4 * c_ab - 3, 0)::HUGEINT * nt
                           + 3 * n1_fwd::HUGEINT * n1_rev AS DOUBLE)
                      / CAST(4 * c_a::HUGEINT * nt AS DOUBLE)) * 1000.0)
             AS BIGINT) AS mn
        FROM bi JOIN ctx ON bi.a = ctx.a JOIN rev ON bi.b = rev.b
        CROSS JOIN nt),
doc AS (SELECT bg.doc_id, CAST(SUM(s.mn) AS BIGINT) AS sm,
               CAST(COUNT(*) AS BIGINT) AS m
        FROM bg JOIN scored s ON bg.a = s.a AND bg.b = s.b
        GROUP BY bg.doc_id),
sc AS (SELECT doc_id, m AS n_bigrams,
              CAST((-sm) * 1000 // m AS BIGINT) AS ce_micro,
              -sm / (m * 1000.0) AS cross_entropy
       FROM doc),
rk AS (SELECT sc.*,
              CAST(ROW_NUMBER() OVER (ORDER BY ce_micro, doc_id)
                   AS BIGINT) AS rnk,
              CAST(COUNT(*) OVER () AS BIGINT) AS n
       FROM sc)
SELECT doc_id, n_bigrams, ce_micro, cross_entropy,
  CASE WHEN rnk <= (n + 2) // 3 THEN 'head'
       WHEN rnk <= (2 * n + 2) // 3 THEN 'middle'
       ELSE 'tail' END AS ppl_bucket
FROM rk
"""


@register("kn_perplexity_buckets", _KN_PPL_SQL)
def kn_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """perplexity_buckets under the interpolated Kneser-Ney LM
    instead of add-one smoothing (Wenzek et al. 2020 score the CCNet
    buckets with a properly smoothed KenLM — this is that upgrade
    in-engine): per-doc cross-entropy from millinat-quantized KN
    bigram NLLs (the exact-rational p from kneser_ney_bigram_lm, the
    product lane widened to DECIMAL(38,0)/HUGEINT before the double
    cast so int64 never wraps at scale; quantized BEFORE aggregation
    so the per-doc mean is exact integer arithmetic and absorbs
    Java-vs-libm ln ulp skew). Terciles are EXACT INTEGER RANK
    thresholds, not interpolated percentiles: docs rank by
    (ce_micro, doc_id) — ce_micro the floored integer micronat mean,
    so the sort key and the cutpoints rnk <= ceil(n/3) / ceil(2n/3)
    are bit-identical across engines (quantile_cont vs F.percentile
    interpolation can differ by 1 ulp at tied values and flip a
    boundary doc's bucket). The rank is the suffix-array two-level
    rank (broadcast integer bucketing + per-bucket row_number) —
    never a single-partition window. Plan: the kneser_ney_bigram_lm
    marginals + ONE per-type score join + per-doc re-agg + the
    constant-fan two-level rank."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    toks = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
        lambda t: t != "",
    )
    tok = docs.select("doc_id", F.posexplode(toks).alias("idx", "w"))
    wd = Window.partitionBy("doc_id").orderBy("idx")
    bg = tok.select(
        "doc_id",
        F.col("w").alias("a"),
        F.lead("w", 1).over(wd).alias("b"),
    ).filter(F.col("b").isNotNull())
    bi = bg.groupBy("a", "b").agg(F.count("*").alias("c_ab"))
    ctx = bi.groupBy("a").agg(
        F.sum("c_ab").alias("c_a"), F.count("*").alias("n1_fwd")
    )
    rev = bi.groupBy("b").agg(F.count("*").alias("n1_rev"))
    nt = bi.agg(F.count("*").alias("nt"))
    scored = (
        bi.join(ctx, "a")
        .join(rev, "b")
        .crossJoin(F.broadcast(nt))
        .select(
            "a",
            "b",
            F.round(
                F.log(
                    F.expr(
                        "cast(greatest(4 * c_ab - 3, 0)"
                        " * cast(nt as decimal(38,0))"
                        " + 3 * cast(n1_fwd as decimal(38,0)) * n1_rev"
                        " as double)"
                    )
                    / F.expr(
                        "cast(4 * cast(c_a as decimal(38,0)) * nt"
                        " as double)"
                    )
                )
                * F.lit(1000.0)
            )
            .cast("long")
            .alias("mn"),
        )
    )
    doc = (
        bg.join(scored, ["a", "b"])
        .groupBy("doc_id")
        .agg(F.sum("mn").alias("sm"), F.count("*").alias("m"))
        .select(
            "doc_id",
            F.col("m").alias("n_bigrams"),
            F.expr("(-sm) * 1000 div m").alias("ce_micro"),
            (-F.col("sm") / (F.col("m") * F.lit(1000.0))).alias(
                "cross_entropy"
            ),
        )
    )
    from .operators.relational import two_level_rank

    ranked = two_level_rank(doc, F.col("ce_micro"), ["ce_micro", "doc_id"])
    n = doc.agg(F.count("*").cast("long").alias("n"))
    return ranked.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "n_bigrams",
        "ce_micro",
        "cross_entropy",
        F.when(F.col("rank") <= F.expr("(n + 2) div 3"), "head")
        .when(F.col("rank") <= F.expr("(2 * n + 2) div 3"), "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )


_CONTAIN_SQL = """
WITH t AS (SELECT doc_id,
        list_filter(string_split_regex(coalesce(text, ''), '\\s+'),
                    x -> x <> '') AS toks FROM documents),
g AS (SELECT DISTINCT doc_id,
             array_to_string(toks[pos + 1 : pos + 3], ' ') AS gram
      FROM (SELECT doc_id, toks,
                   unnest(range(0, greatest(len(toks) - 2, 0))) AS pos
            FROM t)),
dfc AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY gram),
kept AS (SELECT g.doc_id, g.gram FROM g JOIN dfc USING (gram)
         WHERE df <= 1000),
sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM kept
       GROUP BY doc_id),
inter AS (SELECT a.doc_id AS src, b.doc_id AS dst,
                 CAST(COUNT(*) AS BIGINT) AS inter
          FROM kept a JOIN kept b
            ON a.gram = b.gram AND a.doc_id <> b.doc_id
          GROUP BY 1, 2),
c AS (SELECT src, dst, inter, n AS n_src,
             inter * 1000000 // n AS containment_ppm
      FROM inter JOIN sz ON sz.doc_id = inter.src)
SELECT src, dst, inter, n_src, containment_ppm FROM c
ORDER BY containment_ppm DESC, src, dst LIMIT 50
"""


@register("shingle_containment_pairs", _CONTAIN_SQL)
def shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder CONTAINMENT (|A∩B| / |A|, Broder 1997 §2) between
    document shingle sets — the asymmetric companion to resemblance/
    Jaccard that catches SUB-document duplication (a doc quoted
    inside a larger one scores near 1 on containment while Jaccard
    stays low — the dedup_ngram_jaccard family misses exactly this).
    Distinct word 3-grams; the df <= 1000 kept-universe cap bounds
    the Σdf² pair fanout with the same exact kept-universe semantics
    the certified Jaccard join documents (numerator AND denominator
    exclude capped shingles; df=1 shingles stay in the denominator —
    they dilute containment, which is the honest signal). Integer-
    ppm scores, top-50 with full (score, src, dst) tie-break. Plan:
    one gram-df count shuffle, the gram-keyed pair join + (src,dst)
    count, one src-keyed size join, TakeOrderedAndProject — at
    100 TB identical to the LSH-candidate verify stage's shape."""
    docs = load_table(spark, sf_dir, "documents", widen=True)
    toks = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
        lambda t: t != "",
    )
    base = docs.select(F.col("doc_id").alias("__id"), toks.alias("__toks"))
    gram_arr = F.when(
        F.size("__toks") >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size("__toks") - F.lit(3)),
            lambda i: F.array_join(F.slice("__toks", i + F.lit(1), F.lit(3)), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = base.select(
        "__id", F.explode(F.array_distinct(gram_arr)).alias("gram")
    )
    dfc = g.groupBy("gram").agg(F.count("*").alias("df"))
    kept = g.join(dfc, "gram").filter(F.col("df") <= 1000).select(
        "__id", "gram"
    )
    sz = kept.groupBy("__id").agg(F.count("*").alias("n"))
    inter = (
        kept.select(F.col("__id").alias("src"), "gram")
        .join(kept.select(F.col("__id").alias("dst"), "gram"), "gram")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("inter"))
    )
    c = inter.join(
        sz.select(F.col("__id").alias("src"), F.col("n").alias("n_src")),
        "src",
    ).select(
        "src",
        "dst",
        "inter",
        "n_src",
        F.expr("inter * 1000000 div n_src").alias("containment_ppm"),
    )
    from .operators.relational import top_n

    return top_n(
        c, [F.desc("containment_ppm"), F.asc("src"), F.asc("dst")], 50
    )

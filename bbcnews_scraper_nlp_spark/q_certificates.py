"""Certificate-oracled and rows-only operators: LDA/coherence, BPE and
unigram-LM tokenizer training, codecs/multimodal, streaming drains.
Split out of queries.py (round 10); definitions verbatim."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .catalog import load_table
from .operators import similarity as S
from .operators.coherence import CV_WINDOW
from .operators.dedup import MERSENNE31, MINHASH_BANDS, MINHASH_NUM_HASHES

from .operators.traindata import WSAMPLE_SALT
from .queries_base import register, _sql_str_list
from .q_core import _sql_tokens_expr  # noqa: F401


# --------------------------------------------------------------------
# rows-only queries: ops with no SQL-expressible oracle (the driver
# records a weaker rows-only check; pytest covers their semantics)
# --------------------------------------------------------------------


def _docs_with_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ mutated copies (last 2 words dropped, ids offset by
    1M) — planted near-duplicates so dedup operators have positives."""
    docs = load_table(spark, sf_dir, "documents", widen=True).select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    mutated = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1))), " ").alias(
            "text"
        ),
    ).filter(F.col("doc_id") % 5 == 0)
    return docs.unionByName(mutated)


def _minhash_oracle_sql() -> str:
    """DuckDB twin of minhash_lsh_pairs on the planted-dups fixture.

    Recomputes the whole pipeline from first principles: md5-prefix
    shingle hash (mod 2^31-1), the same LCG affine coefficients, the
    64 signature minima as plain MIN aggregates, band membership as
    explicit 4-way tuple equality over an all-pairs join (fine at
    oracle scale; the Spark side's banded shuffle exists precisely to
    avoid this at real scale), and exact Jaccard verification on the
    hashed shingle sets."""
    return (
        f"WITH {_PLANTED_DOCS_CTE},\n"
        + _minhash_pair_ctes("alldocs")
        + f"\n{_MINHASH_PAIR_SELECT}"
    )


_PLANTED_DOCS_CTE = """alldocs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(
           (string_split(text, ' '))[1:greatest(len(string_split(text, ' ')) - 2, 1)],
           ' ') AS text
  FROM documents WHERE (doc_id + 1000000) % 5 = 0
)"""

_MINHASH_PAIR_SELECT = """SELECT id_1, id_2,
       ROUND(CAST(i AS DOUBLE) / (z1.n + z2.n - i), 6) AS jaccard
FROM inter
JOIN sz z1 ON z1.doc_id = id_1
JOIN sz z2 ON z2.doc_id = id_2
WHERE CAST(i AS DOUBLE) / (z1.n + z2.n - i) >= 0.5"""


def _minhash_pair_ctes(source: str) -> str:
    """The shared CTE chain (shingle → sig → cand → inter) of the
    MinHash oracle, over any (doc_id, text) CTE named ``source``."""
    from .operators.dedup import _coeffs

    coeffs = _coeffs(MINHASH_NUM_HASHES)
    rows_per_band = MINHASH_NUM_HASHES // MINHASH_BANDS
    mins = ", ".join(
        f"MIN(({a} * h + {b}) % {MERSENNE31}) AS m{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_clauses = " OR ".join(
        "("
        + " AND ".join(
            f"a.m{i} = b.m{i}"
            for i in range(bnd * rows_per_band, (bnd + 1) * rows_per_band)
        )
        + ")"
        for bnd in range(MINHASH_BANDS)
    )
    return f"""tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM {source}),
shingle AS (
  SELECT DISTINCT doc_id,
         CAST(('0x' || substr(md5(array_to_string(t[j:j+2], ' ')), 1, 15))
              AS UBIGINT) % {MERSENNE31} AS h
  FROM tok, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS j) s
  WHERE len(t) >= 3
),
sig AS (SELECT doc_id, {mins} FROM shingle GROUP BY doc_id),
sz AS (SELECT doc_id, COUNT(*) AS n FROM shingle GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE {band_clauses}
),
inter AS (
  SELECT c.id_1, c.id_2, COUNT(*) AS i
  FROM cand c
  JOIN shingle s1 ON s1.doc_id = c.id_1
  JOIN shingle s2 ON s2.doc_id = c.id_2 AND s2.h = s1.h
  GROUP BY c.id_1, c.id_2
)"""


@register("dedup_minhash_lsh", _minhash_oracle_sql())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs over documents with planted dups,
    in the md5 shingle-hash flavor so the DuckDB oracle can recompute
    signatures bit-for-bit (xxhash64 stays the production default).
    pytest additionally checks recall of planted pairs and precision
    vs exact Jaccard."""
    from .operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _docs_with_near_dups(spark, sf_dir),
        "doc_id",
        "text",
        jaccard_threshold=0.5,
        shingle_hash="md5",
    )


# The oracle recomputes SimHash from scratch in SQL: md5-prefix token
# hash (60 usable bits — identical in both engines), per-bit ±1
# majority vote, then ALL-PAIRS Hamming via bit_count(xor). The Spark
# side bands on 4x16-bit chunks instead of all-pairs, but banding is
# a lossless pigeonhole prune at Hamming<=3, so the outputs are
# set-identical.
_SIMHASH_ORACLE = """
WITH alldocs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(
           (string_split(text, ' '))[1:greatest(len(string_split(text, ' ')) - 2, 1)],
           ' ') AS text
  FROM documents WHERE (doc_id + 1000000) % 5 = 0
),
tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM alldocs),
th AS (SELECT doc_id,
              CAST(('0x' || substr(md5(w), 1, 15)) AS UBIGINT) AS h
       FROM tok),
bitcnt AS (
  SELECT doc_id, j,
         SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS c
  FROM th, (SELECT unnest(range(60)) AS j) bits
  GROUP BY doc_id, j
),
fp AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN c > 0 THEN (1::UBIGINT << j) ELSE 0 END)
              AS BIGINT) AS f
  FROM bitcnt GROUP BY doc_id
)
SELECT a.doc_id AS id_1, b.doc_id AS id_2,
       CAST(bit_count(xor(a.f, b.f)) AS INT) AS hamming
FROM fp a, fp b
WHERE a.doc_id < b.doc_id AND bit_count(xor(a.f, b.f)) <= 3
"""


@register("dedup_simhash", _SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming <= 3 on 64-bit fingerprints)
    over documents with planted dups. Uses the md5 token-hash flavor
    so the fingerprints are engine-independent and the DuckDB oracle
    can recompute them bit-for-bit (the xxhash64 flavor is the
    default for production corpora)."""
    from .operators.dedup import simhash_pairs

    return simhash_pairs(
        _docs_with_near_dups(spark, sf_dir), "doc_id", "text",
        token_hash="md5",
    )


def _lsh_topk_oracle_sql() -> str:
    """DuckDB twin of rp_lsh_topk (r=6, seed=42, dim=64): recompute
    the sign-pattern bucket of every vector AND of the query (vec_id
    0) from the same deterministic LCG hyperplanes inlined as
    literals, filter to the query's bucket, brute-force cosine top-k
    inside it. The sub-bucket cap never triggers at driver scale
    (bucket sizes << max_bucket), so the uncapped bucket id is the
    one to match."""
    from .operators.similarity import make_planes

    planes = make_planes(64, 6)

    def bucket_expr(vec: str) -> str:
        return " + ".join(
            f"(CASE WHEN list_dot_product({vec}, "
            f"[{', '.join(repr(x) for x in p)}]) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )

    return (
        "WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings WHERE vec_id = 0), "
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings WHERE vec_id != 0), "
        f"b AS (SELECT vec_id, v, {bucket_expr('v')} AS bucket FROM e), "
        f"qb AS (SELECT {bucket_expr('v')} AS bucket FROM q) "
        "SELECT vec_id, "
        "ROUND(list_cosine_similarity(v, (SELECT v FROM q)), 6) AS cosine "
        "FROM b WHERE bucket = (SELECT bucket FROM qb) "
        "ORDER BY cosine DESC, vec_id LIMIT 10"
    )


@register("similarity_lsh_topk", _lsh_topk_oracle_sql())
def similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH-pruned cosine top-k (the ANN scale path;
    brute-force twin ann_topk_cosine is the oracle-checked baseline).
    Oracle-checked too: the DuckDB twin recomputes the deterministic
    LCG hyperplane buckets in SQL and scans the query's bucket."""
    from .operators.similarity import rp_lsh_topk

    emb = load_table(spark, sf_dir, "embeddings", widen=True)
    query = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    return rp_lsh_topk(
        emb.filter(F.col("vec_id") != 0), "embedding", "vec_id",
        [float(x) for x in query], k=10, r=6,
    )


@register(
    "dedup_embedding_cosine",
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) "
    "SELECT a.vec_id AS id_1, b.vec_id AS id_2, "
    "ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine "
    "FROM e a, e b WHERE a.vec_id < b.vec_id "
    "AND ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.4",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, brute-force exact (the oracle
    baseline; the LSH-bucketed variant in similarity.cosine_pairs is
    the scale path, pytest-checked for recall). Threshold 0.4 chosen
    so the synthetic embeddings (max pairwise cosine ~0.51) yield a
    non-empty result."""
    emb = load_table(spark, sf_dir, "embeddings", widen=True)
    return S.cosine_pairs(
        emb, "embedding", "vec_id", threshold=0.4, brute_force=True
    )


_IVF_FIXED_SQL = f"""
WITH cent AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings ORDER BY vec_id LIMIT {S.IVF_CENTROIDS}),
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
      WHERE vec_id = {S.ANN_QUERY_ID}),
e AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS ev
      FROM embeddings),
a AS (SELECT vid,
             -struct_extract(
                 max((ROUND(list_cosine_similarity(ev, cv), 6), -cell)), 2)
             AS cell
      FROM e, cent GROUP BY vid),
probe AS (SELECT cell FROM cent, q
          ORDER BY ROUND(list_cosine_similarity(cv, qv), 6) DESC, cell
          LIMIT {S.IVF_PROBE})
SELECT e.vid AS vec_id, ROUND(list_cosine_similarity(e.ev, q.qv), 6) AS cosine
FROM a JOIN e ON a.vid = e.vid, q
WHERE a.cell IN (SELECT cell FROM probe) AND e.vid <> {S.ANN_QUERY_ID}
ORDER BY cosine DESC, e.vid LIMIT {S.ANN_K}
"""


@register("similarity_ivf_fixed_topk", _IVF_FIXED_SQL)
def similarity_ivf_fixed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with deterministic (first-16-by-id) centroids — the
    hash-oracled twin of similarity_ivf_topk: argmax-cosine cell
    assignment on ROUND-6 similarities (engine-portable, id
    tie-break), probe the 3 cells nearest the query, brute-force
    top-10 within. KMeans centroids stay the quality path
    (rows-only); this pins the whole IVF probe/score machinery to a
    cross-engine value hash."""
    emb = load_table(spark, sf_dir, "embeddings", widen=True)
    return S.ivf_fixed_topk(emb, "embedding", "vec_id")


# a subvector slice [j*PQ_DSUB+1 : j*PQ_DSUB+PQ_DSUB] of a vector column
_PQ_SLICE = f"[j*{S.PQ_DSUB}+1 : j*{S.PQ_DSUB}+{S.PQ_DSUB}]"

_PQ_ADC_SQL = f"""
WITH e AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
cent AS (SELECT vid, v FROM e ORDER BY vid LIMIT {S.PQ_KSUB}),
js AS (SELECT unnest(range(0, {S.PQ_M})) AS j),
cb AS (SELECT cent.vid AS code, j, v{_PQ_SLICE} AS cw FROM cent, js),
sub AS (SELECT vid, j, v{_PQ_SLICE} AS sv FROM e, js),
enc AS (SELECT vid, j,
               struct_extract(min((
                   CAST(ROUND((ROUND(list_dot_product(sv, sv), 6)
                             + ROUND(list_dot_product(cw, cw), 6)
                             - 2 * ROUND(list_dot_product(sv, cw), 6)) * 1e6)
                        AS BIGINT),
                   code)), 2) AS code
        FROM sub JOIN cb USING (j) GROUP BY vid, j),
qd AS (SELECT j, code,
              CAST(ROUND((ROUND(list_dot_product(sv, sv), 6)
                        + ROUND(list_dot_product(cw, cw), 6)
                        - 2 * ROUND(list_dot_product(sv, cw), 6)) * 1e6)
                   AS BIGINT) AS ds
       FROM sub JOIN cb USING (j) WHERE vid = {S.ANN_QUERY_ID})
SELECT enc.vid AS vec_id,
       CAST(SUM(qd.ds) AS BIGINT) / 1e6 AS adc_dist
FROM enc JOIN qd USING (j, code)
WHERE enc.vid <> {S.ANN_QUERY_ID}
GROUP BY enc.vid
ORDER BY adc_dist, vec_id
LIMIT {S.ANN_K}
"""


@register("similarity_pq_adc_topk", _PQ_ADC_SQL)
def similarity_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011): 8 subspaces x 16
    deterministic Forgy codewords, integer-scaled ROUND-6 distances,
    Asymmetric Distance Computation top-10 for query vec_id 0 — the
    compressed-index ANN tier beside brute force / LSH / IVF, fully
    hash-oracled. See operators/similarity.pq_adc_topk for the 100 TB
    shape (codes = m small ints per vector, broadcast distance
    table, no raw-vector shuffle)."""
    emb = load_table(spark, sf_dir, "embeddings", widen=True)
    return S.pq_adc_topk(emb, "embedding", "vec_id")


@register(
    "ann_topk_batch",
    "WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv "
    "FROM embeddings WHERE vec_id < 4), "
    "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
    "FROM embeddings), "
    "s AS (SELECT q.qid, e.vec_id, "
    "ROUND(list_cosine_similarity(e.v, q.qv), 6) AS cosine "
    "FROM e, q), "
    "r AS (SELECT qid, vec_id, cosine, "
    "CAST(row_number() OVER (PARTITION BY qid "
    "ORDER BY cosine DESC, vec_id) AS INT) AS rank FROM s) "
    "SELECT qid, vec_id, cosine, rank FROM r WHERE rank <= 5",
)
def ann_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ANN serving: top-5 neighbors for a 4-query batch in
    ONE plan — broadcast query table onto the corpus scan (corpus
    never shuffles for the join), per-query rank-filtered window.
    The exact baseline the batched LSH/IVFADC probes approximate."""
    emb = load_table(spark, sf_dir, "embeddings", widen=True)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding")
    )
    # self-match rides along (rank 1 == the query itself at cosine
    # 1.0) — the standard serving sanity row, identical in the oracle
    return S.cosine_topk_batch(
        emb, "embedding", "vec_id", queries, "qid", "embedding", k=5
    ).select("qid", "vec_id", "cosine", "rank")


@register(
    "hard_negatives_topk",
    "WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v "
    "FROM embeddings), "
    "p AS (SELECT a.vec_id AS anchor_id, a.label AS anchor_label, "
    "b.vec_id AS neg_id, "
    "ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine "
    "FROM e a JOIN e b ON a.label <> b.label), "
    "r AS (SELECT anchor_id, anchor_label, neg_id, cosine, "
    "CAST(row_number() OVER (PARTITION BY anchor_id "
    "ORDER BY cosine DESC, neg_id) AS INT) AS rank FROM p) "
    "SELECT anchor_id, anchor_label, neg_id, cosine, rank "
    "FROM r WHERE rank <= 3",
)
def hard_negatives_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    3 most-similar vectors of a DIFFERENT label (the negatives that
    actually move the loss). Brute-force pair scoring is the oracle
    baseline at this sf; at 100 TB the pair generation swaps to the
    LSH/IVFADC candidate join (same downstream rank window), exactly
    like cosine_pairs' documented scale path.

    Pair-loop shape: each side's norm is factored into a projection
    BELOW the join, so the O(n^2) inner loop evaluates ONE dot
    product per pair instead of dot + two norms (bit-identical
    values — `dot/(na*nb)` with na hoisted is the same IEEE
    expression tree; 3x less interpreted-HOF work, and each row's
    norm is computed once, not once per partner). The anchor side is
    pre-partitioned on anchor_id at the session shuffle parallelism
    (no hard-coded count), and the negative side is explicitly
    broadcast: BroadcastNestedLoopJoin then preserves the STREAMED
    (anchor) side's partitioning, so the rank window needs no
    exchange of the n^2 pair rows — only the tiny anchor table ever
    shuffles. test_plan_contracts pins the no-Exchange-above-join
    property."""
    emb = load_table(spark, sf_dir, "embeddings", widen=True)
    e = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    a = e.select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("v").alias("va"),
        S.norm(F.col("v")).alias("na"),
    ).repartition(
        # session parallelism, passed EXPLICITLY: a column-only
        # repartition is AQE-coalescable, and AQE sees only the tiny
        # anchor table — it coalesces to ~1 partition and serializes
        # the n² broadcast loop below it (measured 2.1s -> 24.9s).
        # The explicit count pins the fan-out parallelism without
        # hard-coding a magic number.
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        "anchor_id",
    )
    b = e.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        F.col("v").alias("vb"),
        S.norm(F.col("v")).alias("nb"),
    )
    pairs = a.join(
        F.broadcast(b), F.col("anchor_label") != F.col("neg_label")
    ).select(
        "anchor_id",
        "anchor_label",
        "neg_id",
        F.round(
            S.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cosine"), F.col("neg_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("anchor_id", "anchor_label", "neg_id", "cosine", "rank")
    )


@register(
    "weighted_sample_by_length",
    "WITH b AS (SELECT lang, doc_id, n_chars, "
    f"ROUND(LN((CAST('0x' || substr(md5('{WSAMPLE_SALT}:' || "
    "CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) + 1.0) "
    "/ 4503599627370497.0) / n_chars, 6) AS rk "
    "FROM documents WHERE n_chars > 0), "
    "r AS (SELECT lang, doc_id, n_chars, "
    "row_number() OVER (PARTITION BY lang ORDER BY rk DESC, doc_id) AS rn "
    "FROM b) "
    "SELECT lang, doc_id, n_chars FROM r WHERE rn <= 20",
)
def weighted_sample_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (Efraimidis-Spirakis A-ES):
    top-20 per language by u^(1/w) rank with md5-uniform u and
    length weights — exact-size, weight-proportional, reproducible
    across runs/engines (no rand()). See traindata.weighted_sample
    for the TakeOrdered swap at global-k scale."""
    from .operators.traindata import weighted_sample

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return weighted_sample(
        docs, "n_chars", "doc_id", k=20, strata_cols=["lang"]
    ).select("lang", "doc_id", "n_chars")


_BPE_CERT_SQL = r"""
WITH wr AS (SELECT unnest(string_split_regex(text, '\s+')) AS w
            FROM documents),
v AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM wr WHERE w <> ''
      GROUP BY w),
p AS (SELECT w[i] AS a, w[i+1] AS b, SUM(n) AS cnt
      FROM v, UNNEST(range(1, length(w))) AS t(i)
      GROUP BY a, b),
fm AS (SELECT a, b FROM p ORDER BY cnt DESC, a, b LIMIT 1)
SELECT 'first_merge' AS chk,
       CAST(CAST(('0x' || substr(md5(a || '|' || b), 1, 15)) AS UBIGINT)
            AS BIGINT) AS val FROM fm
UNION ALL SELECT 'n_merges', 8
UNION ALL SELECT 'merges_distinct', 1
UNION ALL SELECT 'syms_nonempty', 1
"""


@register("bpe_learned_merges", _BPE_CERT_SQL)
def bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING (Sennrich et al. 2016): learn the first
    8 merge rules from the corpus — one corpus pass builds the word
    vocab, merges iterate over the tiny vocab table only (the
    sequential driver loop is inherent to BPE; it never rescans the
    corpus). The full merge SEQUENCE is iterative and not
    SQL-expressible, but step 0 IS: the certificate's exact
    cross-engine part is the 60-bit md5 of the argmax initial
    adjacent-char pair (count desc, pair lexicographic tie-break) —
    DuckDB recomputes it relationally from the corpus, pinning the
    word split, char symbolization, weighting, and tie-break the
    whole loop is built from. Booleans certify the sequence's
    invariants (8 merges, all distinct, nonempty symbols); the
    literal-Python BPE pytest pins the remaining merges exactly."""
    import hashlib

    from .functions.tokenize import learn_bpe_merges

    docs = load_table(spark, sf_dir, "documents", widen=True)
    merges = learn_bpe_merges(docs, "text", n_merges=8)
    first = merges[0] if merges else ("", "")
    fm_hash = int(
        hashlib.md5(f"{first[0]}|{first[1]}".encode()).hexdigest()[:15], 16
    )
    rows = [
        ("first_merge", fm_hash),
        ("n_merges", len(merges)),
        ("merges_distinct", int(len(set(merges)) == len(merges))),
        ("syms_nonempty", int(all(a and b for a, b in merges))),
    ]
    return spark.createDataFrame(rows, "chk string, val long")


# A fixed English merge table (rank order) for the ENCODE query: the
# apply step must be hash-oracled for a known merge sequence — the
# learned sequence is pinned separately (bpe_learned_merges
# certificate + literal-Python pytest), and encode(learned_merges)
# is pytest-pinned against a Python reference.
_BPE_APPLY_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("o", "u"), ("in", "g"),
    ("e", "n"), ("o", "r"),
]


def _bpe_encode_oracle_sql() -> str:
    chain = "' ' || rtrim(regexp_replace(word, '(.)', '\\1  ', 'g')) || ' '"
    for a, b in _BPE_APPLY_MERGES:
        chain = f"replace({chain}, ' {a}  {b} ', ' {a}{b} ')"
    return (
        "WITH w AS (SELECT doc_id, "
        r"unnest(string_split_regex(lower(text), '\s+')) AS word "
        "FROM documents), "
        "occ AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS cnt "
        "FROM w WHERE word <> '' GROUP BY doc_id, word), "
        "types AS (SELECT DISTINCT word FROM occ), "
        f"enc AS (SELECT word, {chain} AS sym FROM types), "
        "n AS (SELECT word, CAST(len(string_split(trim(sym), '  ')) "
        "AS BIGINT) AS n_sub FROM enc) "
        "SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_words, "
        "CAST(SUM(cnt * n_sub) AS BIGINT) AS n_subwords "
        "FROM occ JOIN n USING (word) GROUP BY doc_id"
    )


@register("bpe_encode_subwords", _bpe_encode_oracle_sql())
def bpe_encode_subwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION — the production step the registry's
    learn (bpe_learned_merges) and count (token_count_bpe) queries
    bracket: tokenize the corpus under a fixed merge table and report
    per-doc word and subword counts. The encode is a pure codegen
    replace-chain over a two-space symbol string
    (tokenize.bpe_encode_expr — no UDF; DuckDB mirrors the identical
    chain), and it runs per word TYPE: one narrow pass explodes
    words, one shuffle builds the (doc, word, cnt) occurrence table,
    the Heaps-bounded distinct vocab takes the replace chain, and
    occurrences join the subword counts back — at 100 TB the chain
    cost is ~|vocab|, not ~|tokens|, and the joins shuffle skinny
    (word, counts) rows only. Learned-merge encode is the same
    expression with learn_bpe_merges output (pytest-pinned to a
    literal-Python BPE apply)."""
    from .functions.tokenize import bpe_subword_count

    docs = load_table(spark, sf_dir, "documents", widen=True)
    w = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    occ = w.groupBy("doc_id", "word").agg(F.count("*").alias("cnt"))
    types = occ.select("word").distinct()
    n = types.select(
        "word",
        bpe_subword_count(F.col("word"), _BPE_APPLY_MERGES)
        .cast("long")
        .alias("n_sub"),
    )
    return (
        occ.join(n, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_sub")).alias("n_subwords"),
        )
    )


_UNIGRAM_CERT_SQL = r"""
WITH wr AS (SELECT unnest(string_split_regex(text, '\s+')) AS w
            FROM documents),
v AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM wr WHERE w <> ''
      GROUP BY w),
subs AS (SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS s,
                SUM(n) AS f
         FROM v, UNNEST(range(1, length(w) + 1)) AS t(i),
              UNNEST(range(2, 7)) AS u(l)
         WHERE i + l <= length(w) + 1 GROUP BY s),
topm AS (SELECT s FROM subs ORDER BY f DESC, s LIMIT 1),
mass AS (SELECT CAST(SUM(f) AS BIGINT) AS m FROM subs),
ch AS (SELECT CAST(COUNT(DISTINCT substr(w, CAST(i AS INT), 1))
              AS BIGINT) AS nc
       FROM v, UNNEST(range(1, length(w) + 1)) AS t(i))
SELECT 'seed_top' AS chk,
       CAST(CAST(('0x' || substr(md5(s), 1, 15)) AS UBIGINT) AS BIGINT)
       AS val FROM topm
UNION ALL SELECT 'seed_mass', m FROM mass
UNION ALL SELECT 'n_single_chars', nc FROM ch
UNION ALL SELECT 'vocab_le_target', 1
UNION ALL SELECT 'multi_are_substrings', 1
UNION ALL SELECT 'logp_nonpositive', 1
UNION ALL SELECT 'em_nonworse', 1
"""


@register("unigram_lm_vocab", _UNIGRAM_CERT_SQL)
def unigram_lm_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer TRAINING (Kudo 2018 — SentencePiece's
    unigram model), closing the tokenizer-training family next to
    BPE learn/encode: deterministic Viterbi hard-EM over the
    substring candidate vocabulary with milli-nat quantized scores
    (functions/tokenize.learn_unigram_vocab). Same scaling recipe as
    bpe_learned_merges: ONE corpus pass builds the Heaps-bounded
    word-type table, EM iterates over word TYPES only — the corpus
    is never rescanned. The EM itself is iterative and not
    SQL-expressible, so the certificate's exact cross-engine parts
    pin the machinery it is built from: the 60-bit md5 of the argmax
    seed candidate substring (freq desc, lexicographic tie-break —
    DuckDB re-enumerates every weighted substring occurrence
    relationally), the total multi-char seed mass, and the single-
    char alphabet size; booleans certify the run's invariants
    (vocab within target, every multi-char piece a corpus substring,
    quantized scores nonpositive, hard-EM objective nondecreasing).
    The full final vocab is pinned by the literal-Python EM twin in
    test_text_clean. At 100 TB the word-type table is ~1M rows (the
    BPE argument); seed enumeration is Σ|w|·L over TYPES."""
    import hashlib

    from .functions.tokenize import learn_unigram_vocab

    docs = load_table(spark, sf_dir, "documents", widen=True)
    res = learn_unigram_vocab(docs, "text", vocab_size=64)
    vocab, lls = res["vocab"], res["lls"]
    top_hash = int(hashlib.md5(res["seed_top"].encode()).hexdigest()[:15], 16)
    multi_ok = all(
        len(p) == 1 or any(p in w for w, _ in res["types"])
        for p in vocab
    )
    rows = [
        ("seed_top", top_hash),
        ("seed_mass", int(res["seed_mass"])),
        ("n_single_chars", int(res["n_singles"])),
        ("vocab_le_target", int(len(vocab) <= max(64, res["n_singles"]))),
        ("multi_are_substrings", int(bool(multi_ok))),
        ("logp_nonpositive", int(all(lp <= 0 for lp in vocab.values()))),
        ("em_nonworse", int(lls[-1] >= lls[0])),
    ]
    return spark.createDataFrame(rows, "chk string, val long")


def _ivfadc_oracle_sql() -> str:
    d2s = (
        "CAST(ROUND((ROUND(list_dot_product({a}, {a}), 6) "
        "+ ROUND(list_dot_product({b}, {b}), 6) "
        "- 2 * ROUND(list_dot_product({a}, {b}), 6)) * 1e6) AS BIGINT)"
    )
    return f"""
WITH e AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
cent AS (SELECT vid AS cell, v AS cv FROM e ORDER BY vid LIMIT {S.IVF_CENTROIDS}),
a AS (SELECT vid,
             -struct_extract(
                 max((ROUND(list_cosine_similarity(v, cv), 6), -cell)), 2)
             AS cell
      FROM e, cent GROUP BY vid),
r AS (SELECT a.vid, a.cell,
             list_transform(range(1, len(e.v) + 1),
                            i -> e.v[i] - cent.cv[i]) AS rv
      FROM a JOIN e ON a.vid = e.vid JOIN cent ON a.cell = cent.cell),
js AS (SELECT unnest(range(0, {S.PQ_M})) AS j),
cbase AS (SELECT vid, rv FROM r ORDER BY vid LIMIT {S.PQ_KSUB}),
cb AS (SELECT cbase.vid AS code, j, rv{_PQ_SLICE} AS cw
       FROM cbase, js),
sub AS (SELECT vid, cell, j, rv{_PQ_SLICE} AS sv FROM r, js),
enc AS (SELECT vid, cell, j,
               struct_extract(min(({d2s.format(a='sv', b='cw')}, code)), 2)
               AS code
        FROM sub JOIN cb USING (j) GROUP BY vid, cell, j),
q AS (SELECT v AS qv FROM e WHERE vid = {S.ANN_QUERY_ID}),
probe AS (SELECT cell, cv FROM cent, q
          ORDER BY ROUND(list_cosine_similarity(cv, qv), 6) DESC, cell
          LIMIT {S.IVFADC_PROBE}),
qr AS (SELECT cell,
              list_transform(range(1, len(qv) + 1),
                             i -> qv[i] - cv[i]) AS qres
       FROM probe, q),
qsub AS (SELECT cell, j, qres{_PQ_SLICE} AS sv FROM qr, js),
qd AS (SELECT cell, j, code, {d2s.format(a='sv', b='cw')} AS ds
       FROM qsub JOIN cb USING (j))
SELECT enc.vid AS vec_id, CAST(SUM(qd.ds) AS BIGINT) / 1e6 AS adc_dist
FROM enc JOIN qd USING (cell, j, code)
WHERE enc.vid <> {S.ANN_QUERY_ID}
GROUP BY enc.vid ORDER BY adc_dist, vec_id LIMIT {S.ANN_K}
"""


@register("similarity_ivfadc_topk", _ivfadc_oracle_sql())
def similarity_ivfadc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC (Jégou et al. 2011) — the production faiss index shape:
    coarse cells prune (4 of 16 probed), PQ over cell residuals
    compresses (8×16 codebook), ADC scores from a broadcast per-cell
    distance table. Deterministic Forgy coarse/PQ inits make the
    whole build + probe hash-oracled; see
    operators/similarity.ivfadc_topk for the 100 TB shape."""
    emb = load_table(spark, sf_dir, "embeddings", widen=True)
    return S.ivfadc_topk(emb, "embedding", "vec_id")


_IVF_CERT_SQL = """
SELECT 'n_corpus' AS chk, CAST(count(*) AS BIGINT) AS val
FROM embeddings WHERE vec_id <> 0
UNION ALL SELECT 'k_rows', 10
UNION ALL SELECT 'ids_distinct_and_valid', 1
UNION ALL SELECT 'scores_exact_cosine', 1
UNION ALL SELECT 'brute_dominates_rankwise', 1
UNION ALL SELECT 'recall_ge_one', 1
"""


@register("similarity_ivf_topk", _IVF_CERT_SQL)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-partitioned ANN (KMeans cells, probe nearest 3 of 16) —
    the second scale path beside rp-LSH — as a deterministic-bound
    certificate (the ``lda_topics`` pattern): MLlib KMeans centroids
    are library-numeric, so the returned id SET can't hash across
    engines, but everything around it can be audited. The oracle
    hash-checks the exact corpus size; booleans certify the probe
    returned exactly k distinct valid corpus ids, every returned
    score equals the exact ROUND-6 cosine recomputed from the raw
    embeddings (the scoring path is honest), the brute-force scores
    dominate rank-wise (a subset probe can never beat the full
    scan), and recall vs the brute-force top-k (itself hash-oracled
    as ``ann_topk_cosine``) is ≥ 1. The recall bound is the honest
    one for THIS corpus: the synthetic embeddings are near-uniform
    on the sphere (IVF's worst case — the true top-10 spreads across
    many cells; measured 1-3/10 at 3/16 probes across the SFs),
    while on clustered data the same operator achieves the pytest
    bound of ≥ 1/2 (test_ivf_topk_recall's planted clusters). The raw (vec_id, cosine) relation stays
    available via operators/similarity.ivf_topk; the deterministic
    twin ``similarity_ivf_fixed_topk`` pins the probe/score
    machinery end-to-end by hash."""
    from .operators.similarity import cosine, cosine_topk, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings", widen=True)
    query = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    qarr = [float(x) for x in query]
    corpus = emb.filter(F.col("vec_id") != 0)
    ivf = ivf_topk(corpus, "embedding", "vec_id", qarr)
    brute = cosine_topk(corpus, "embedding", "vec_id", qarr, k=10)

    q = F.lit(qarr).cast("array<double>")
    exact = corpus.select(
        "vec_id",
        F.round(cosine(F.col("embedding").cast("array<double>"), q), 6).alias(
            "__exact"
        ),
    )
    rk_ivf = F.row_number().over(
        Window.orderBy(F.desc("cosine"), F.col("vec_id"))
    )
    checked = (
        ivf.withColumn("__rk", rk_ivf)
        .join(exact, "vec_id", "left")
        .join(
            brute.select(F.col("vec_id"), F.lit(1).alias("__hit")),
            "vec_id",
            "left",
        )
        .join(
            brute.select(
                F.row_number()
                .over(Window.orderBy(F.desc("cosine"), F.col("vec_id")))
                .alias("__rk"),
                F.col("cosine").alias("__brute_c"),
            ),
            "__rk",
            "left",
        )
    )
    agg = checked.agg(
        F.count("*").alias("k_rows"),
        F.count_distinct("vec_id").alias("n_ids"),
        F.min(
            F.when(F.col("__exact").isNotNull() & (F.col("vec_id") != 0), 1)
            .otherwise(0)
        ).alias("valid_ok"),
        F.min(
            F.when(F.col("cosine") == F.col("__exact"), 1).otherwise(0)
        ).alias("score_ok"),
        # rank-wise domination: probing a subset of cells can never
        # BEAT the full scan, so the i-th best IVF score must be ≤
        # the i-th best brute score
        F.min(
            F.when(F.col("cosine") <= F.col("__brute_c"), 1).otherwise(0)
        ).alias("dom_ok"),
        F.sum(F.coalesce("__hit", F.lit(0))).alias("n_recall"),
    )
    n_corpus = corpus.agg(F.count("*").cast("long").alias("v"))
    cert = agg.selectExpr(
        "CAST(k_rows AS BIGINT) AS k_rows",
        "CAST(n_ids = k_rows AND valid_ok = 1 AS BIGINT) AS ids_ok",
        "CAST(score_ok AS BIGINT) AS score_ok",
        "CAST(dom_ok AS BIGINT) AS dom_ok",
        "CAST(n_recall >= 1 AS BIGINT) AS recall_ok",
    ).selectExpr(
        "stack(5, "
        "'k_rows', k_rows, "
        "'ids_distinct_and_valid', ids_ok, "
        "'scores_exact_cosine', score_ok, "
        "'brute_dominates_rankwise', dom_ok, "
        "'recall_ge_one', recall_ok"
        ") AS (chk, val)"
    )
    return n_corpus.selectExpr("'n_corpus' AS chk", "v AS val").unionByName(
        cert
    )


_SEMDEDUP_SQL = """
WITH cent AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings ORDER BY vec_id LIMIT 16),
e AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS ev
      FROM embeddings),
a AS (SELECT vid,
             -struct_extract(
                 max((ROUND(list_cosine_similarity(ev, cv), 6), -cell)), 2)
             AS cell
      FROM e, cent GROUP BY vid),
c AS (SELECT a.vid, a.cell, e.ev FROM a JOIN e ON a.vid = e.vid),
d AS (SELECT DISTINCT y.vid
      FROM c x JOIN c y ON x.cell = y.cell AND x.vid < y.vid
      WHERE ROUND(list_cosine_similarity(x.ev, y.ev), 6) >= 0.4)
SELECT c.vid AS vec_id, c.cell,
       (c.vid IN (SELECT vid FROM d)) AS is_dup
FROM c
"""


@register("semdedup_embeddings", _SEMDEDUP_SQL)
def semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) semantic dedup: deterministic-
    centroid cells (ivf_fixed_topk's Forgy init, argmax ROUND-6
    cosine) + within-cell keep-first cosine dedup at 0.4 — one row
    per vector with its cell and dup flag. Hash-oracled end to end;
    the production path swaps KMeans centroids in and enables the
    max_cell hyperplane re-split (operators/similarity.semdedup)."""
    emb = load_table(spark, sf_dir, "embeddings", widen=True)
    return S.semdedup(
        emb, "embedding", "vec_id",
        n_centroids=16, threshold=0.4, max_cell=None,
    )


# The one corpus and model the three LDA certificates share: clean
# tokens of every document with a nonempty token chain, fit at k=4.
_LDA_K, _LDA_ITERS, _LDA_MIN_DF, _LDA_SEED = 4, 10, 2.0, 42


def _lda_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tokens) for every document with a nonempty clean-token
    chain, read through the predicate-bound barrier scan."""
    from .functions.text_clean import clean_tokens

    docs = load_table(spark, sf_dir, "documents", widen="barrier")
    return docs.select(
        "doc_id", clean_tokens(F.col("text")).alias("tokens")
    ).filter(F.size("tokens") > 0)


def _lda_topic_terms(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Fit the shared LDA model and return ``(toks, terms)``: the
    cached corpus and each topic's 10 top terms (topic, term, rank),
    the input both coherence certificates score."""
    from .operators.coherence import topics_terms_from_model
    from .operators.topics import fit_lda, vectorize

    toks = _lda_corpus(spark, sf_dir)
    cv, vectors = vectorize(toks, min_df=_LDA_MIN_DF)
    model = fit_lda(vectors, k=_LDA_K, max_iter=_LDA_ITERS, seed=_LDA_SEED)
    return toks, topics_terms_from_model(model, cv.vocabulary, num_words=10)


_LDA_CERT_SQL = f"""
WITH toks AS (SELECT {_sql_tokens_expr('text')} AS t FROM documents)
SELECT 'n_docs_scored' AS chk, CAST(count(*) AS BIGINT) AS val
FROM toks WHERE len(t) > 0
UNION ALL SELECT 'one_row_per_doc', 1
UNION ALL SELECT 'topics_in_range', 1
UNION ALL SELECT 'weights_in_unit_interval', 1
UNION ALL SELECT 'weight_ge_uniform', 1
UNION ALL SELECT 'keywords_have_10_terms', 1
"""


@register("lda_topics", _LDA_CERT_SQL)
def lda_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1/M4/M5/W3: CountVectorizer -> LDA(k=4, seed=42) -> dominant
    topic + weight + keywords per document, folded to a
    deterministic-bound certificate (the ``approx_distinct_users``
    oracle pattern): θ values are library-numeric (SURVEY §7.4.2), so
    the oracle hash-checks the exact cross-engine part (scored-doc
    count = docs with a nonempty clean-token chain, recomputed by
    DuckDB from the corpus) plus invariants the fit must satisfy
    (one row per doc, dominant topic ∈ [0,k), weight ∈ (0,1] and
    ≥ 1/k since it's the argmax of a k-simplex row, 10 keywords per
    topic). The per-doc relation itself stays available via
    operators/topics.lda_pipeline; pytest covers planted-cluster
    recovery and seed stability."""
    from .operators.topics import lda_pipeline

    out = lda_pipeline(
        _lda_corpus(spark, sf_dir), id_col="doc_id", tokens_col="tokens",
        k=_LDA_K, max_iter=_LDA_ITERS, min_df=_LDA_MIN_DF, seed=_LDA_SEED,
    )
    agg = out.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count_distinct("doc_id").cast("long").alias("n_ids"),
        F.min(
            F.when(
                (F.col("dominant_topic") >= 0) & (F.col("dominant_topic") < 4), 1
            ).otherwise(0)
        ).alias("t_ok"),
        F.min(
            F.when((F.col("weight") > 0) & (F.col("weight") <= 1), 1).otherwise(0)
        ).alias("w_ok"),
        F.min(F.when(F.col("weight") >= 0.2499, 1).otherwise(0)).alias("w_unif"),
        F.min(
            F.when(F.size(F.split("keywords", ", ")) == 10, 1).otherwise(0)
        ).alias("kw_ok"),
    )
    return agg.selectExpr(
        "stack(6, "
        "'n_docs_scored', n_rows, "
        "'one_row_per_doc', CAST(n_ids = n_rows AS BIGINT), "
        "'topics_in_range', CAST(t_ok AS BIGINT), "
        "'weights_in_unit_interval', CAST(w_ok AS BIGINT), "
        "'weight_ge_uniform', CAST(w_unif AS BIGINT), "
        "'keywords_have_10_terms', CAST(kw_ok AS BIGINT)"
        ") AS (chk, val)"
    )


_UMASS_CERT_SQL = f"""
WITH toks AS (SELECT {_sql_tokens_expr('text')} AS t FROM documents),
tp AS (SELECT CAST(unnest(range(0, 4)) AS BIGINT) AS topic)
SELECT 'n_docs' AS chk, CAST(-1 AS BIGINT) AS topic,
       CAST(count(*) AS BIGINT) AS val FROM toks WHERE len(t) > 0
UNION ALL SELECT 'n_terms', topic, 10 FROM tp
UNION ALL SELECT 'n_pairs', topic, 45 FROM tp
UNION ALL SELECT 'df_ge_min_df', topic, 1 FROM tp
UNION ALL SELECT 'co_le_marginal', topic, 1 FROM tp
UNION ALL SELECT 'coherence_lower_ok', topic, 1 FROM tp
UNION ALL SELECT 'coherence_upper_ok', topic, 1 FROM tp
"""


@register("m3_coherence_umass", _UMASS_CERT_SQL)
def m3_coherence_umass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3: UMass topic coherence (the documented c_v swap, SURVEY
    §7.4.3) over an LDA fit, as a deterministic-bound certificate:
    the topic terms are library-numeric so the coherence VALUE can't
    hash across engines, but its count machinery is relational —
    the oracle pins the exact corpus doc count plus per-topic
    invariants (45 ordered pairs over 10 terms, every model term's
    doc-freq ≥ minDF, D(wi,wj) ≤ min marginal, coherence ∈
    [-ln n_docs, ln 1.5]). See operators/coherence.umass_certificate;
    the raw (topic, coherence, n_pairs) relation stays available via
    umass_coherence + a 1e-9 literal-Python pytest oracle."""
    from .operators.coherence import umass_certificate

    toks, terms = _lda_topic_terms(spark, sf_dir)
    return umass_certificate(toks, terms)


_CV_CERT_SQL = f"""
WITH toks AS (SELECT {_sql_tokens_expr('text')} AS t FROM documents),
tp AS (SELECT CAST(unnest(range(0, {_LDA_K})) AS BIGINT) AS topic)
SELECT 'n_windows' AS chk, CAST(-1 AS BIGINT) AS topic,
       CAST(SUM(GREATEST(1, len(t) - {CV_WINDOW - 1})) AS BIGINT) AS val
FROM toks WHERE len(t) > 0
UNION ALL SELECT 'n_terms', topic, 10 FROM tp
UNION ALL SELECT 'n_ctx_rows', topic, 100 FROM tp
UNION ALL SELECT 'co_le_marginal', topic, 1 FROM tp
UNION ALL SELECT 'marginal_le_total', topic, 1 FROM tp
UNION ALL SELECT 'npmi_in_range', topic, 1 FROM tp
UNION ALL SELECT 'cos_in_range', topic, 1 FROM tp
UNION ALL SELECT 'coherence_in_range', topic, 1 FROM tp
"""


@register("m3_coherence_cv", _CV_CERT_SQL)
def m3_coherence_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 faithful form: c_v coherence (sliding-window NPMI +
    one-set indirect cosine, Röder et al. 2015) — the exact measure
    the reference selects LDA models with
    (topic_modelling.ipynb:366-372 cell 8), folded to a
    deterministic-bound certificate (the ``umass_certificate``
    pattern): the oracle hash-checks the exact cross-engine part —
    the total virtual sliding-window count Σ max(len−109, 1),
    recomputed by DuckDB from the token chain, which pins BOTH the
    tokenization and the window arithmetic — plus invariants of the
    count machinery the metric consumed (100 context-matrix rows per
    topic, co-window-count ≤ min marginal ≤ total windows, NPMI and
    indirect cosine in range). Relational plan: window coverage as
    merged interval lists per (doc, term), so the 110× boolean-window
    expansion is never materialized (operators/coherence.py::
    cv_certificate); the raw (topic, coherence, n_terms) relation
    stays available via cv_coherence + its 1e-9 literal-Python
    pytest oracle."""
    from .operators.coherence import cv_certificate

    toks, terms = _lda_topic_terms(spark, sf_dir)
    return cv_certificate(toks, terms)


@register(
    "multimodal_image_meta",
    # payloads are the raw UTF-8 text bytes (no container magic), so
    # the extractor's deterministic fallback fires: fake dims keyed to
    # md5(payload) — recomputable in SQL, making the whole Arrow
    # binary-column round trip hash-checkable (the sha1 content-id
    # column is checked in tests/test_multimodal.py; DuckDB lacks sha1)
    "WITH h AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes, "
    "CAST(('0x' || substr(md5(text), 1, 8)) AS UBIGINT) AS hv FROM documents) "
    "SELECT doc_id, 'image/png' AS media_type, n_bytes, "
    "CAST(hv % 1920 + 1 AS INT) AS width, "
    "CAST((hv // 1920) % 1080 + 1 AS INT) AS height, "
    "'unknown' AS format FROM h",
)
def multimodal_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload column -> Arrow-batched
    mapInPandas metadata extraction (header parsing real, codec
    stubbed — see operators/multimodal.py)."""
    from .operators.multimodal import attach_binary_payload, image_meta

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return image_meta(attach_binary_payload(docs, "text", "doc_id")).select(
        "doc_id", "media_type", "n_bytes", "width", "height", "format"
    )


@register(
    "multimodal_audio_meta",
    # the WAV payloads are synthesized with rate/width derived from
    # doc_id and the text bytes as the data chunk, so the chunk-walk
    # parse is verifiable against ground truth: n_bytes = 44-byte
    # header + body, n_frames = body_bytes // block_align(2),
    # duration = frames*1000 // rate (integer math in both engines)
    "WITH b AS (SELECT doc_id, octet_length(encode(text)) AS body, "
    "CAST(doc_id % 3 * 8000 + 8000 AS INT) AS rate FROM documents) "
    "SELECT doc_id, 'audio/wav' AS media_type, 44 + body AS n_bytes, "
    "rate AS sample_rate, 1 AS channels, 16 AS bits_per_sample, "
    "CAST(body // 2 AS BIGINT) AS n_frames, "
    "CAST((body // 2) * 1000 // rate AS BIGINT) AS duration_ms, "
    "'wav' AS format FROM b",
)
def multimodal_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio plumbing: RIFF/WAVE payload column ->
    Arrow-batched mapInPandas metadata extraction (chunk-walk header
    parse real — rate/channels/bit depth/duration; non-WAV codecs
    stubbed — see operators/multimodal.py). Oracle = the synthesis
    parameters recomputed (parse must recover exactly what the WAV
    writer embedded); the sha1 content id is checked in
    tests/test_multimodal.py."""
    from .operators.multimodal import attach_audio_payload, audio_meta

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return audio_meta(attach_audio_payload(docs, "text", "doc_id")).select(
        "doc_id", "media_type", "n_bytes", "sample_rate", "channels",
        "bits_per_sample", "n_frames", "duration_ms", "format"
    )


@register(
    "multimodal_video_meta",
    # the AVI payloads are synthesized with timing/dimensions derived
    # from doc_id and the text bytes as the movi body, so the RIFF
    # chunk-walk demux is verifiable against ground truth: n_bytes =
    # 100-byte container + body (+1 word-align pad when odd),
    # duration = frames * us_per_frame // 1000 (integer math in both
    # engines); the sha1 content id is checked in
    # tests/test_multimodal.py
    "WITH b AS (SELECT doc_id, octet_length(encode(text)) AS body, "
    "CAST(doc_id % 3 * 8334 + 33333 AS INT) AS upf, "
    "CAST(doc_id % 3 * 160 + 320 AS INT) AS w FROM documents) "
    "SELECT doc_id, 'video/avi' AS media_type, "
    "CAST(100 + body + body % 2 AS INT) AS n_bytes, "
    "w AS width, CAST(w * 3 // 4 AS INT) AS height, "
    "upf AS us_per_frame, "
    "CAST(body % 240 + 24 AS BIGINT) AS n_frames, "
    "CAST((body % 240 + 24) * upf // 1000 AS BIGINT) AS duration_ms, "
    "'avi' AS format FROM b",
)
def multimodal_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal video plumbing: RIFF/AVI payload column ->
    Arrow-batched mapInPandas metadata extraction (chunk-walk avih
    demux real — dimensions/frame timing/duration; non-AVI codecs
    stubbed — see operators/multimodal.py). Oracle = the synthesis
    parameters recomputed (demux must recover exactly what the AVI
    writer embedded)."""
    from .operators.multimodal import attach_video_payload, video_meta

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return video_meta(attach_video_payload(docs, "text", "doc_id")).select(
        "doc_id", "media_type", "n_bytes", "width", "height",
        "us_per_frame", "n_frames", "duration_ms", "format"
    )


@register(
    "multimodal_video_frames",
    # the demux-driven 1->N fan-out is the Spark-side logic under
    # test: every 10th frame index (multimodal.FRAME_STEP) of the avih
    # TotalFrames count. The stub per-frame hash (sha1 over
    # payload+idx — a codec slot) is checked in
    # tests/test_multimodal.py; DuckDB lacks sha1
    "WITH b AS (SELECT doc_id, "
    "octet_length(encode(text)) % 240 + 24 AS nf FROM documents) "
    "SELECT doc_id, CAST(unnest(range(0, nf, 10)) AS INT) AS frame_idx "
    "FROM b",
)
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: AVI container demux drives a 1->N row
    fan-out (every 10th frame index), per-frame decode stubbed as a
    deterministic content hash. The fan-out (doc_id, frame_idx) is
    hash-oracled against the synthesis ground truth; frame_sha1 is
    checked in tests/test_multimodal.py."""
    from .operators.multimodal import attach_video_payload, video_frame_samples

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return video_frame_samples(
        attach_video_payload(docs, "text", "doc_id")
    ).select("doc_id", "frame_idx")


# REAL pixel decode (round 7): payloads are genuine zlib-deflated PNGs
# (CRC'd chunks, row filters cycling all five types) whose gradient
# pixels follow a closed form. Spark recovers the stats by actually
# inflating + unfiltering (operators/codecs.py); DuckDB recomputes
# them from the formula — a hash match certifies the decoder end to
# end. Shared by the batch query and its streaming twin.
_PNG_GRADIENT_SQL = (
    "WITH dims AS (SELECT doc_id, doc_id % 5 * 8 + 16 AS w, "
    "doc_id % 7 * 4 + 12 AS h FROM documents), "
    "rws AS (SELECT doc_id, w, h, unnest(range(0, h)) AS r FROM dims), "
    "cells AS (SELECT doc_id, w, h, r, unnest(range(0, w)) AS c FROM rws) "
    "SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height, "
    "1 AS channels, "
    "CAST(SUM((doc_id*31 + r*7 + c*13) % 256) AS BIGINT) AS px_sum, "
    "CAST(MIN((doc_id*31 + r*7 + c*13) % 256) AS INT) AS px_min, "
    "CAST(MAX((doc_id*31 + r*7 + c*13) % 256) AS INT) AS px_max "
    "FROM cells GROUP BY doc_id, w, h"
)


@register("multimodal_image_decode", _PNG_GRADIENT_SQL)
def multimodal_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG pixel decode at scale: synthesize a genuine PNG per
    document (zlib IDAT, all five filter types), then decode it back
    in an Arrow-batched mapInPandas stage — CRC walk, inflate,
    scanline unfilter (codecs.decode_png) — and emit pixel stats.
    The oracle recomputes the gradient closed-form, so the hash match
    proves the decode path, not the synthesizer. No shuffle: synth
    and decode are both narrow map stages."""
    from .operators.multimodal import (
        attach_gradient_image_payload,
        decode_image_pixels,
    )

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return decode_image_pixels(attach_gradient_image_payload(docs, "doc_id"))


@register(
    "multimodal_image_resize",
    # REAL decode + nearest-neighbor resize to 8x6: out[r, c] =
    # in[r*h//6, c*w//8] — the floor-index mapping is recomputable in
    # closed form, so the oracle checks the resample arithmetic too
    "WITH dims AS (SELECT doc_id, doc_id % 5 * 8 + 16 AS w, "
    "doc_id % 7 * 4 + 12 AS h FROM documents), "
    "rws AS (SELECT doc_id, w, h, unnest(range(0, 6)) AS r FROM dims), "
    "cells AS (SELECT doc_id, w, h, r, unnest(range(0, 8)) AS c FROM rws) "
    "SELECT doc_id, 8 AS width, 6 AS height, 1 AS channels, "
    "CAST(SUM((doc_id*31 + (r*h//6)*7 + (c*w//8)*13) % 256) AS BIGINT) "
    "AS px_sum, "
    "CAST(MIN((doc_id*31 + (r*h//6)*7 + (c*w//8)*13) % 256) AS INT) "
    "AS px_min, "
    "CAST(MAX((doc_id*31 + (r*h//6)*7 + (c*w//8)*13) % 256) AS INT) "
    "AS px_max "
    "FROM cells GROUP BY doc_id, w, h",
)
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize: decode the genuine PNG payload, resample
    with integer nearest-neighbor (codecs.nearest_resize), emit the
    resized pixel stats. Same no-shuffle mapInPandas contract as the
    decode query; a real interpolating resizer (PIL/libvips) swaps in
    at the same slot without plan changes."""
    from .operators.multimodal import (
        attach_gradient_image_payload,
        decode_image_pixels,
    )

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return decode_image_pixels(
        attach_gradient_image_payload(docs, "doc_id"), out_w=8, out_h=6
    )


@register(
    "multimodal_gif_decode",
    # REAL GIF LZW decode (round 7): payloads are genuine GIF89a
    # containers (variable-width LZW, grayscale palette, interlaced
    # for odd ids) carrying the same closed-form gradient as the PNG
    # twin; palette expansion makes channels=3 with all three equal,
    # so px_sum is exactly 3x the gray sum
    "WITH dims AS (SELECT doc_id, doc_id % 5 * 8 + 16 AS w, "
    "doc_id % 7 * 4 + 12 AS h FROM documents), "
    "rws AS (SELECT doc_id, w, h, unnest(range(0, h)) AS r FROM dims), "
    "cells AS (SELECT doc_id, w, h, r, unnest(range(0, w)) AS c FROM rws) "
    "SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height, "
    "3 AS channels, "
    "CAST(3 * SUM((doc_id*31 + r*7 + c*13) % 256) AS BIGINT) AS px_sum, "
    "CAST(MIN((doc_id*31 + r*7 + c*13) % 256) AS INT) AS px_min, "
    "CAST(MAX((doc_id*31 + r*7 + c*13) % 256) AS INT) AS px_max "
    "FROM cells GROUP BY doc_id, w, h",
)
def multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF pixel decode at scale: synthesize a genuine GIF89a
    per document (LZW-compressed index stream, interlaced for odd
    ids), decode it back in the same Arrow-batched mapInPandas stage
    as the PNG path (codecs.decode_gif: sub-block reassembly,
    variable-width LZW, de-interlace, palette expansion) and emit
    pixel stats against the closed-form oracle."""
    from .operators.multimodal import (
        attach_gradient_gif_payload,
        decode_image_pixels,
    )

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return decode_image_pixels(attach_gradient_gif_payload(docs, "doc_id"))


def _jpeg_certificate(
    payloads: DataFrame, offsets: list[Column], tol: int
) -> DataFrame:
    """Decode gradient JPEG payloads (one plane per offset column,
    plane[r, c] = offset + r + c on the gradient grid) and certify the
    stats per doc within the lossy tolerance ``tol`` per pixel per
    channel: |px_sum - exact| <= tol * planes * w * h, px_min within
    tol of least(offsets), px_max within tol of greatest(offsets) +
    h-1 + w-1. Columns: exact dims, sum_ok long, min_ok/max_ok int."""
    from .operators.multimodal import decode_image_pixels

    n = len(offsets)
    w = F.col("width").cast("long")
    h = F.col("height").cast("long")
    grad = (
        w * (h * (h - 1) / 2).cast("long")
        + h * (w * (w - 1) / 2).cast("long")
    )
    exact_sum = w * h * sum(offsets[1:], offsets[0]) + n * grad
    lo = F.least(*offsets) if n > 1 else offsets[0]
    hi = F.greatest(*offsets) if n > 1 else offsets[0]
    return decode_image_pixels(payloads).select(
        "doc_id", "width", "height", "channels",
        (F.abs(F.col("px_sum") - exact_sum) <= tol * n * w * h)
        .cast("long").alias("sum_ok"),
        (F.abs(F.col("px_min") - lo) <= tol).cast("int").alias("min_ok"),
        (F.abs(F.col("px_max") - (hi + h - 1 + w - 1)) <= tol)
        .cast("int").alias("max_ok"),
    )


# REAL gray JPEG decode (round 7): payloads are genuine DCT/Huffman
# JPEGs carrying a smooth closed-form plane. JPEG is lossy, so this is
# a certificate in per-doc rows: dimensions are exact (the marker walk
# must recover the SOF), and booleans bound the decoded stats against
# the plane (|px_sum - exact| <= 2*w*h from a <=2/pixel reconstruction
# error at quality 95; min/max within 2). DuckDB recomputes the closed
# forms; a hash match certifies the Huffman+IDCT pipeline lands within
# tolerance on EVERY document. Shared by the baseline and the
# successive-approximation query: the refinement scans restore full
# coefficient precision, so the bound is identical.
_JPEG_GRAY_SQL = (
    "WITH dims AS (SELECT doc_id, doc_id % 5 * 8 + 16 AS w, "
    "doc_id % 7 * 4 + 12 AS h FROM documents) "
    "SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height, "
    "1 AS channels, CAST(1 AS BIGINT) AS sum_ok, 1 AS min_ok, 1 AS max_ok "
    "FROM dims"
)


@register("multimodal_jpeg_decode", _JPEG_GRAY_SQL)
def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG decode at scale: synthesize a genuine JPEG
    per document (DCT, Annex-K quantization, Huffman), decode it back
    in the shared mapInPandas pixel stage (codecs.decode_jpeg: marker
    walk, canonical Huffman reconstruction, entropy decode with
    unstuffing, dequant, IDCT) and certify the decoded stats against
    the closed-form plane within the lossy-codec tolerance."""
    from .operators.multimodal import attach_gradient_jpeg_payload

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return _jpeg_certificate(
        attach_gradient_jpeg_payload(docs, "doc_id"),
        [F.col("doc_id") % 128], 2,
    )


@register("multimodal_jpeg_sa_decode", _JPEG_GRAY_SQL)
def multimodal_jpeg_sa_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL successive-approximation JPEG decode at scale: per
    document a genuine T.81 G.1.2 progressive JPEG (DC first scan at
    Al=1, raw-bit DC refinement, per-component AC spectral scan at
    Al=1 and AC refinement scan with newly-significant RS codes,
    sign bits, buffered correction bits and EOB runs) decoded in the
    shared Arrow-batched mapInPandas pixel stage and certified
    against the closed-form plane within the lossy tolerance — the
    default output mode of real progressive encoders (libjpeg's
    standard scan script)."""
    from .operators.multimodal import attach_gradient_jpeg_payload

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return _jpeg_certificate(
        attach_gradient_jpeg_payload(docs, "doc_id", successive=True),
        [F.col("doc_id") % 128], 2,
    )


@register(
    "multimodal_jpeg_color_decode",
    # REAL color JPEG decode (round 7): genuine 4:2:0 YCbCr baseline
    # JPEGs carrying three smooth closed-form planes; certificate in
    # per-doc rows — exact dims + booleans bounding the decoded
    # aggregate stats (per-pixel-per-channel error <= 6 at quality 95
    # incl. chroma subsample loss, so |px_sum - exact| <= 18*w*h and
    # min/max within 6)
    "WITH dims AS (SELECT doc_id, doc_id % 5 * 8 + 16 AS w, "
    "doc_id % 7 * 4 + 12 AS h FROM documents) "
    "SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height, "
    "3 AS channels, CAST(1 AS BIGINT) AS sum_ok, 1 AS min_ok, 1 AS max_ok "
    "FROM dims",
)
def multimodal_jpeg_color_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL color JPEG decode at scale: synthesize a genuine 4:2:0
    YCbCr baseline JPEG per document, decode it back through the full
    color path (codecs.decode_jpeg: interleaved MCU entropy decode,
    per-component dequant+IDCT, chroma upsampling, YCbCr->RGB) and
    certify the decoded stats against the closed-form planes within
    the lossy tolerance."""
    from .operators.multimodal import attach_gradient_color_jpeg_payload

    docs = load_table(spark, sf_dir, "documents", widen=True)
    d = F.col("doc_id")
    return _jpeg_certificate(
        attach_gradient_color_jpeg_payload(docs, "doc_id"),
        [d % 80 + 20, d % 90 + 30, d % 70 + 40], 6,
    )


@register(
    "multimodal_video_frame_decode",
    # REAL uncompressed-video frame decode (round 7): payloads are
    # genuine RIFF/AVI containers with '00db' DIB frames (bottom-up
    # padded BGR — the decoder must undo the real Windows layout);
    # gray pixels follow a closed form the oracle recomputes over a
    # (frame, row, col) grid; B=G=R so px_sum is 3x the gray sum
    "WITH dims AS (SELECT doc_id, doc_id % 3 * 8 + 8 AS w, "
    "doc_id % 2 * 4 + 8 AS h, doc_id % 6 + 2 AS n FROM documents), "
    "fr AS (SELECT doc_id, w, h, unnest(range(0, n)) AS f FROM dims), "
    "rws AS (SELECT doc_id, w, h, f, unnest(range(0, h)) AS r FROM fr), "
    "cells AS (SELECT doc_id, w, h, f, r, unnest(range(0, w)) AS c "
    "FROM rws) "
    "SELECT doc_id, CAST(f AS INT) AS frame_idx, CAST(w AS INT) AS width, "
    "CAST(h AS INT) AS height, "
    "CAST(3 * SUM((doc_id + f*5 + r*7 + c*11) % 256) AS BIGINT) AS px_sum, "
    "CAST(MIN((doc_id + f*5 + r*7 + c*11) % 256) AS INT) AS px_min, "
    "CAST(MAX((doc_id + f*5 + r*7 + c*11) % 256) AS INT) AS px_max "
    "FROM cells GROUP BY doc_id, f, w, h",
)
def multimodal_video_frame_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame decode at scale: synthesize a genuine AVI
    with uncompressed DIB frames per document, demux + decode every
    frame back in an Arrow-batched mapInPandas stage (1->N fan-out;
    codecs.avi_dib_frames) and hash-certify per-frame pixel stats
    against the closed-form oracle. Compressed streams ('00dc')
    remain the declared video-codec slot."""
    from .operators.multimodal import (
        attach_dib_video_payload,
        decode_video_frame_pixels,
    )

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return decode_video_frame_pixels(attach_dib_video_payload(docs, "doc_id"))


# the codec decode stage riding Structured Streaming: stateless 1:1
# mapInPandas per micro-batch, so the AvailableNow drain is
# deterministic regardless of batch splits and the BATCH decode
# query's closed-form oracle applies unchanged
@register("streaming_image_decode", _PNG_GRADIENT_SQL)
def streaming_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec decode inside Structured Streaming (SURVEY 2.10 x
    multimodal): the PNG inflate+unfilter stage runs per micro-batch
    over a document stream and drains with AvailableNow; hash-matches
    the same closed-form oracle as the batch twin because the stage
    is stateless and 1:1 (streaming/ingest.streaming_decode_batch)."""
    from .streaming.ingest import streaming_decode_batch

    return streaming_decode_batch(spark, sf_dir)


@register(
    "multimodal_g711_decode",
    # REAL G.711 companding decode (round 7): payloads are genuine
    # WAV fmt-7 (mu-law, even ids) / fmt-6 (A-law, odd ids)
    # containers whose code bytes follow a closed form; the oracle
    # mirrors the ITU expansion formulas RELATIONALLY, so the hash
    # match certifies the companding math itself
    "WITH f AS (SELECT doc_id, doc_id % 400 + 100 AS n FROM documents), "
    "cd AS (SELECT doc_id, n, (doc_id + unnest(range(0, n))) % 256 AS b "
    "FROM f), "
    "ex AS (SELECT doc_id, n, CASE WHEN doc_id % 2 = 0 THEN "
    "(CASE WHEN (255 - b) >= 128 THEN -1 ELSE 1 END) * "
    "((((255 - b) % 16) * 8 + 132) * (1 << (((255 - b) // 16) % 8)) - 132) "
    "ELSE "
    "(CASE WHEN xor(b, 85) >= 128 THEN 1 ELSE -1 END) * "
    "(CASE WHEN (xor(b, 85) // 16) % 8 = 0 "
    "THEN (xor(b, 85) % 16) * 16 + 8 "
    "WHEN (xor(b, 85) // 16) % 8 = 1 "
    "THEN (xor(b, 85) % 16) * 16 + 264 "
    "ELSE ((xor(b, 85) % 16) * 16 + 264) * "
    "(1 << ((xor(b, 85) // 16) % 8 - 1)) END) "
    "END AS s FROM cd) "
    "SELECT doc_id, CAST(n AS BIGINT) AS n_frames, 1 AS channels, "
    "8000 AS sample_rate, CAST(SUM(s) AS BIGINT) AS sample_sum, "
    "CAST(MIN(s) AS INT) AS sample_min, CAST(MAX(s) AS INT) AS sample_max "
    "FROM ex GROUP BY doc_id, n",
)
def multimodal_g711_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL G.711 audio decode at scale: synthesize genuine mu-law /
    A-law WAV containers with closed-form code bytes, decode the
    samples back through the vectorized ITU expansion
    (codecs.ulaw_decode / alaw_decode via the shared mapInPandas
    stage) and hash-certify the companding arithmetic against the
    oracle's relational mirror of the same formulas."""
    from .operators.multimodal import (
        attach_g711_code_payload,
        decode_audio_samples,
    )

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return decode_audio_samples(attach_g711_code_payload(docs, "doc_id"))


@register(
    "multimodal_audio_decode",
    # REAL PCM sample decode (round 7): payloads are genuine
    # RIFF/WAVE PCM-16 containers carrying a closed-form mono series;
    # Spark recovers the stats by actually extracting the samples
    # (codecs.decode_wav_samples), DuckDB recomputes the formula
    "WITH f AS (SELECT doc_id, doc_id % 300 + 50 AS nf FROM documents), "
    "s AS (SELECT doc_id, nf, unnest(range(0, nf)) AS i FROM f) "
    "SELECT doc_id, CAST(nf AS BIGINT) AS n_frames, 1 AS channels, "
    "16000 AS sample_rate, "
    "CAST(SUM((doc_id*31 + i*7) % 65536 - 32768) AS BIGINT) AS sample_sum, "
    "CAST(MIN((doc_id*31 + i*7) % 65536 - 32768) AS INT) AS sample_min, "
    "CAST(MAX((doc_id*31 + i*7) % 65536 - 32768) AS INT) AS sample_max "
    "FROM s GROUP BY doc_id, nf",
)
def multimodal_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV PCM sample decode: synthesize a genuine PCM-16
    container per document, decode the samples back in an
    Arrow-batched mapInPandas stage (RIFF walk + int16 extraction),
    emit per-document sample stats. Hash match vs the closed-form
    oracle certifies the sample decoder."""
    from .operators.multimodal import (
        attach_pcm_audio_payload,
        decode_audio_samples,
    )

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return decode_audio_samples(attach_pcm_audio_payload(docs, "doc_id"))


@register(
    "s4_html_extract",
    # the article pages are synthesized from (doc_id, source, text),
    # so the GROUND-TRUTH extraction output is computable directly —
    # an end-to-end check that the stdlib HTML parser + paragraph
    # join + menu derivation recover exactly what was embedded
    "WITH t AS (SELECT doc_id, source, text, "
    "string_split(source || '-' || CAST(doc_id AS VARCHAR), '-') AS toks "
    "FROM documents) "
    "SELECT 'https://www.bbc.com/news/' || source || '-' || "
    "CAST(doc_id AS VARCHAR) AS url, "
    "'2022-08-01T00:00:00Z' AS date, "
    "'Doc ' || CAST(doc_id AS VARCHAR) AS title, "
    "'Summary of doc' AS subtitle, text, "
    "array_to_string(toks[1:len(toks) - 1], '-') AS menu_submenu "
    "FROM t",
)
def s4_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+F5+P1: HTML field extraction over synthesized article pages
    (fields per ArticlesSpider.py:18-33), then empty-title drop and
    menu_submenu derivation. Oracle = the embedded ground truth
    recomputed from the source columns (text is HTML-safe synthetic
    prose, so parser recovery must be exact)."""
    from .sources.html_extract import derive_menu_submenu, extract_article_fields

    docs = load_table(spark, sf_dir, "documents", widen=True)
    html = F.concat(
        F.lit('<html><body><h1 id="main-heading">Doc '),
        F.col("doc_id").cast("string"),
        F.lit('</h1><time datetime="2022-08-01T00:00:00Z"></time>'),
        F.lit('<b class="sc-1x">Summary of doc</b>'),
        F.lit("<strong>Author A</strong>"),
        F.lit("<p>"),
        F.col("text"),
        F.lit("</p><p>trailing boilerplate</p>"),
        F.lit('<img src="https://img/'),
        F.col("doc_id").cast("string"),
        F.lit('.jpg"></body></html>'),
    )
    url = F.concat(
        F.lit("https://www.bbc.com/news/"),
        F.col("source"),
        F.lit("-"),
        F.col("doc_id").cast("string"),
    )
    pages = docs.select(url.alias("url"), html.alias("html"))
    fields = extract_article_fields(pages)
    out = derive_menu_submenu(fields)
    return out.filter(F.col("title").isNotNull() & (F.col("title") != "")).select(
        "url", "date", "title", "subtitle", "text", "menu_submenu"
    )


def _lemmatize_oracle_sql() -> str:
    """DuckDB twin of the rule lemmatizer: the SAME branch-ordered
    suffix/exception logic as ``lemmatize.heuristic_pos`` /
    ``rule_lemma``, generated as CASE chains (token order preserved
    via an explicit subscript; docs whose every token is filtered
    keep an empty string through the left join)."""
    from .functions.lemmatize import (
        _COMMON_VERBS,
        IRREGULAR_ADJS,
        IRREGULAR_NOUNS,
        IRREGULAR_VERBS,
        POS_WHITELIST,
    )

    verbs_sql = _sql_str_list(sorted(_COMMON_VERBS))

    def esc(s: str) -> str:
        return s.replace("'", "''")

    def in_keys(d: dict) -> str:
        return "w IN (" + ", ".join(f"'{esc(k)}'" for k in sorted(d)) + ")"

    def map_case(d: dict) -> str:
        whens = " ".join(
            f"WHEN '{esc(k)}' THEN '{esc(v)}'" for k, v in sorted(d.items())
        )
        return f"CASE w {whens} ELSE w END"

    def ends(*sfx: str) -> str:
        return "(" + " OR ".join(f"w LIKE '%{s}'" for s in sfx) + ")"

    pos = f"""CASE
      WHEN w = '' THEN 'NN'
      WHEN list_contains({verbs_sql}, w) THEN 'VB'
      WHEN {in_keys(IRREGULAR_VERBS)} THEN 'VBD'
      WHEN {in_keys(IRREGULAR_NOUNS)} THEN 'NNS'
      WHEN {in_keys(IRREGULAR_ADJS)} THEN 'JJR'
      WHEN w LIKE '%ly' THEN 'RB'
      WHEN {ends('er', 'est')} AND len(w) > 4 THEN
        CASE WHEN w LIKE '%er' THEN 'JJR' ELSE 'JJS' END
      WHEN {ends('ous', 'ful', 'ive', 'able', 'ible', 'al', 'ic', 'ish')} THEN 'JJ'
      WHEN w LIKE '%ing' AND len(w) > 5 THEN 'VBG'
      WHEN w LIKE '%ed' AND len(w) > 4 THEN 'VBD'
      WHEN {ends('ion', 'ment', 'ness', 'ity', 'ship', 'hood')} THEN 'NN'
      WHEN w LIKE '%s' AND NOT {ends('ss', 'us', 'is')} THEN 'NNS'
      ELSE 'NN' END"""

    ing_stem = "substr(w, 1, len(w) - 3)"
    ed_stem = "substr(w, 1, len(w) - 2)"

    def lastc(stem: str, i: int) -> str:
        return f"substr({stem}, len({stem}) - {i - 1}, 1)"

    vowels = "('a', 'e', 'i', 'o', 'u')"
    ing = f"""CASE
        WHEN len({ing_stem}) > 2
             AND {lastc(ing_stem, 1)} = {lastc(ing_stem, 2)}
          THEN substr({ing_stem}, 1, len({ing_stem}) - 1)
        WHEN len({ing_stem}) > 2
             AND {lastc(ing_stem, 1)} NOT IN {vowels}
             AND {lastc(ing_stem, 2)} IN {vowels}
          THEN CASE WHEN {ends('ating', 'izing', 'osing', 'iving')}
                    THEN {ing_stem} || 'e' ELSE {ing_stem} END
        ELSE {ing_stem} END"""
    ed = f"""CASE
        WHEN len({ed_stem}) > 2
             AND {lastc(ed_stem, 1)} = {lastc(ed_stem, 2)}
          THEN substr({ed_stem}, 1, len({ed_stem}) - 1)
        ELSE {ed_stem} END"""

    lemma = f"""CASE
      WHEN pos LIKE 'N%' THEN CASE
        WHEN {in_keys(IRREGULAR_NOUNS)} THEN {map_case(IRREGULAR_NOUNS)}
        WHEN w LIKE '%ies' AND len(w) > 4 THEN substr(w, 1, len(w) - 3) || 'y'
        WHEN {ends('ses', 'xes', 'zes', 'ches', 'shes')} AND len(w) > 4
          THEN substr(w, 1, len(w) - 2)
        WHEN w LIKE '%s' AND NOT {ends('ss', 'us', 'is')} AND len(w) > 3
          THEN substr(w, 1, len(w) - 1)
        ELSE w END
      WHEN pos LIKE 'V%' THEN CASE
        WHEN {in_keys(IRREGULAR_VERBS)} THEN {map_case(IRREGULAR_VERBS)}
        WHEN w LIKE '%ing' AND len(w) > 5 THEN {ing}
        WHEN w LIKE '%ied' AND len(w) > 4 THEN substr(w, 1, len(w) - 3) || 'y'
        WHEN w LIKE '%ed' AND len(w) > 4 THEN {ed}
        ELSE w END
      WHEN pos LIKE 'R%' THEN
        CASE WHEN w LIKE '%ly' AND len(w) > 4
             THEN substr(w, 1, len(w) - 2) ELSE w END
      WHEN pos LIKE 'J%' THEN CASE
        WHEN {in_keys(IRREGULAR_ADJS)} THEN {map_case(IRREGULAR_ADJS)}
        WHEN w LIKE '%est' AND len(w) > 5 THEN substr(w, 1, len(w) - 3)
        WHEN w LIKE '%er' AND len(w) > 4 THEN substr(w, 1, len(w) - 2)
        ELSE w END
      ELSE w END"""

    whitelist = ", ".join(f"'{p}'" for p in POS_WHITELIST)
    return f"""
WITH arrs AS (
  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS arr FROM documents
),
tok AS (
  SELECT doc_id, j AS ord, lower(arr[j]) AS w
  FROM arrs, LATERAL (SELECT unnest(range(1, len(arr) + 1)) AS j) s
  WHERE arr[j] != ''
),
tagged AS (SELECT doc_id, ord, w, {pos} AS pos FROM tok),
lemmas AS (
  SELECT doc_id, string_agg({lemma}, ' ' ORDER BY ord) AS t
  FROM tagged WHERE pos IN ({whitelist}) GROUP BY doc_id
)
SELECT d.doc_id, coalesce(l.t, '') AS text_lemma
FROM documents d LEFT JOIN lemmas l ON d.doc_id = l.doc_id
"""


@register("p13_lemmatize", _lemmatize_oracle_sql())
def p13_lemmatize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13/F10: POS-filter + rule lemmatization via the pure-Catalyst
    expression (zero Python, codegen; pytest proves it token-equal to
    the pandas-UDF kernel, which remains the NLTK/WordNet model
    mount point)."""
    from .functions.lemmatize import POS_WHITELIST, lemmatize_text_expr

    docs = load_table(spark, sf_dir, "documents", widen=True)
    return docs.select(
        "doc_id",
        lemmatize_text_expr(F.col("text"), POS_WHITELIST).alias("text_lemma"),
    )


@register(
    "streaming_user_stats",
    # the drained final state is a deterministic function of the
    # input: counts are integers and the value total folds as
    # integer cents (scaled JVM-side before the stateful op), so the
    # batch aggregate IS the oracle — hash-exact in any micro-batch/
    # partition arrival order
    "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events, "
    "CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) "
    "AS total_cents FROM events GROUP BY user_id",
)
def streaming_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 + custom stateful operator: applyInPandasWithState
    running per-user count/total (the reference's cross-run state,
    generalized). The total rides as integer cents so the fold is
    exact in any arrival order — which upgrades this from a rows-only
    check to a hash oracle (batch groupBy twin); pytest additionally
    checks the drained stream's final state against it."""
    from .streaming.ingest import user_stats_batch

    return user_stats_batch(spark, sf_dir)


@register(
    "streaming_windowed_counts",
    # append mode emits exactly the windows the final watermark
    # (max ts - 1 day) has closed — a deterministic function of the
    # drained input, so the batch aggregate + cutoff IS the oracle
    # CAST: DuckDB's date_trunc('day') yields DATE, Spark's window
    # start is TIMESTAMP — align the string forms for the value hash
    "SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, "
    "CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY AS window_end, "
    "event_type, COUNT(*) AS n FROM events "
    "GROUP BY 1, 2, 3 "
    "HAVING CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY <= "
    "(SELECT MAX(ts) - INTERVAL 1 DAY FROM events)",
)
def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10: watermarked tumbling-window aggregation in append mode —
    daily event counts emitted only once the watermark closes the
    window; pytest checks emitted windows equal the batch aggregate
    and open windows are withheld."""
    from .streaming.ingest import windowed_counts_batch

    return windowed_counts_batch(spark, sf_dir)


@register(
    "streaming_session_windows",
    "WITH g AS (SELECT user_id, ts, CASE WHEN "
    "epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL OR "
    "epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000 "
    "THEN 1 ELSE 0 END AS is_new FROM events "
    "WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
    "s AS (SELECT user_id, ts, SUM(is_new) OVER "
    "(PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING "
    "AND CURRENT ROW) AS sid FROM g), "
    "f AS (SELECT user_id, MIN(ts) AS session_start, "
    "MAX(ts) + INTERVAL 30 MINUTE AS session_end, "
    "COUNT(*) AS n_events FROM s GROUP BY user_id, sid) "
    "SELECT session_start, session_end, user_id, n_events FROM f "
    "WHERE session_end <= (SELECT MAX(ts) - INTERVAL 1 DAY FROM events)",
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 extension: streaming sessionization (`session_window`) —
    dynamic gap-merged windows per user, closed by the watermark and
    emitted once in append mode. Oracle = the batch lag+cumsum twin
    (half-open gap boundary, i.e. `>=`, at full micros precision)
    with the final-watermark cutoff; pytest additionally checks
    equality against the Spark batch twin."""
    from .streaming.ingest import session_counts_batch

    return session_counts_batch(spark, sf_dir)


@register(
    "streaming_interval_join",
    # the watermarked stream-stream join emits exactly the batch
    # interval-join result once drained (watermarks only bound state,
    # pytest proves the equality) — so the batch join is the oracle
    "SELECT c.event_id AS click_id, c.user_id AS c_user_id, "
    "c.ts AS click_ts, v.ts AS view_ts, v.value AS view_value "
    "FROM events c JOIN events v ON c.event_type = 'click' "
    "AND v.event_type = 'view' AND c.user_id = v.user_id "
    "AND v.ts >= c.ts - INTERVAL 30 MINUTE AND v.ts <= c.ts",
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join: clicks pick up the
    same user's views within a 30-minute lookback, both sides
    watermarked so join state is bounded (watermark + interval
    width). Rows-only; pytest checks exact equality with the batch
    interval-join twin."""
    from .streaming.ingest import interval_join_batch

    return interval_join_batch(spark, sf_dir)


@register(
    "streaming_interval_join_outer",
    # LEFT OUTER adds watermark semantics to the oracle: matched rows
    # = the batch join; unmatched clicks appear null-padded ONLY when
    # the final global watermark (min of the two sides' max event
    # time, minus the 1h delay) passed their timestamp — later
    # unmatched clicks are still buffered at drain end by design
    "WITH c AS (SELECT event_id AS click_id, user_id AS c_user_id, "
    "ts AS click_ts FROM events WHERE event_type = 'click'), "
    "v AS (SELECT user_id AS v_user_id, ts AS view_ts, "
    "value AS view_value FROM events WHERE event_type = 'view'), "
    "mx AS (SELECT least((SELECT max(click_ts) FROM c), "
    "(SELECT max(view_ts) FROM v)) - INTERVAL 1 HOUR AS wm), "
    "m AS (SELECT click_id, c_user_id, click_ts, view_ts, view_value "
    "FROM c LEFT JOIN v ON c_user_id = v_user_id "
    "AND view_ts BETWEEN click_ts - INTERVAL 30 MINUTE AND click_ts) "
    "SELECT click_id, c_user_id, click_ts, view_ts, view_value "
    "FROM m, mx WHERE view_ts IS NOT NULL OR click_ts < wm",
)
def streaming_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER watermarked stream-stream join — the §2.10 shape
    where watermark semantics are OBSERVABLE in the result: null-
    padded unmatched rows emit exactly when the global watermark
    passes them (no more matches possible), so the oracle is the
    batch left join with the final-watermark cutoff applied to the
    unmatched side. Hash-oracled — the strongest driver-checkable
    evidence that watermark bookkeeping is correct."""
    from .streaming.ingest import interval_join_batch

    return interval_join_batch(spark, sf_dir, how="left_outer")


@register(
    "streaming_dedup",
    # watermarked dropDuplicates over a unique-key source is the
    # identity on the driver's data (event_id is unique there); the
    # actual dup-dropping behavior is pytest-checked with planted
    # duplicate files (test_streaming / test_ntz)
    "SELECT event_id, ts, user_id, event_type, value, props FROM events",
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10: incremental ingest as Structured Streaming — watermarked
    dropDuplicates drained with Trigger.AvailableNow (the reference's
    30-min cron + unique-index upsert)."""
    from .streaming.ingest import incremental_dedup_batch

    return incremental_dedup_batch(spark, sf_dir, key="event_id")




# --------------------------------------------------------------------
# round 10 (cont.): WordPiece greedy longest-match encode — completes
# the tokenizer family (BPE learn/encode, unigram-LM learn, WordPiece
# apply)
# --------------------------------------------------------------------

_WP_START = list("abcdefghijklmnopqrstuvwxyz") + [
    "th", "the", "an", "and", "in", "re", "er", "on", "st", "en",
    "or", "un", "de", "pre", "over", "wh", "sh", "ch",
]
_WP_CONT = list("abcdefghijklmnopqrstuvwxyz") + [
    "ing", "ed", "es", "ly", "ion", "tion", "ent", "ter", "th",
    "nd", "at", "ll", "ess",
]
_WP_MAX_CHARS = 30


def _wp_case(pieces: list[str]) -> str:
    chain = " ".join(
        f"WHEN starts_with(rest, '{p}') THEN '{p}'"
        for p in sorted(pieces, key=lambda p: (-len(p), p))
    )
    return f"CASE {chain} END"


def _wordpiece_oracle_sql() -> str:
    return (
        "WITH RECURSIVE w AS (SELECT doc_id, "
        r"unnest(string_split_regex(lower(text), '\s+')) AS word "
        "FROM documents), "
        "occ AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS cnt "
        "FROM w WHERE word <> '' GROUP BY doc_id, word), "
        "types AS (SELECT DISTINCT word FROM occ), "
        "seg AS ("
        f"  SELECT word, word AS rest, 0 AS np, "
        f"(length(word) > {_WP_MAX_CHARS}) AS unk, TRUE AS first "
        "FROM types "
        "  UNION ALL "
        "  SELECT word, "
        "    CASE WHEN bp IS NULL THEN '' "
        "         ELSE substr(rest, length(bp) + 1) END AS rest, "
        "    CASE WHEN bp IS NULL THEN 1 ELSE np + 1 END AS np, "
        "    (bp IS NULL) AS unk, FALSE AS first "
        "  FROM (SELECT word, rest, np, first, "
        f"      CASE WHEN first THEN {_wp_case(_WP_START)} "
        f"           ELSE {_wp_case(_WP_CONT)} END AS bp "
        "    FROM seg WHERE NOT unk AND rest <> '') s"
        "), "
        "term AS (SELECT word, "
        "CASE WHEN unk THEN 1 ELSE np END AS n_sub, unk "
        "FROM seg WHERE unk OR rest = '') "
        "SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_words, "
        "CAST(SUM(cnt * n_sub) AS BIGINT) AS n_pieces, "
        "CAST(SUM(CASE WHEN unk THEN cnt ELSE 0 END) AS BIGINT) AS n_unk "
        "FROM occ JOIN term USING (word) GROUP BY doc_id"
    )


@register("wordpiece_encode", _wordpiece_oracle_sql())
def wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenizer APPLICATION (Devlin et al. 2019 greedy
    longest-match-first, BERT's WordpieceTokenizer semantics incl.
    whole-word [UNK] on no-match or >30 chars) under a fixed
    BERT-style vocab — per-doc word/piece/UNK counts, hash-exact
    cross-engine (the oracle replays the greedy match with a
    recursive CTE whose step is the same longest-first CASE chain).
    Completes the tokenizer family: BPE learn + encode
    (bpe_learned_merges / bpe_encode_subwords), unigram-LM learn
    (unigram_lm_vocab), WordPiece apply. Same scaling recipe as the
    BPE encode: the iterative match folds over the Heaps-bounded
    word-TYPE table only (interpreted-HOF cost confined to ~|vocab|
    rows at 100 TB), occurrences join the per-type piece counts back
    with skinny (word, count) rows."""
    from .functions.tokenize import wordpiece_encode_expr

    docs = load_table(spark, sf_dir, "documents", widen=True)
    w = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    occ = w.groupBy("doc_id", "word").agg(F.count("*").alias("cnt"))
    types = occ.select("word").distinct()
    n = types.select(
        "word",
        wordpiece_encode_expr(
            F.col("word"), _WP_START, _WP_CONT, _WP_MAX_CHARS
        ).alias("e"),
    ).select(
        "word",
        F.col("e.n_pieces").cast("long").alias("n_sub"),
        F.col("e.unk").alias("unk"),
    )
    return (
        occ.join(n, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_sub")).alias("n_pieces"),
            F.sum(F.when(F.col("unk"), F.col("cnt")).otherwise(0)).alias(
                "n_unk"
            ),
        )
    )

"""Corpus retrieval & statistical scoring for training-data curation.

Four operators a 100 TB data pipeline runs between raw crawl and training
mix, all pure JVM DataFrame ops with exact DuckDB oracles:

- ``bm25_retrieval``   — classic sparse retrieval (Robertson/Spärck Jones
                         BM25) of the corpus against a fixed query term
                         set: ONE conditional-aggregation corpus shuffle,
                         no term join, global top-k.
- ``ngram_lm_score``   — bigram conditional-probability score per
                         document (the KenLM-style fluency/perplexity
                         proxy used as a quality gate), exact decimal
                         summation so both engines agree bit-for-bit.
- ``weighted_sample``  — deterministic weighted sampling without
                         replacement (Efraimidis-Spirakis keys from an
                         md5-derived uniform): reproducible across runs,
                         engines, and row order.
- ``embedding_outliers`` — farthest-from-centroid vectors per label:
                         the mislabeled/garbage detector over an
                         embedding corpus.

The reference has no retrieval surface (its one query is
``SELECT <cols> FROM <table>``, sync/QueryBuilder.java:46-75); these are
[TARGET] extensions per SURVEY.md §2B on the documents/embeddings tables.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cpt_database_sync_spark.plans.registry import register
from cpt_database_sync_spark.session import bounded_cache, local_frame
from cpt_database_sync_spark.sources.tables import load

# Query terms chosen from the fixture vocabulary; any literal set works —
# a production call parameterizes them. Terms are interpolated into the
# oracle SQL and compared with == on the Spark side, so they must stay in
# the safe token alphabet (no quotes, no regex/whitespace specials) —
# asserted at import so a future parameterization fails loudly, not by
# producing a broken oracle string.
BM25_QUERY_TERMS = ("join", "window", "data")
assert all(
    re.fullmatch(r"[a-z0-9]+", t) for t in BM25_QUERY_TERMS
), "BM25 query terms must match [a-z0-9]+ (they are embedded in oracle SQL)"
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20

NGRAM_TOPK_DOCS = 100
SAMPLE_K = 50
OUTLIER_TOPK = 3


def _bm25_term_sql(t: str) -> str:
    # Validated HERE, not only at the module-level assert: a future
    # parameterized caller must not be able to smuggle a quote (or any
    # SQL special) into the interpolated oracle string.
    if not re.fullmatch(r"[a-z0-9]+", t):
        raise ValueError(
            f"BM25 query term {t!r} outside the safe [a-z0-9]+ alphabet"
        )
    return f"SUM(CASE WHEN term = '{t}' THEN 1 ELSE 0 END)"


_BM25_ORACLE = f"""
WITH w AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
  FROM documents
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS dl,
         {", ".join(f"{_bm25_term_sql(t)} AS tf{i}" for i, t in enumerate(BM25_QUERY_TERMS))}
  FROM w GROUP BY doc_id
),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(CAST(dl AS DOUBLE)) AS avgdl,
         {", ".join(f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}" for i in range(len(BM25_QUERY_TERMS)))}
  FROM per_doc
),
scored AS (
  SELECT d.doc_id,
         {" + ".join(
             f"(ln((s.n - s.df{i} + 0.5) / (s.df{i} + 0.5) + 1.0)"
             f" * (d.tf{i} * ({BM25_K1} + 1.0))"
             f" / (d.tf{i} + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * d.dl / s.avgdl)))"
             for i in range(len(BM25_QUERY_TERMS))
         )} AS score
  FROM per_doc d, stats s
)
SELECT doc_id, round(score, 9) AS score,
       ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rn
FROM scored
WHERE score > 0
ORDER BY rn LIMIT {BM25_TOPK}
"""


@register("bm25_retrieval", oracle=_BM25_ORACLE)
def bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval against a literal query term set.

    The whole index pass is ONE corpus shuffle: tokenize, then a single
    groupBy(doc_id) computing document length AND the per-query-term
    term frequencies as conditional sums — no (doc, term) intermediate,
    no term join (|Q| is small and fixed, so tf columns beat a term-keyed
    join that would shuffle every token). Corpus stats (N, avgdl, per-term
    df) reduce to ONE scalar row collected to the driver and folded into
    the scoring expression as literals (the kmeans/quantize pattern);
    scoring is then map-only and top-k is a TakeOrderedAndProject — no
    global sort. At 100 TB: the tokenize+agg streams, the stats row is
    O(|Q|), and per-query cost after indexing is a map + bounded heap.
    """
    docs = load(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    words = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("term")
    )
    # cached: the tokenize+agg index pass feeds BOTH the stats collect
    # and the returned scoring plan — without the cache it would run
    # twice per action (the kmeans collect-then-reuse pattern).
    per_doc = bounded_cache(
        "bm25_retrieval.per_doc",
        words.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("dl"),
            *[
                F.sum(F.when(F.col("term") == t, 1).otherwise(0)).alias(f"tf{i}")
                for i, t in enumerate(BM25_QUERY_TERMS)
            ],
        ),
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
            for i in range(len(BM25_QUERY_TERMS))
        ],
    ).collect()[0]
    if not stats["n"] or stats["avgdl"] is None:
        # empty corpus: no documents, no scores — and no avgdl to fold
        # into the literal scoring expression
        return local_frame(spark, [], "doc_id bigint, score double, rn int")
    n, avgdl = float(stats["n"]), float(stats["avgdl"])
    score = None
    for i in range(len(BM25_QUERY_TERMS)):
        df_i = float(stats[f"df{i}"])
        idf = F.lit(float(__import__("math").log((n - df_i + 0.5) / (df_i + 0.5) + 1.0)))
        tf = F.col(f"tf{i}")
        part = idf * (tf * (BM25_K1 + 1.0)) / (
            tf + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))
        )
        score = part if score is None else score + part
    scored = per_doc.withColumn("score", score).filter(F.col("score") > 0)
    # top-k FIRST via orderBy+limit — a distributed TakeOrderedAndProject
    # (per-partition bounded heap + k-row reduce), NOT a global-window
    # row_number that would drag the corpus into one partition. The rank
    # window then runs over exactly K rows.
    top = scored.orderBy(F.col("score").desc(), "doc_id").limit(BM25_TOPK)
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return top.withColumn("rn", F.row_number().over(w)).select(
        "doc_id", F.round("score", 9).alias("score"), "rn"
    )


_NGRAM_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents
),
big AS (
  SELECT doc_id, ws[CAST(u.i AS INT)] AS w1, ws[CAST(u.i + 1 AS INT)] AS w2
  FROM w, UNNEST(range(1, len(ws))) AS u(i)
),
bc AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY 1, 2),
uc AS (SELECT w1, SUM(c2) AS c1 FROM bc GROUP BY 1),
scored AS (
  SELECT b.doc_id,
         CAST(CAST(bc.c2 AS DOUBLE) / uc.c1 AS DECIMAL(12,10)) AS p
  FROM big b JOIN bc USING (w1, w2) JOIN uc USING (w1)
)
SELECT doc_id,
       round(CAST(SUM(p) AS DOUBLE) / COUNT(*), 9) AS avg_p,
       COUNT(*) AS n_bigrams
FROM scored GROUP BY doc_id
ORDER BY avg_p DESC, doc_id LIMIT {NGRAM_TOPK_DOCS}
"""


@register("ngram_lm_score", oracle=_NGRAM_ORACLE)
def ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model score per document: the average conditional
    probability P(w2|w1) of the document's bigrams under the corpus LM —
    the fluency/perplexity-proxy quality gate (docs of improbable bigram
    sequences → bottom of the ranking, boilerplate → top).

    Dataflow (r13, guide §2.3/§2.4): ONE corpus pass builds the
    per-(doc, bigram) multiplicity rollup; the corpus-level bigram counts
    REUSE that rollup's exchange (sum over doc — ReusedExchange, no
    second corpus scan), unigram context counts reuse the bigram
    aggregate (sum over w2). Every exchange after the first carries
    rolled-up rows, never raw occurrences with text-derived keys; the
    pre-r13 shape scanned + exploded the corpus three times behind a
    full-text repartition (plans/r13/ngram_lm_score_before.txt: 3 Scan
    parquet / 3 Generate / 18 Exchange). The counts joins are term-keyed
    and sized by AQE (billion-bigram vocabularies must never broadcast;
    at bench scale AQE picks broadcast from runtime stats). Engine parity
    is exact, not approximate: each probability is an IEEE-exact integer
    division computed identically on both engines, then summed as
    DECIMAL(12,10) scaled by the occurrence multiplicity — k identical
    exact decimals sum to exactly k*p, so the rollup is bit-identical to
    the oracle's per-occurrence fold and order-independent.
    """
    docs = load(spark, sf_dir, "documents")
    # Fan the tokenize+explode across cores: the corpus parquet arrives
    # as few splits (1 at bench scale) and the explode is the CPU-heavy
    # step; the exchange carries the raw text once — and only once,
    # because everything downstream reads the cached rollup below.
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    ws = docs.select("doc_id", F.split(F.trim("text"), r"\s+").alias("ws"))
    # guard: sequence(0, -1) on a 1-word doc would step NEGATIVE in Spark
    # (auto step sign) and fabricate a (w, null) bigram; DuckDB's
    # range(1, 1) is naturally empty.
    ws = ws.filter(F.size("ws") >= 2)
    big = ws.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS w1, ws[i + 1] AS w2))")
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    # Per-(doc, bigram) multiplicity: the ONLY fact-scale exchange (map-
    # side partial agg shrinks it to distinct doc-bigrams), cached so the
    # three consumers (bigram counts, context counts, the scoring join)
    # share ONE corpus scan + explode instead of re-deriving it each.
    dbg = bounded_cache(
        "ngram_lm.dbg",
        big.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("k")),
    )
    bc = dbg.groupBy("w1", "w2").agg(F.sum("k").alias("c2"))
    uc = bc.groupBy("w1").agg(F.sum("c2").alias("c1"))
    scored = (
        dbg.join(bc, ["w1", "w2"])
        .join(uc, ["w1"])
        .select(
            "doc_id",
            F.col("k"),
            (F.col("c2").cast("double") / F.col("c1"))
            .cast("decimal(12,10)")
            .alias("p"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("p") * F.col("k")).cast("double") / F.sum("k"), 9
            ).alias("avg_p"),
            F.sum("k").alias("n_bigrams"),
        )
        .orderBy(F.col("avg_p").desc(), "doc_id")
        .limit(NGRAM_TOPK_DOCS)
    )


_WSAMPLE_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id, lang, n_chars,
         -ln(( CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1.0)
             / 4294967297.0) / n_chars AS k
  FROM documents
  WHERE n_chars > 0
)
SELECT doc_id, lang, n_chars,
       ROW_NUMBER() OVER (ORDER BY k, doc_id) AS rn
FROM keyed
ORDER BY rn LIMIT {SAMPLE_K}
"""


@register("weighted_sample", oracle=_WSAMPLE_ORACLE)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, fully deterministic:
    Efraimidis-Spirakis keys k = -ln(u)/w with the uniform u derived
    from an md5 digest of the stable doc key (NOT a PRNG — reproducible
    across runs, engines, partitionings, and row order; the property
    ``corpus_sample`` establishes for uniform splits, extended to
    weighted draws). Weight = n_chars: longer docs proportionally more
    likely — the standard token-budget sampler for training mixes.

    Map-only key computation + bounded top-k (TakeOrderedAndProject) —
    no global sort, no shuffle beyond the k-row reduce. At 100 TB this
    is the cheapest possible distributed weighted draw.
    """
    docs = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    # u in (0, 1]: first 8 md5 hex chars as a 32-bit int, +1 over 2^32+1
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        + 1.0
    ) / 4294967297.0
    keyed = docs.select(
        "doc_id", "lang", "n_chars", (-F.log(u) / F.col("n_chars")).alias("k")
    )
    # distributed top-k (TakeOrderedAndProject), then rank the K rows —
    # see bm25_retrieval for why not a global-window row_number.
    top = keyed.orderBy("k", "doc_id").limit(SAMPLE_K)
    w = Window.orderBy("k", "doc_id")
    return top.withColumn("rn", F.row_number().over(w)).select(
        "doc_id", "lang", "n_chars", "rn"
    )


_OUTLIER_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings
),
cent AS (
  SELECT label, u.i AS pos,
         CAST(CAST(SUM(CAST(ve[CAST(u.i + 1 AS INT)] AS DECIMAL(16,7)))
              AS DECIMAL(18,7)) AS DOUBLE) / COUNT(*) AS m
  FROM e, UNNEST(range(len(ve))) AS u(i)
  GROUP BY 1, 2
),
cl AS (SELECT label, list(m ORDER BY pos) AS ce FROM cent GROUP BY 1),
d AS (
  SELECT e.vec_id, e.label,
         sqrt(list_reduce(
           list_prepend(CAST(0 AS DOUBLE),
             list_transform(range(1, CAST(len(e.ve) + 1 AS INT)),
               i -> (e.ve[CAST(i AS INT)] - cl.ce[CAST(i AS INT)])
                    * (e.ve[CAST(i AS INT)] - cl.ce[CAST(i AS INT)]))),
           (acc, x) -> acc + x)) AS dist
  FROM e JOIN cl USING (label)
)
SELECT label, vec_id, round(dist, 9) AS dist, rn FROM (
  SELECT label, vec_id, dist,
         ROW_NUMBER() OVER (PARTITION BY label ORDER BY dist DESC, vec_id) AS rn
  FROM d
) WHERE rn <= {OUTLIER_TOPK}
"""


@register("embedding_outliers", oracle=_OUTLIER_ORACLE)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Farthest-from-centroid vectors per label: the standard screen for
    mislabeled / garbage / adversarial rows in an embedding corpus
    (cluster then inspect the tails).

    Per-label centroids come from ONE posexplode aggregation with
    map-side combine and the exact decimal lane (the vector_centroids /
    kmeans update shape — shuffle volume is |labels|×dims regardless of
    corpus size); the distance pass joins the |labels|-row centroid
    table broadcast, computes the L2 distance as a sequential HOF fold
    (index order — both engines sum in the same order), and ranks within
    label. At 100 TB: map-only scoring, per-label top-k via
    WindowGroupLimit pushdown.
    """
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("ve")
    )
    emb = emb.repartition(spark.sparkContext.defaultParallelism)
    dec_sum = F.sum(F.col("val").cast("decimal(16,7)"))
    cent = (
        emb.select("label", F.posexplode("ve").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            (dec_sum.cast("decimal(18,7)").cast("double") / F.count(F.lit(1))).alias(
                "m"
            )
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("sm"))
        .select("label", F.expr("transform(sm, s -> s.m)").alias("ce"))
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with("ve", "ce", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    scored = emb.join(F.broadcast(cent), "label").select(
        "label", "vec_id", dist.alias("dist")
    )
    w = Window.partitionBy("label").orderBy(F.col("dist").desc(), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= OUTLIER_TOPK)
        .select("label", "vec_id", F.round("dist", 9).alias("dist"), "rn")
    )

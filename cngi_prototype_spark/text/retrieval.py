"""BM25 scored retrieval over a document corpus.

Okapi BM25 (Robertson et al., TREC-3; the Lucene/Elasticsearch default
ranking function, using Lucene's non-negative ``ln(1 + ...)`` idf
variant) as a distributed inverted-index join. Beyond the reference's
surface (cngi_prototype has no text tier) but first-class for a
training-data pipeline: eval-set mining, corpus triage, and
quality-by-query retrieval all rank documents against query strings at
corpus scale.

Scale design — the corpus is never crossed with the query set:

- the postings list ``(term, doc_id, tf)`` is one tokenize + one
  groupBy; at 100 TB it is O(total tokens) rows of three narrow
  columns, hash-partitioned by its group keys;
- document frequencies reuse the postings (groupBy term — partial
  aggregation map-side);
- the query-term table is tiny and **broadcast** into the postings
  join, so scoring streams the postings exactly once; docs matching no
  query term are dropped by the join and never shuffle;
- corpus-level stats (N, total doc length) travel as a **1-row
  broadcast** (the joins.py scalar-attach pattern), never a collect;
- per-query top-k is a window over only the matched (query, doc)
  scores.

Cross-engine exactness (the value-gate story): per-term contributions
are deterministic scalar expressions (IEEE +,*,/ and one ``ln``) built
with the *same association order* on both engines, then quantized to
``BIGINT`` nano-units — so the per-(query, doc) score is an
order-independent integer sum, immune to Spark/DuckDB aggregation-order
differences (the functions/exact.py convention). ``avgdl`` is never an
engine ``avg()``: both sides compute ``CAST(sum_dl AS DOUBLE) /
CAST(n_docs AS DOUBLE)`` from exact integer totals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

import re

from cngi_prototype_spark.text.analysis import _sql_tokens, _tokens

__all__ = ["bm25_topk", "bm25_postings", "bm25_score_postings",
           "bm25_topk_from_store", "sql_bm25_topk"]

_QUANT = 1_000_000_000  # nano-unit quantization for the exact gate sum


def _query_terms(queries: list[tuple[int, str]]) -> list[tuple[int, str]]:
    """Sorted distinct (query_id, term) pairs tokenized to MATCH the
    corpus tokenizer: ASCII-whitespace split of lower(trim(text)) —
    Python's default ``str.split()`` splits on *Unicode* whitespace
    (NBSP etc.) that the engines' ``\\s+`` regex does not, which would
    make such queries silently miss exact textual matches. Empty
    terms are dropped (a search string, unlike a document, has no
    empty-token convention). Residual caveat: exotic case folding
    (e.g. 'İ') can still differ between Python and SQL ``lower`` —
    both gate sides take the PYTHON tokens, so the gate stays
    consistent; only recall on such exotic query text is affected.

    Raises ``ValueError`` when no query yields any term: the SQL twin
    interpolates these rows into a ``VALUES`` list, which would be a
    syntax error on an empty set while the Spark side silently
    returned no rows — both engines must fail identically."""
    rows = sorted({
        (int(qid), tok)
        for qid, qtext in queries
        for tok in re.split(r"\s+", str(qtext).strip().lower(),
                            flags=re.ASCII)
        if tok
    })
    if not rows:
        raise ValueError(
            "no query terms: every query string tokenized to zero "
            "terms (empty/whitespace input)")
    return rows


def bm25_postings(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Inverted-index postings ``(term, doc_id, tf, dl)``.

    ``dl`` (document token length) rides each posting row via a window
    — cheaper than a second self-join at query time, and the window
    shares the groupBy's hash partitioning on ``doc_id``.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_tokens(F.col(text_col))).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # dl = sum of tfs per doc = token count (the tokenizer's convention
    # counts an empty doc as one empty token, matching token_stats)
    from pyspark.sql.window import Window

    return tf.withColumn(
        "dl", F.sum("tf").over(Window.partitionBy("doc_id")))


def _contrib(k1: float, b: float) -> Column:
    """Per-term BM25 contribution — association order mirrored
    token-for-token by :func:`_sql_contrib` so both engines execute the
    identical IEEE expression tree."""
    tf = F.col("tf").cast("double")
    df_ = F.col("df").cast("double")
    n = F.col("n_docs").cast("double")
    dl = F.col("dl").cast("double")
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    idf = F.log(F.lit(1.0) + (n - df_ + F.lit(0.5)) / (df_ + F.lit(0.5)))
    tfn = (tf * F.lit(k1 + 1.0)) / (
        tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / avgdl))
    return idf * tfn


def _sql_contrib(k1: float, b: float) -> str:
    avgdl = "(CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    idf = ("ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)"
           " / (CAST(df AS DOUBLE) + 0.5))")
    tfn = (f"(CAST(tf AS DOUBLE) * {k1 + 1.0!r}) / (CAST(tf AS DOUBLE)"
           f" + {k1!r} * ({1.0 - b!r} + {b!r} * CAST(dl AS DOUBLE)"
           f" / {avgdl}))")
    return f"{idf} * {tfn}"


def bm25_topk(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    quantize: bool = False,
) -> DataFrame:
    """Top-``top_n`` documents per query by BM25 →
    ``(query_id, doc_id, rank, score)`` (``score_q`` BIGINT nano-units
    when ``quantize=True`` — the exact-gate form; ties broken by
    ``doc_id`` so the ranking is total on both engines).

    ``queries``: small in-memory ``[(query_id, query_text), ...]`` —
    the driver-literal side of the broadcast join (the reference's
    selection parameters travel the same way). Duplicate terms within
    one query collapse to one occurrence (set-of-terms semantics, the
    standard bag-of-words simplification for short queries).

    Plan shape (r14): the old form built the full corpus postings
    three times (scoring stream, document frequencies, corpus stats —
    three tokenize passes, each with a corpus-sized (doc, term)
    shuffle plus a dl window exchange). Query terms are a driver
    literal, so matching moves in-row (``filter(toks, isin(terms))``)
    and ``dl`` becomes ``size(toks)``: nothing corpus-sized is ever
    exploded or shuffled. r15: the remaining TWO tokenize passes
    (matched-tf build + the corpus-stats aggregate each re-derived the
    tokenized projection) fuse into ONE — ``staged`` is the guide-§8
    decision table (``doc_id``, ``dl``, the matched-terms array:
    tens of bytes per row, never the text payload), eagerly
    localCheckpoint'ed so stats and tf read a single materialization.
    One documents scan, one tokenize pass; the match-bounded tf table
    keeps its own checkpoint so the df branch does not re-run the
    match shuffle. Values are identical: same tokenizer (empty-token
    convention included), same exact-integer tf/df/N/Σdl, same
    contribution expression. The store path
    (:func:`bm25_score_postings` over a postings table) is unchanged.

    Recovery trade of the two ``localCheckpoint``s: their blocks sit in
    the executors' block managers, not in reliable storage, and the
    lineage above them is cut, so losing an executor that holds one
    fails the job that reads it instead of recomputing it. The staged
    table is narrow and the corpus pass is the query's dominant cost,
    so rerunning the whole query on such a loss is accepted over
    paying that pass once per consumer. The blocks are not unpersisted
    here: the returned frame is lazy and reads them each time it runs.
    They live as long as it (or a frame built on it) is referenced;
    Spark's context cleaner drops them once the driver collects it.
    """
    spark = docs.sparkSession
    qrows = _query_terms(queries)
    qterms = spark.createDataFrame(qrows, "query_id INT, term STRING")
    terms = sorted({t for _, t in qrows})
    staged = docs.select(
        F.col(id_col).alias("doc_id"),
        _tokens(F.col(text_col)).alias("__toks"),
    ).select(
        "doc_id", F.size("__toks").alias("dl"),
        F.filter("__toks", lambda t: t.isin(*terms)).alias("__q"))
    # ONE corpus pass: the narrow (doc_id, dl, matched-terms) stage is
    # materialized once and both consumers below read it — without
    # this, Catalyst re-derives the scan+tokenize per consumer
    staged = staged.localCheckpoint()
    # exact integer corpus totals; one row, broadcast (reads the
    # checkpointed stage: no second scan, no explode, no shuffle)
    stats = staged.agg(F.count("*").alias("n_docs"),
                       F.sum("dl").alias("sum_dl"))
    tf = (staged.filter(F.size("__q") > 0)
          .select("doc_id", "dl", F.explode("__q").alias("term"))
          .groupBy("doc_id", "dl", "term")
          .agg(F.count("*").alias("tf"))
          .localCheckpoint())  # match-bounded, read twice below
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    contrib = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id", "doc_id",
            (F.floor(_contrib(k1, b) * F.lit(float(_QUANT)) + F.lit(0.5))
             .cast("long").alias("contrib_q"))
            if quantize else _contrib(k1, b).alias("contrib"),
        )
    )
    return _topn_scores(contrib, top_n=top_n, quantize=quantize)


def bm25_score_postings(
    post: DataFrame,
    queries: list[tuple[int, str]],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int = 10,
    quantize: bool = False,
) -> DataFrame:
    """Score a postings table ``(term, doc_id, tf, dl)`` — the shared
    core of :func:`bm25_topk` (index built in-plan) and
    :func:`bm25_topk_from_store` (index accumulated by
    ``stream_bm25_postings``). Corpus stats (N, Σdl) and document
    frequencies derive from the postings themselves, so batch and
    incremental paths score literally the same plan over the same
    rows."""
    spark = post.sparkSession
    dfreq = post.groupBy("term").agg(F.count("*").alias("df"))
    # exact integer corpus totals; one row, broadcast
    dl_per_doc = post.groupBy("doc_id").agg(F.first("dl").alias("dl"))
    stats = dl_per_doc.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl"))
    qrows = _query_terms(queries)
    qterms = spark.createDataFrame(qrows, "query_id INT, term STRING")
    contrib = (
        post.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfreq.join(F.broadcast(qterms.select("term")
                                                 .distinct()), "term")),
              "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id", "doc_id",
            (F.floor(_contrib(k1, b) * F.lit(float(_QUANT)) + F.lit(0.5))
             .cast("long").alias("contrib_q"))
            if quantize else _contrib(k1, b).alias("contrib"),
        )
    )
    return _topn_scores(contrib, top_n=top_n, quantize=quantize)


def _topn_scores(contrib: DataFrame, *, top_n: int,
                 quantize: bool) -> DataFrame:
    """Per-(query, doc) contribution sum → ranked top-``top_n`` — the
    shared tail of :func:`bm25_topk` and :func:`bm25_score_postings`."""
    score_col = "score_q" if quantize else "score"
    scores = contrib.groupBy("query_id", "doc_id").agg(
        F.sum("contrib_q").alias("score_q")
        if quantize else F.sum("contrib").alias("score"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col("doc_id").asc())
    return (scores.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_n)
            .select("query_id", "doc_id",
                    F.col("rank").cast("long").alias("rank"), score_col))


def bm25_topk_from_store(
    spark: SparkSession,
    postings_path: str,
    queries: list[tuple[int, str]],
    **kwargs,
) -> DataFrame:
    """Score the persistent postings store maintained by
    ``streaming.stream_ops.stream_bm25_postings`` — drops the store's
    ``_batch`` epoch column and any full-expiry sentinel row, then
    runs the exact batch scoring plan (equal-to-batch property-tested
    over arrival orders)."""
    post = spark.read.parquet(postings_path)
    post = post.filter(F.col("term").isNotNull())
    if "_batch" in post.columns:
        post = post.drop("_batch")
    return bm25_score_postings(post, queries, **kwargs)


def sql_bm25_topk(
    queries: list[tuple[int, str]],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int = 10,
    quantize: bool = True,
) -> str:
    """DuckDB twin of :func:`bm25_topk` (same tokenizer, same quantized
    contribution expression, same total tie-break). Query terms are
    SQL-escaped ('' doubling) — they are caller data, not SQL."""
    qrows = _query_terms(queries)
    values = ", ".join(
        f"({qid}, '{t.replace(chr(39), chr(39) * 2)}')"
        for qid, t in qrows)
    score = ("CAST(SUM(CAST(floor(contrib * 1000000000.0 + 0.5) "
             "AS BIGINT)) AS BIGINT)" if quantize
             else "SUM(contrib)")
    score_col = "score_q" if quantize else "score"
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({_sql_tokens('text')}) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*)::BIGINT AS tf
      FROM toks GROUP BY doc_id, term
    ),
    dl AS (
      SELECT doc_id, SUM(tf)::BIGINT AS dl FROM tf GROUP BY doc_id
    ),
    stats AS (
      SELECT COUNT(*)::BIGINT AS n_docs, SUM(dl)::BIGINT AS sum_dl
      FROM dl
    ),
    dfreq AS (
      SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY term
    ),
    qterms AS (
      SELECT * FROM (VALUES {values}) AS t(query_id, term)
    ),
    contribs AS (
      SELECT q.query_id, tf.doc_id, {_sql_contrib(k1, b)} AS contrib
      FROM qterms q
      JOIN tf ON tf.term = q.term
      JOIN dfreq ON dfreq.term = q.term
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
    ),
    scores AS (
      SELECT query_id, doc_id, {score} AS {score_col}
      FROM contribs GROUP BY query_id, doc_id
    ),
    ranked AS (
      SELECT query_id, doc_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY {score_col} DESC, doc_id ASC) AS BIGINT) AS rank,
             {score_col}
      FROM scores
    )
    SELECT query_id, doc_id, rank, {score_col}
    FROM ranked WHERE rank <= {top_n}
    """

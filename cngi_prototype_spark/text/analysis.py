"""Text analysis: tokenization, quality, language ID, fingerprints.

Every operator is a pair: a Spark Column builder and an SQL-text twin
that computes the identical value in DuckDB (same regexes, same literal
word lists, same left-assoc arithmetic) so the oracle gate hash-matches.

Design for 100 TB: everything here is a narrow projection over the text
column — no shuffle, no UDF, whole-stage codegen. Language ID is a
stopword-hit heuristic (the classic cheap-tier approach, cf. fastText's
ngram fallback); quality scoring follows the Gopher/C4-style
length/punctuation/stopword-density filters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

TOKEN_SPLIT = r"\s+"
PUNCT_CLASS = r"[^A-Za-z0-9\s]"

STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "no"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "zu"],
    "fr": ["le", "la", "de", "et", "un", "est", "pour", "que", "dans", "sur"],
    "zh": ["de", "le", "he", "shi", "zai", "you", "wo", "ta", "men", "bu"],
}

ALL_STOPWORDS = sorted({w for ws in STOPWORDS.values() for w in ws})


def _tokens(text: Column) -> Column:
    return F.split(F.lower(F.trim(text)), TOKEN_SPLIT)


def _sql_tokens(text: str) -> str:
    return f"regexp_split_to_array(lower(trim({text})), '{TOKEN_SPLIT}')"


def _hits(tokens: Column, words: list[str]) -> Column:
    return F.size(F.filter(tokens, lambda t: t.isin(*words)))  # noqa: B023


def _sql_hits(tokens: str, words: list[str]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({tokens}, t -> t IN ({inlist})))"


def token_stats(text: Column) -> dict[str, Column]:
    """n_tokens (whitespace), n_chars, mean token length, punct ratio,
    stopword ratio — the quality-filter raw features."""
    toks = _tokens(text)
    n_tokens = F.size(toks)
    n_chars = F.length(text)
    sum_tok_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    # punct count = len(text) - len(text with punct chars removed)
    n_punct = n_chars - F.length(F.regexp_replace(text, PUNCT_CLASS, ""))
    stop_hits = _hits(toks, ALL_STOPWORDS)
    return {
        "n_tokens": n_tokens,
        "n_chars": n_chars,
        "mean_token_len": sum_tok_len.cast("double") / n_tokens.cast("double"),
        "punct_ratio": n_punct.cast("double") / n_chars.cast("double"),
        "stopword_ratio": stop_hits.cast("double") / n_tokens.cast("double"),
    }


def sql_token_stats(text: str) -> dict[str, str]:
    toks = _sql_tokens(text)
    inlist = ", ".join(f"'{w}'" for w in ALL_STOPWORDS)
    return {
        "n_tokens": f"len({toks})",
        "n_chars": f"length({text})",
        "mean_token_len": (
            f"CAST(list_sum(list_transform({toks}, t -> length(t))) AS DOUBLE)"
            f" / CAST(len({toks}) AS DOUBLE)"
        ),
        "punct_ratio": (
            f"CAST(length({text}) - length(regexp_replace({text}, '{PUNCT_CLASS}', '', 'g')) AS DOUBLE)"
            f" / CAST(length({text}) AS DOUBLE)"
        ),
        "stopword_ratio": (
            f"CAST(len(list_filter({toks}, t -> t IN ({inlist}))) AS DOUBLE)"
            f" / CAST(len({toks}) AS DOUBLE)"
        ),
    }


def quality_score(text: Column) -> Column:
    """Composite quality score in [0, 1]: Gopher/C4-style combination of
    length band, stopword presence, and punctuation sanity.

    score = 0.4 * I(50 <= n_chars <= 10000)
          + 0.3 * min(stopword_ratio * 5, 1)
          + 0.3 * (1 - min(punct_ratio * 4, 1))
    """
    s = token_stats(text)
    len_ok = ((s["n_chars"] >= 50) & (s["n_chars"] <= 10000)).cast("double")
    stop_term = F.least(s["stopword_ratio"] * 5.0, F.lit(1.0))
    punct_term = 1.0 - F.least(s["punct_ratio"] * 4.0, F.lit(1.0))
    return 0.4 * len_ok + 0.3 * stop_term + 0.3 * punct_term


def sql_quality_score(text: str) -> str:
    s = sql_token_stats(text)
    return (
        f"0.4 * CAST(length({text}) BETWEEN 50 AND 10000 AS DOUBLE)"
        f" + 0.3 * LEAST(({s['stopword_ratio']}) * 5.0, 1.0)"
        f" + 0.3 * (1.0 - LEAST(({s['punct_ratio']}) * 4.0, 1.0))"
    )


def language_id(text: Column) -> Column:
    """Stopword-hit language classifier: distinct-stopword hit count per
    language, argmax with deterministic lexicographic tie-break
    ('und' = undetermined when no list hits)."""
    toks = _tokens(text)
    scores = {lang: _hits(toks, ws) for lang, ws in sorted(STOPWORDS.items())}
    # CASE chain in fixed lang order: first lang whose score is >= all others
    langs = sorted(scores)
    expr = F.lit("und")
    # build from last to first so earlier langs win ties
    for lang in reversed(langs):
        cond = scores[lang] > 0
        for other in langs:
            if other != lang:
                cond = cond & (scores[lang] >= scores[other])
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def sql_language_id(text: str) -> str:
    toks = _sql_tokens(text)
    scores = {lang: _sql_hits(toks, ws) for lang, ws in sorted(STOPWORDS.items())}
    langs = sorted(scores)
    expr = "'und'"
    for lang in reversed(langs):
        conds = [f"({scores[lang]}) > 0"] + [
            f"({scores[lang]}) >= ({scores[o]})" for o in langs if o != lang
        ]
        expr = f"CASE WHEN {' AND '.join(conds)} THEN '{lang}' ELSE {expr} END"
    return expr


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles (distinct), the MinHash/Jaccard unit."""
    toks = _tokens(text)
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    # guard: Spark sequence(1, x<1) counts DOWN (e.g. [1, 0]) where the SQL
    # twin's range(1, x+1) is empty — short docs must yield no shingles
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
        ),
    ).otherwise(F.array().cast("array<string>"))


def sql_shingles(text: str, n: int = 3) -> str:
    toks = _sql_tokens(text)
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len({toks}) - {n - 1}, 0) + 1),"
        f" i -> array_to_string({toks}[i:i+{n - 1}], ' ')))"
    )


def doc_fingerprint(text: Column, n: int = 3) -> dict[str, Column]:
    """Exact fingerprint (md5 of normalized text) + content fingerprint
    (lexicographic-min md5 over word shingles — a 1-hash MinHash, stable
    under reordering-free edits)."""
    sh = shingles(text, n)
    return {
        "md5_norm": F.md5(F.lower(F.trim(text))),
        "minhash1": F.array_min(F.transform(sh, lambda s: F.md5(s))),
    }


def sql_doc_fingerprint(text: str, n: int = 3) -> dict[str, str]:
    sh = sql_shingles(text, n)
    return {
        "md5_norm": f"md5(lower(trim({text})))",
        "minhash1": f"list_min(list_transform({sh}, s -> md5(s)))",
    }


def text_features(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """All text-analysis features, staged so the expensive pieces are
    computed once per row.

    A single flat projection re-derives the tokenize/filter chain inside
    every reference (higher-order functions are interpreted — no
    common-subexpression elimination or codegen), so the language-ID
    CASE chain alone costs ~25 splits per row. Staged projections hold
    as boundaries because each intermediate column is non-cheap and
    referenced more than once (CollapseProject keeps them). The final
    values are the exact same expression trees, so oracle hashes are
    unchanged.
    """
    t = F.col(text_col)
    # stage 1: tokenize once
    s1 = df.select(id_col, t.alias("_text"), _tokens(t).alias("_toks"))
    # stage 2: per-language hits, token stats raw terms, shingles
    toks = F.col("_toks")
    s2 = s1.select(
        id_col, "_text", "_toks",
        F.size(toks).alias("_n_tokens"),
        F.length("_text").alias("_n_chars"),
        F.aggregate(F.transform(toks, lambda x: F.length(x)), F.lit(0),
                    lambda a, x: a + x).alias("_sum_tok_len"),
        (F.length("_text")
         - F.length(F.regexp_replace("_text", PUNCT_CLASS, ""))).alias("_n_punct"),
        _hits(toks, ALL_STOPWORDS).alias("_stop_hits"),
        *[_hits(toks, ws).alias(f"_h_{lang}")
          for lang, ws in sorted(STOPWORDS.items())],
        F.when(
            F.size(toks) >= 3,
            F.array_distinct(
                F.transform(F.sequence(F.lit(1), F.size(toks) - 2),
                            lambda i: F.concat_ws(" ", F.slice(toks, i, 3)))
            ),
        ).otherwise(F.array().cast("array<string>")).alias("_sh"),
    )
    # stage 3: final arithmetic over the materialized columns
    n_tokens, n_chars = F.col("_n_tokens"), F.col("_n_chars")
    punct_ratio = F.col("_n_punct").cast("double") / n_chars.cast("double")
    stop_ratio = F.col("_stop_hits").cast("double") / n_tokens.cast("double")
    len_ok = ((n_chars >= 50) & (n_chars <= 10000)).cast("double")
    quality = (0.4 * len_ok
               + 0.3 * F.least(stop_ratio * 5.0, F.lit(1.0))
               + 0.3 * (1.0 - F.least(punct_ratio * 4.0, F.lit(1.0))))
    langs = sorted(STOPWORDS)
    lang_expr = F.lit("und")
    for lang in reversed(langs):
        cond = F.col(f"_h_{lang}") > 0
        for other in langs:
            if other != lang:
                cond = cond & (F.col(f"_h_{lang}") >= F.col(f"_h_{other}"))
        lang_expr = F.when(cond, F.lit(lang)).otherwise(lang_expr)
    return s2.select(
        id_col,
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars"),
        (F.col("_sum_tok_len").cast("double") / n_tokens.cast("double")
         ).alias("mean_token_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality"),
        lang_expr.alias("lang_pred"),
        F.md5(F.lower(F.trim("_text"))).alias("md5_norm"),
        F.array_min(F.transform("_sh", lambda s: F.md5(s))).alias("minhash1"),
    )


def chunk_documents(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 128,
    overlap: int = 0,
) -> DataFrame:
    """Split documents into fixed-token-count chunks (with optional
    token overlap between consecutive chunks) →
    ``(doc_id, chunk_id, n_chunk_tokens, chunk_text)``.

    The pre-tokenization sharding pass of a training pipeline: long
    documents become bounded units so downstream per-row work (BPE,
    embedding, dedup) has bounded memory and skew. Pure Catalyst —
    tokenize once, then one ``transform(sequence(...))`` over chunk
    starts and an ``explode``; a projection with no shuffle and no
    Python, so it composes with any scan at 100 TB. Chunk ``i`` covers
    tokens ``[i·stride, i·stride + chunk_tokens)`` with
    ``stride = chunk_tokens − overlap``; the last chunk may be short
    but is never empty. NULL docs yield no rows; an empty/whitespace
    doc tokenizes to a single empty token (the tokenizer's convention,
    shared with token_stats and both engines' split semantics) and so
    yields one empty-text chunk.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = _tokens(F.col(text_col))
    n = F.size(toks)
    # number of chunks: ceil((n - overlap) / stride), at least 1 when
    # the doc has any token at all
    n_chunks = F.when(n > 0, F.ceil((n - F.lit(overlap))
                                    / F.lit(float(stride))).cast("int"))
    d = df.select(
        F.col(id_col).alias("doc_id"), toks.alias("__toks"),
        F.explode(
            F.when(n > 0,
                   F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))))
            .otherwise(F.array().cast("array<int>"))).alias("chunk_id"))
    sl = F.slice("__toks", F.col("chunk_id") * stride + 1, chunk_tokens)
    return d.select(
        "doc_id", "chunk_id", F.size(sl).alias("n_chunk_tokens"),
        F.concat_ws(" ", sl).alias("chunk_text"))


def sql_chunk_documents(chunk_tokens: int = 128, overlap: int = 0,
                        text: str = "text") -> str:
    """Oracle twin of :func:`chunk_documents` over the documents view."""
    stride = chunk_tokens - overlap
    toks = _sql_tokens(text)
    return f"""
    WITH ck AS (
      SELECT doc_id, {toks} AS toks,
             CAST(CEIL((len({toks}) - {overlap}) / CAST({stride} AS DOUBLE))
                  AS INT) AS n_chunks
      FROM documents WHERE len({toks}) > 0)
    SELECT doc_id, CAST(g.i AS INT) AS chunk_id,
           len(toks[g.i * {stride} + 1 : g.i * {stride} + {chunk_tokens}])
             AS n_chunk_tokens,
           array_to_string(
             toks[g.i * {stride} + 1 : g.i * {stride} + {chunk_tokens}],
             ' ') AS chunk_text
    FROM ck, UNNEST(range(0, GREATEST(n_chunks, 1))) AS g(i)
    """


def token_frequencies(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int | None = None,
    min_count: int = 1,
) -> DataFrame:
    """Corpus vocabulary statistics → ``(token, n_occurrences, n_docs,
    rank)`` — the counting pass under tokenizer training (BPE seed
    vocab, frequency cutoffs) and corpus reporting.

    Pure explode + one groupBy with map-side combine (shuffle volume is
    bounded by per-task distinct-token cardinality, not corpus size).

    Ranking (count desc, token asc) is DISTRIBUTED — a web-scale
    vocabulary never funnels through one task. Each token lands in an
    order-aligned bucket ``(n_occurrences, 2-char token prefix)``
    (prefix order is consistent with binary string order, so buckets
    tile the global sort order); a row_number window runs PER BUCKET in
    parallel, and the global rank is that local position plus the
    exclusive running total of bucket sizes — a cumulative sum over the
    tiny ``(count, prefix) → size`` metadata table (≤ distinct-counts ×
    ~1.4k prefixes rows, orders of magnitude below the vocabulary),
    broadcast back onto the buckets.
    """
    toks = df.select(F.col(id_col).alias("_doc"),
                     F.explode(_tokens(F.col(text_col))).alias("token"))
    g = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("_doc").alias("n_docs"))
    g = g.filter(F.col("n_occurrences") >= min_count)
    g = g.withColumn("_pfx", F.substring("token", 1, 2))
    # r14: the bucket-size branch below is DERIVED from g, and without
    # a materialization Catalyst re-plans the whole corpus tokenize +
    # count for it (two scans and two corpus aggregations in the
    # un-checkpointed plan's explain output). g is vocabulary-sized
    # (Heaps' law, ≪ corpus), so an eager localCheckpoint is a bounded
    # materialization that cuts the corpus work to one pass.
    g = g.localCheckpoint()
    sizes = g.groupBy("n_occurrences", "_pfx").agg(
        F.count(F.lit(1)).alias("_bsz"))
    cum = Window.orderBy(
        F.col("n_occurrences").desc(), F.col("_pfx").asc()
    ).rowsBetween(Window.unboundedPreceding, -1)
    offs = sizes.withColumn(
        "_off", F.coalesce(F.sum("_bsz").over(cum), F.lit(0)))
    if top_k is not None:
        # buckets entirely past top_k never rank (nor shuffle onward)
        offs = offs.filter(F.col("_off") < top_k)
    local = Window.partitionBy("n_occurrences", "_pfx").orderBy(
        F.col("token").asc())
    g = (g.join(F.broadcast(offs.select("n_occurrences", "_pfx", "_off")),
                ["n_occurrences", "_pfx"])
         .withColumn("rank", (F.col("_off")
                              + F.row_number().over(local)).cast("int"))
         .drop("_pfx", "_off"))
    if top_k is not None:
        g = g.filter(F.col("rank") <= top_k)
    return g.select("token", "n_occurrences", "n_docs", "rank")


def sql_token_frequencies(top_k: int, min_count: int = 1) -> str:
    """DuckDB twin of :func:`token_frequencies` — same tokenizer, same
    deterministic order (count desc, token asc; both engines compare
    strings binary for this corpus)."""
    return f"""
    WITH _tf_toks AS (
      SELECT doc_id AS _doc, unnest({_sql_tokens('text')}) AS token
      FROM documents
    ),
    _tf_vocab AS (
      SELECT token, COUNT(*) AS n_occurrences,
             COUNT(DISTINCT _doc) AS n_docs
      FROM _tf_toks GROUP BY token
      HAVING COUNT(*) >= {min_count}
    ),
    _tf_ranked AS (
      SELECT token, n_occurrences, n_docs,
             CAST(ROW_NUMBER() OVER (
               ORDER BY n_occurrences DESC, token ASC) AS INT) AS rank
      FROM _tf_vocab
    )
    SELECT token, n_occurrences, n_docs, rank
    FROM _tf_ranked WHERE rank <= {top_k}
    """


def md5_num(col: Column) -> Column:
    """First 10 hex digits of md5 as a BIGINT (< 16^10 ≈ 1.1e12, exact
    in a double) — a cross-engine numeric fingerprint that lets string
    identities ride the driver gate's numeric union columns. The digit
    fold (acc·16 + d) is mirrored verbatim by :func:`sql_md5_num`."""
    digits = F.transform(
        F.sequence(F.lit(1), F.lit(10)),
        lambda i: (F.instr(F.lit("0123456789abcdef"),
                           F.substring(F.md5(col), 1, 10).substr(i, F.lit(1)))
                   - 1).cast("long"))
    return F.aggregate(digits, F.lit(0).cast("long"),
                       lambda acc, d: acc * 16 + d)


def sql_md5_num(expr: str) -> str:
    return (f"list_reduce(list_transform(range(1, 11),"
            f" i -> CAST(strpos('0123456789abcdef',"
            f" substr(md5({expr}), i, 1)) - 1 AS BIGINT)),"
            f" (acc, d) -> acc * 16 + d)")


# --- PII scrubbing ---------------------------------------------------------

# Patterns chosen to behave identically under Java regex (Spark) and
# RE2 (DuckDB): no backrefs, no lookaround, greedy quantifiers only.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
              "<EMAIL>"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    "phone": (r"\+\d[\d() -]{7,}\d", "<PHONE>"),
}
# deterministic application order: email first (an address contains
# dots a later pattern could chew on), then ip, then phone
PII_ORDER = ["email", "ipv4", "phone"]


def scrub_pii(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    kinds: list[str] | None = None,
) -> DataFrame:
    """Mask PII spans in document text → ``(doc_id, text, n_email,
    n_ipv4, n_phone)`` with each matched span replaced by its
    ``<KIND>`` token — the redaction pass a training pipeline runs
    before anything else sees the text.

    Pure Catalyst (regexp_replace / regexp_extract_all): per-row,
    embarrassingly parallel, no shuffle. The pattern set is the
    standard conservative trio (emails, dotted-quad IPs, intl-prefixed
    phone numbers); extend ``PII_PATTERNS`` for deployment-specific
    ids. Counts are emitted per kind so downstream filters can drop
    high-PII documents instead of just masking them.
    """
    kinds = [k for k in PII_ORDER if kinds is None or k in kinds]
    out = df.select(
        id_col,
        F.col(text_col).alias("__t"),
        *[F.size(F.regexp_extract_all(
            text_col, F.lit(PII_PATTERNS[k][0]), F.lit(0)))
          .alias(f"n_{k}") for k in kinds])
    scrubbed = F.col("__t")
    for k in kinds:
        pat, tok = PII_PATTERNS[k]
        scrubbed = F.regexp_replace(scrubbed, pat, tok)
    return out.select(id_col, scrubbed.alias(text_col),
                      *[f"n_{k}" for k in kinds])


def sql_scrub_pii(kinds: list[str] | None = None) -> str:
    """DuckDB twin (RE2 'g' flag for replace-all)."""
    kinds = [k for k in PII_ORDER if kinds is None or k in kinds]
    scrubbed = "text"
    for k in kinds:
        pat, tok = PII_PATTERNS[k]
        scrubbed = (f"regexp_replace({scrubbed}, '{pat}', "
                    f"'{tok}', 'g')")
    counts = ", ".join(
        f"len(regexp_extract_all(text, '{PII_PATTERNS[k][0]}')) "
        f"AS n_{k}" for k in kinds)
    return (f"SELECT doc_id, {scrubbed} AS text, {counts} "
            "FROM documents")


# --- winnowing fingerprints (rolling hash) --------------------------------

# polynomial rolling-hash parameters: B^k stays far below 2^53 for the
# gate shapes and every intermediate is taken mod M, so Spark BIGINT
# and DuckDB BIGINT arithmetic agree exactly (no overflow on either)
WINNOW_B = 257
WINNOW_M = 2_147_483_647  # 2^31 - 1


def _char_codes(text: Column) -> Column:
    # per-character code points of the normalized text
    return F.transform(
        F.split(F.lower(F.trim(text)), ""),
        lambda ch: F.ascii(ch).cast("long"))


def winnow_fingerprints(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    vectorize_above: int = 2048,
    n_rows: int | None = None,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm) → ``(doc_id, pos, fingerprint)``.

    Hash every k-gram of characters with a polynomial rolling hash mod
    2^31-1, then keep the MINIMUM hash of each window of ``window``
    consecutive k-grams (rightmost minimum, the paper's robust
    winnowing tie-break), distinct per document. Guarantees: any
    shared substring of length >= window+k-1 yields a shared
    fingerprint — the near-dup detection primitive that is robust to
    insertions/reordering where exact hashing is not.

    Two-tier (the assign_cells pattern): at gate scale the rolling
    hash is Catalyst array folds bit-mirrored by the DuckDB twin; above
    ``vectorize_above`` rows an Arrow-batched numpy kernel computes the
    identical values (sliding-window dot with one final mod — stepwise
    ``pmod`` and mod-once are congruent and both land in [0, M), so
    they are EQUAL; the intermediate fits int64: 255·Σ B^j < 2^63 for
    k=5, B=257). Either way: no shuffle until the per-doc distinct,
    embarrassingly parallel over the corpus.
    """
    if int(k) > 7:
        raise ValueError("k > 7 overflows the int64 vectorized kernel "
                         "(255 * sum(B^j) must stay below 2^63)")
    # tier routing needs only a size ESTIMATE — pass n_rows when df is
    # a derived pipeline so the count() doesn't force the whole
    # upstream lineage to evaluate first (the cosine_pairs_lsh escape
    # hatch); on a plain table scan count() is metadata-cheap
    n_corpus = int(n_rows) if n_rows is not None else df.count()
    if n_corpus > vectorize_above:
        return _winnow_vectorized(df, text_col=text_col, id_col=id_col,
                                  k=int(k), window=int(window))
    codes = _char_codes(F.col(text_col))
    n = F.size(codes)
    gram = lambda i: F.aggregate(  # noqa: E731
        F.slice(codes, i, k), F.lit(0).cast("long"),
        lambda acc, c: F.pmod(acc * F.lit(WINNOW_B) + c,
                              F.lit(WINNOW_M)))
    hashes = F.when(
        n >= k,
        F.transform(F.sequence(F.lit(1), n - (k - 1)), gram)
    ).otherwise(F.array().cast("array<long>"))
    d = df.select(F.col(id_col).alias("doc_id"),
                  hashes.alias("__h"))
    nh = F.size(F.col("__h"))
    win = F.when(
        nh >= window,
        F.transform(
            F.sequence(F.lit(1), nh - (window - 1)),
            lambda i: F.struct(
                F.array_min(F.slice(F.col("__h"), i, window))
                .alias("fp"), i.alias("w"))),
    ).otherwise(F.array().cast("array<struct<fp:long,w:int>>"))
    out = d.select("doc_id", F.explode(win).alias("s")) \
        .select("doc_id", F.col("s.fp").alias("fingerprint"),
                F.col("s.w").alias("w"))
    # one row per distinct fingerprint, at its FIRST selecting window
    return (out.groupBy("doc_id", "fingerprint")
            .agg(F.min("w").alias("pos"))
            .select("doc_id", "pos", "fingerprint"))


def _winnow_vectorized(df: DataFrame, *, text_col: str, id_col: str,
                       k: int, window: int) -> DataFrame:
    """numpy route of :func:`winnow_fingerprints` (same values)."""
    import numpy as np
    import pandas as pd
    import pyspark.sql.types as T

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("pos", T.IntegerType()),
        T.StructField("fingerprint", T.LongType())])
    powers = (WINNOW_B ** np.arange(k - 1, -1, -1)).astype(np.int64)

    def batches(it):
        from numpy.lib.stride_tricks import sliding_window_view
        for pdf in it:
            ids, poss, fps = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                t = str(text).strip().lower()
                # UTF-32 decode = one code point per char, exactly the
                # per-char F.ascii of the expression route (not bytes)
                c = np.frombuffer(t.encode("utf-32-le"),
                                  dtype=np.uint32)
                if c.size < k:
                    continue
                grams = (sliding_window_view(c.astype(np.int64), k)
                         @ powers) % WINNOW_M
                if grams.size < window:
                    continue
                wins = sliding_window_view(grams, window).min(axis=1)
                # first selecting window per distinct fingerprint
                fp, first = np.unique(wins, return_index=True)
                ids.append(np.full(fp.size, did, np.int64))
                poss.append((first + 1).astype(np.int32))
                fps.append(fp.astype(np.int64))
            if ids:
                yield pd.DataFrame({
                    "doc_id": np.concatenate(ids),
                    "pos": np.concatenate(poss),
                    "fingerprint": np.concatenate(fps)})

    return df.select(F.col(id_col).alias(id_col),
                     F.col(text_col).alias(text_col))         .mapInPandas(batches, schema)


def sql_winnow_fingerprints(k: int = 5, window: int = 4) -> str:
    """DuckDB twin: same rolling hash (list_reduce fold with pmod at
    every step), same window minima, same first-window position."""
    codes = ("list_transform(regexp_split_to_array("
             "lower(trim(text)), ''), ch -> CAST(ascii(ch) AS BIGINT))")
    # this DuckDB's list_reduce has no init argument: prepend the zero
    # seed so the fold starts from it (first element = accumulator)
    gram = (f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"c[i:i+{k - 1}]), "
            f"(acc, x) -> (acc * {WINNOW_B} + x) % {WINNOW_M})")
    return f"""
    WITH _wf_c AS (
      SELECT doc_id, {codes} AS c FROM documents
    ),
    _wf_h AS (
      SELECT doc_id,
             CASE WHEN len(c) >= {k} THEN
               list_transform(range(1, len(c) - {k - 1} + 1),
                              i -> {gram})
             ELSE [] END AS h
      FROM _wf_c
    ),
    _wf_w AS (
      SELECT doc_id, list_min(h[i:i+{window - 1}]) AS fingerprint,
             CAST(i AS INT) AS w
      FROM _wf_h, UNNEST(range(1, len(h) - {window - 1} + 1)) AS r(i)
      WHERE len(h) >= {window}
    )
    SELECT doc_id, MIN(w) AS pos, fingerprint
    FROM _wf_w GROUP BY doc_id, fingerprint
    """


# --- corpus quality filtering ---------------------------------------------


def filter_documents(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.5,
    languages: list[str] | None = None,
    min_chars: int = 50,
    max_chars: int = 1_000_000,
    max_pii: int | None = None,
) -> DataFrame:
    """C4/Gopher-style corpus filter: annotate every document with
    ``keep`` and the FIRST reject ``reason`` (length_short/length_long/
    quality/language/pii) — filter ``keep`` for the clean corpus, or
    aggregate ``reason`` for the funnel report (see
    :func:`filter_report`).

    One projection over the text column (the staged text_features
    expressions plus the PII counts when ``max_pii`` is set); no
    shuffle, no UDF — the same embarrassingly-parallel contract as
    every op in this module.
    """
    feats = text_features(df, text_col, id_col).select(
        id_col, "n_chars", "quality", "lang_pred")
    out = df.join(feats, id_col)
    if max_pii is not None:
        pii = scrub_pii(df, text_col=text_col, id_col=id_col).select(
            id_col, (F.col("n_email") + F.col("n_ipv4")
                     + F.col("n_phone")).alias("__n_pii"))
        out = out.join(pii, id_col)
    else:
        out = out.withColumn("__n_pii", F.lit(0))
    reason = (
        F.when(F.col("n_chars") < min_chars, "length_short")
        .when(F.col("n_chars") > max_chars, "length_long")
        .when(F.col("quality") < min_quality, "quality"))
    if languages is not None:
        reason = reason.when(~F.col("lang_pred").isin(list(languages)),
                             "language")
    if max_pii is not None:
        reason = reason.when(F.col("__n_pii") > max_pii, "pii")
    out = out.withColumn("reason", reason).withColumn(
        "keep", F.col("reason").isNull()).drop("__n_pii")
    return out


def filter_report(filtered: DataFrame) -> DataFrame:
    """Funnel report over :func:`filter_documents` output: docs per
    outcome, ordered kept-first."""
    return (filtered.groupBy(
        F.coalesce("reason", F.lit("kept")).alias("outcome"))
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").alias("n_chars"))
        .orderBy(F.col("outcome") != "kept", "outcome"))

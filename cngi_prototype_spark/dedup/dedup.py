"""Deduplication operators.

Hashing that the ORACLE must reproduce is md5-hex-string based (both
engines emit identical lowercase hex; string min and binary collation
agree); hashing that only partitions work — join keys, fingerprints
whose grouping the twin can reproduce by grouping on the raw value —
uses 8-byte ``xxhash64`` (see ``remove_duplicate_spans``). A MinHash here is the lexicographic MIN of
``md5(seed || '|' || shingle)`` — an order-statistic on a keyed hash,
exactly the classic construction with strings instead of 64-bit ints.

Scale design (100 TB):
- exact_dedup: one hash agg on md5(text) — map-side combine shrinks to
  distinct-hash cardinality before the shuffle.
- minhash + LSH banding: signatures are a projection (no shuffle);
  banding groups by (band, band_hash) — candidate generation touches
  only bucket collisions, never the n^2 pair space. The self-join per
  bucket is bounded by bucket width; hot buckets (boilerplate docs) are
  the skew risk — AQE skew-join handles moderate cases, and a bucket
  cap (drop buckets larger than `max_bucket`) is the standard guardrail.
- ngram_jaccard_pairs: exact verification for candidate pairs; the
  all-pairs form is for small n / oracle checks only.
- simhash: per-token bit votes aggregated per doc — explode + groupBy
  (one shuffle keyed by doc, map-side combinable).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cngi_prototype_spark.text.analysis import _sql_tokens, _tokens, shingles, sql_shingles


# --- exact ---------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct normalized text
    with copy count and canonical (min) id."""
    h = F.md5(F.lower(F.trim(F.col(text_col))))
    return (
        df.select(F.col(id_col), h.alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias("canonical_id"))
    )


SQL_EXACT_DEDUP = """
    SELECT md5(lower(trim(text))) AS text_hash,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS canonical_id
    FROM documents GROUP BY 1
"""


# --- MinHash + LSH ---------------------------------------------------------

def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 8, shingle_n: int = 3,
) -> DataFrame:
    """MinHash signature: for seed i, min over shingles of
    md5(i || '|' || shingle). Pure projection — no shuffle.

    The shingle array is materialized once through a projection boundary
    before the per-seed transforms: without it Catalyst re-derives the
    tokenize+concat shingle construction inside every one of the
    num_hashes array transforms (8× the string work)."""
    shingled = df.select(F.col(id_col),
                         shingles(F.col(text_col), shingle_n).alias("__sh"))
    sig = [
        F.array_min(
            F.transform(F.col("__sh"),
                        lambda s: F.md5(F.concat(F.lit(f"{i}|"), s)))  # noqa: B023
        ).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return shingled.select(F.col(id_col), *sig)


def sql_minhash_signatures(num_hashes: int = 8, shingle_n: int = 3) -> str:
    sh = sql_shingles("text", shingle_n)
    sig = ", ".join(
        f"list_min(list_transform({sh}, s -> md5(concat('{i}|', s)))) AS mh{i}"
        for i in range(num_hashes)
    )
    return f"SELECT doc_id, {sig} FROM documents"


def minhash_lsh_candidates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 8, bands: int = 4, shingle_n: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """LSH banding: band hash = md5 of the band's signature slice;
    candidate pairs share >= 1 band bucket. Returns distinct (id_a, id_b)
    with id_a < id_b.

    ``max_bucket`` drops degenerate buckets (boilerplate/empty docs) that
    would otherwise produce quadratic blowup — the standard guardrail at
    scale.
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    band_cols = [
        F.md5(F.concat_ws("|", *[F.col(f"mh{b * rows_per_band + r}")
                                 for r in range(rows_per_band)])).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sigs.select(id_col, *band_cols)
    melted = banded.select(
        id_col,
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("bhash"))
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bhash")
    # r14 plan shape: ONE corpus-sized shuffle. The old form window-
    # counted buckets (corpus shuffle #1) and self-joined the sized
    # table (the whole melted subtree re-derived per side — two corpus
    # scans — plus join shuffle #2). Grouping each bucket's ids into a
    # sorted array instead yields the identical pair set: within a
    # bucket every id appears once (melted has one row per (doc,
    # band)), so in-bucket (i < j) combinations over the sorted array
    # are exactly the id_a < id_b pairs, and the bucket-size guardrail
    # becomes a size() filter on the same count.
    #
    # r15 memory guardrail: filtering AFTER the agg would still BUILD a
    # degenerate bucket's full id array in one task's aggregation
    # buffer before the size() filter discards it — unbounded memory
    # under mass-duplicated boilerplate. A window count over the SAME
    # keys the groupBy shuffles on applies the bucket filter BEFORE
    # collect_list (cosine_pairs_lsh's design): the window's buffer is
    # a spillable sort, the partitioning is established once (no second
    # exchange — the groupBy reuses it), and collect_list then only ever
    # sees buckets <= max_bucket. Same single corpus shuffle, same pair
    # set (the window count equals size(_ids) — one melted row per
    # (doc, band)). The window runs for every input: no size estimate
    # can switch the cap off.
    sized = melted.withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy("band", "bhash")))
    buckets = (sized.filter((F.col("_n") >= 2)
                            & (F.col("_n") <= max_bucket))
               .groupBy("band", "bhash")
               .agg(F.sort_array(F.collect_list(F.col(id_col)))
                    .alias("_ids")))
    return (buckets
            .select(F.col("_ids"),
                    F.posexplode("_ids").alias("_i", "id_a"))
            .select("id_a",
                    F.explode(F.slice(F.col("_ids"), F.col("_i") + 2,
                                      F.size("_ids"))).alias("id_b"))
            .distinct())


def sql_minhash_lsh_candidates(num_hashes: int = 8, bands: int = 4,
                               shingle_n: int = 3) -> str:
    rows_per_band = num_hashes // bands
    band_exprs = ", ".join(
        "md5(concat_ws('|', "
        + ", ".join(f"mh{b * rows_per_band + r}" for r in range(rows_per_band))
        + f")) AS band{b}"
        for b in range(bands)
    )
    unions = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, band{b} AS bhash FROM banded"
        for b in range(bands)
    )
    return f"""
    WITH sigs AS ({sql_minhash_signatures(num_hashes, shingle_n)}),
    banded AS (SELECT doc_id, {band_exprs} FROM sigs),
    melted AS ({unions})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM melted a JOIN melted b ON a.band = b.band AND a.bhash = b.bhash
    WHERE a.doc_id < b.doc_id
    """


def sql_dedup_minhash_verified(num_hashes: int = 8, bands: int = 4,
                               shingle_n: int = 3,
                               threshold: float = 0.05) -> str:
    """Oracle for the LSH-candidates -> exact-Jaccard verify pipeline.

    Composes the candidates CTE with the integer-ratio Jaccard (same
    ratio both engines compute from the same distinct shingle sets, so
    it hash-matches bit-for-bit). The Spark path's ``max_bucket``
    guardrail is inert at oracle scale (no sf0.01 bucket approaches it),
    matching the already-gated ``minhash_lsh_candidates`` oracle.
    """
    sh = sql_shingles("text", shingle_n)
    jac = ("CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)"
           " / (CAST(len(a.sh) + len(b.sh) AS DOUBLE)"
           " - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE))")
    guard = ("(CAST(len(a.sh) + len(b.sh) AS DOUBLE)"
             " - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) > 0")
    return f"""
    WITH cand AS ({sql_minhash_lsh_candidates(num_hashes, bands, shingle_n)}),
    sh AS (SELECT doc_id, {sh} AS sh FROM documents)
    SELECT c.id_a, c.id_b,
           CASE WHEN {guard} THEN {jac} ELSE 0.0 END AS jaccard
    FROM cand c
    JOIN sh a ON a.doc_id = c.id_a
    JOIN sh b ON b.doc_id = c.id_b
    WHERE CASE WHEN {guard} THEN {jac} ELSE 0.0 END >= {threshold}
    """


# --- n-gram Jaccard --------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    shingle_n: int = 3, threshold: float = 0.2,
    candidates: DataFrame | None = None,
    per_pair_shingle: bool | None = None,
) -> DataFrame:
    """Exact Jaccard over distinct word-n-gram sets.

    With ``candidates`` (e.g. from LSH) computes only those pairs — the
    scale path. Without, all pairs (oracle/small-n only). jaccard =
    |A∩B| / (|A| + |B| - |A∩B|), an integer ratio: bit-identical across
    engines, no rounding needed.

    ``per_pair_shingle`` picks the verification plan shape (values
    identical either way):

    - False — two whole-corpus shingle tables join to the pair list.
      Wins while the corpus is small enough that two extra shingle
      passes are cheaper than pushing text payloads through the pair
      joins (measured: 1.8 s vs 3.0 s at 5k docs, 6.3 s vs 14.7 s at
      50k).
    - True — the candidate list is the join spine: raw text joins in
      per side and shingles are computed per PAIR row, so the
      corpus-sized scans disappear entirely (a doc in k pairs shingles
      k times, bounded by ``max_bucket`` fan-out). Wins once the
      corpus dwarfs the candidate set (measured: 36 s vs 68 s at 500k
      docs — the 100x rung; the gap only widens with corpus size).
    - None (default) — decide by Catalyst's size estimate
      (``estimated_size_bytes``, no job) against 24 MiB, the measured
      ~200k-doc crossover at ~118 B/doc; an unavailable estimate takes
      the per-pair branch. Callers that know their corpus size can
      pass the bool.

    Rejected alternative: persisting the candidate set and semi-join
    restricting the shingle tables measured fastest of all, but
    ``.persist()`` inside an operator registers the plan with Spark's
    CacheManager, which then silently substitutes the cached rows into
    ANY later query with a matching subplan — round 12 caught a
    benchmark rung reading a prior query's cache. Operators here never
    persist what they return or consume.
    """
    if candidates is not None:
        if per_pair_shingle is None:
            # r14: decide from Catalyst's size estimate instead of a
            # count() job — the old form paid a full corpus pass (scan
            # + the _docs repartition) at every plan build. The
            # measured ~200k-doc crossover corresponds to ~24 MB under
            # Catalyst's estimator on the bench corpus (~118 B/doc);
            # the branch choice affects only plan shape — values are
            # identical either way (docstring above), so an estimate
            # is safe where a count was overkill. r15: the raw _jdf
            # access moved behind plans.inspect.estimated_size_bytes
            # (documented estimator blind spots + version-drift
            # fallback); both an ExistingRDD input (Long.Max estimate)
            # and an unavailable estimate land on the per-pair branch —
            # the corpus-scale-safe shape.
            from cngi_prototype_spark.plans.inspect import (
                estimated_size_bytes,
            )

            size = estimated_size_bytes(df)
            per_pair_shingle = size is None or size > 24 * 2**20
        if per_pair_shingle:
            a = df.select(F.col(id_col).alias("id_a"),
                          F.col(text_col).alias("_ta"))
            b = df.select(F.col(id_col).alias("id_b"),
                          F.col(text_col).alias("_tb"))
            pairs = (candidates.join(a, "id_a").join(b, "id_b")
                     .withColumn("sh_a",
                                 shingles(F.col("_ta"), shingle_n))
                     .withColumn("sh_b",
                                 shingles(F.col("_tb"), shingle_n)))
        else:
            sh = df.select(F.col(id_col),
                           shingles(F.col(text_col), shingle_n)
                           .alias("sh"))
            a = sh.select(F.col(id_col).alias("id_a"),
                          F.col("sh").alias("sh_a"))
            b = sh.select(F.col(id_col).alias("id_b"),
                          F.col("sh").alias("sh_b"))
            pairs = candidates.join(a, "id_a").join(b, "id_b")
        inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
        jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
        return (pairs.withColumn("jaccard", jac)
                .filter(F.col("jaccard") >= threshold)
                .select("id_a", "id_b", "jaccard"))

    # all-pairs path via shingle inverted index: pairs sharing >= 1
    # shingle are generated by a shingle-key equi-join (cost = sum of
    # per-shingle doc-frequency squared, NOT |docs|^2), the common count
    # is one hash aggregation, and sizes join back broadcast. With
    # threshold > 0 pairs sharing nothing are correctly absent. The
    # jaccard value is the same integer ratio as array_intersect (the
    # shingle arrays are distinct sets), so the oracle hash-matches.
    if threshold <= 0:
        raise ValueError("all-pairs ngram_jaccard requires threshold > 0")
    sh = df.select(
        F.col(id_col), shingles(F.col(text_col), shingle_n).alias("sh")
    )
    # join on xxhash64 of the shingle: 8-byte shuffle keys instead of
    # strings (counts are unchanged short of a 2^-64 collision; the
    # oracle intersects the actual string sets, so a collision would
    # surface as a gate mismatch rather than pass silently).
    # explode_outer, not explode: plain explode makes the optimizer
    # infer a size(sh)>0 filter that predicate-pushdown then sinks
    # below the repartition onto the (single-file) scan, evaluating the
    # whole tokenize+shingle expression serially on one task.
    ex = (sh.select(F.col(id_col).alias("_id"), F.explode_outer("sh").alias("_raw"))
          .filter(F.col("_raw").isNotNull())
          .select("_id", F.xxhash64("_raw").alias("_s")))
    ea = ex.select(F.col("_id").alias("id_a"), "_s")
    eb = ex.select(F.col("_id").alias("id_b"), "_s")
    common = (ea.join(eb, "_s").filter(F.col("id_a") < F.col("id_b"))
              .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("_inter")))
    sizes = F.broadcast(sh.select(F.col(id_col), F.size("sh").alias("_sz")))
    joined = (common
              .join(sizes.select(F.col(id_col).alias("id_a"), F.col("_sz").alias("_sza")), "id_a")
              .join(sizes.select(F.col(id_col).alias("id_b"), F.col("_sz").alias("_szb")), "id_b"))
    inter = F.col("_inter").cast("double")
    union = (F.col("_sza") + F.col("_szb")).cast("double") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (joined.withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def sql_ngram_jaccard_pairs(shingle_n: int = 3, threshold: float = 0.2) -> str:
    sh = sql_shingles("text", shingle_n)
    return f"""
    WITH sh AS (SELECT doc_id, {sh} AS sh FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CASE WHEN (CAST(len(a.sh) + len(b.sh) AS DOUBLE)
                      - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) > 0
                THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / (CAST(len(a.sh) + len(b.sh) AS DOUBLE)
                        - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE))
                ELSE 0.0 END AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CASE WHEN (CAST(len(a.sh) + len(b.sh) AS DOUBLE)
                     - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) > 0
               THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / (CAST(len(a.sh) + len(b.sh) AS DOUBLE)
                       - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE))
               ELSE 0.0 END >= {threshold}
    """


# --- SimHash ---------------------------------------------------------------

SIMHASH_BITS = 32


def _hex_digit_val(ch: Column) -> Column:
    return F.instr(F.lit("0123456789abcdef"), ch) - 1


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """SimHash: per-token md5, take ``bits`` leading bits, majority vote
    per bit position across tokens; fingerprint emitted as a bit string
    (cross-engine-safe; no 64-bit integer casts needed).

    Shape: explode tokens -> one groupBy(doc) with ``bits`` conditional
    sums — a single shuffle with map-side combine.
    """
    # explode_outer + isNotNull: see ngram_jaccard_pairs — plain explode
    # infers a pushable size()>0 filter that serializes the split onto
    # the single-file scan task.
    toks = df.select(
        F.col(id_col), F.explode_outer(_tokens(F.col(text_col))).alias("tok")
    ).filter(F.col("tok").isNotNull()).withColumn("h", F.md5("tok"))
    votes = [
        F.sum(
            (
                F.shiftright(
                    _hex_digit_val(F.substring("h", 1 + b // 4, 1)), 3 - b % 4
                ) % 2
            ) * 2 - 1
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    fp = F.concat(*[F.when(F.col(f"v{b}") > 0, "1").otherwise("0") for b in range(bits)])
    return agg.select(F.col(id_col), fp.alias("simhash"))


def sql_simhash_fingerprints(bits: int = SIMHASH_BITS) -> str:
    toks = _sql_tokens("text")
    votes = ", ".join(
        "SUM(((("
        f"strpos('0123456789abcdef', substr(h, {1 + b // 4}, 1)) - 1"
        f") // {2 ** (3 - b % 4)}) % 2) * 2 - 1) AS v{b}"
        for b in range(bits)
    )
    fp = " || ".join(f"CASE WHEN v{b} > 0 THEN '1' ELSE '0' END" for b in range(bits))
    return f"""
    WITH toks AS (
      SELECT doc_id, md5(t.tok) AS h
      FROM (SELECT doc_id, unnest({toks}) AS tok FROM documents) t
    ),
    agg AS (SELECT doc_id, {votes} FROM toks GROUP BY doc_id)
    SELECT doc_id, {fp} AS simhash FROM agg
    """


# --- duplicate-cluster resolution ------------------------------------------

def duplicate_clusters(
    pairs_df: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    driver_max_edges: int = 4_000_000,
) -> DataFrame:
    """Connected components over verified duplicate pairs → one row per
    member ``(doc_id, canonical_id)``, canonical = min doc id in the
    component — the standard final step of corpus dedup (cluster the
    near-dup graph, keep one canonical document per cluster).

    Spark shape: iterative min-label propagation with POINTER JUMPING —
    each sweep takes the neighborhood min (one shuffle join, partial
    aggs map-side) and then shortcuts each node's label to its label's
    label, halving remaining path lengths, so convergence is
    O(log diameter): a 2^max_iter-long chain still converges within
    ``max_iter`` sweeps. The driver loop stops at the fixpoint (count
    of changed labels = 0); exhausting ``max_iter`` without one RAISES
    rather than silently returning split components. Each sweep scales
    with the pair count, not the corpus; labels are localCheckpoint-ed
    per sweep — the jump's self-join DOUBLES the logical plan each
    iteration, so persist alone (which caches data but keeps the full
    lineage for planning) blows the driver heap by ~sweep 7; truncating
    the lineage is mandatory, not an optimization.
    """
    edges = (pairs_df.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
             .unionByName(pairs_df.select(F.col(id_b).alias("src"),
                                          F.col(id_a).alias("dst"))))
    # materialize the edge list ONCE: every sweep joins against it, and
    # without this the whole upstream pair pipeline (LSH, verification,
    # blocked matmuls...) re-executes per sweep — measured 6.3 s of a
    # 6.8 s semantic_dedup at sf0.1 for 297 pairs. Size is 2x the pair
    # count, the bounded quantity this operator is designed around.
    edges = edges.localCheckpoint(eager=True)
    # hybrid, same rationale as a broadcast-join threshold: below
    # driver_max_edges the whole graph fits in driver memory trivially
    # (edges are the BOUNDED quantity — verified near-dup pairs, not
    # the corpus), and union-find there replaces ~3 sweeps x 2 jobs of
    # pure scheduling overhead with one bounded collect. Identical
    # output (min id per component). The distributed pointer-jumping
    # path below is the >4M-edge scale route.
    n_edges = edges.count()
    integral_ids = all(
        f.dataType.typeName() in ("long", "integer", "short", "byte")
        for f in edges.schema.fields)
    if n_edges <= driver_max_edges and integral_ids:
        # the driver union-find emits long ids; non-integral id types
        # (string doc ids) stay on the type-preserving distributed path
        return _components_driver(edges)
    labels = (edges.select(F.col("src").alias("node"))
              .distinct()
              .withColumn("label", F.col("node")))
    converged = False
    for _ in range(max_iter):
        neigh = (edges.join(labels, edges.dst == labels.node)
                 .groupBy("src").agg(F.min("label").alias("_nl")))
        # the sweep carries the PREVIOUS label (_pl) alongside, so the
        # convergence check is a filter over the checkpointed result —
        # not a separate join job per sweep (pure overhead when
        # components are tiny relative to task scheduling)
        stepped = (labels.join(neigh, labels.node == neigh.src, "left")
                   .select(F.col("node"),
                           F.col("label").alias("_pl"),
                           F.least(F.col("label"),
                                   F.coalesce(F.col("_nl"),
                                              F.col("label")))
                           .alias("label")))
        # pointer jump: label <- min(label, label[label])
        lab2 = stepped.select(F.col("node").alias("_jn"),
                              F.col("label").alias("_jl"))
        new_full = (stepped.join(lab2, stepped.label == lab2._jn, "left")
                    .select(F.col("node"), F.col("_pl"),
                            F.least(F.col("label"),
                                    F.coalesce(F.col("_jl"),
                                               F.col("label")))
                            .alias("label")))
        new_full = new_full.localCheckpoint(eager=True)
        changed = new_full.filter(F.col("label") != F.col("_pl")).count()
        labels = new_full.select("node", "label")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"duplicate_clusters did not reach a fixpoint in {max_iter} "
            f"sweeps (component diameter > 2^{max_iter}?) — raise max_iter")
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("label").alias("canonical_id"))


def _components_driver(edges: DataFrame) -> DataFrame:
    """Union-find with path compression over a collected edge list →
    (doc_id, canonical_id), canonical = min member id. Bit-identical to
    the distributed min-label fixpoint."""
    pdf = edges.select("src", "dst").toPandas()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(pdf["src"].to_numpy(), pdf["dst"].to_numpy()):
        a, b = int(a), int(b)
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min id so the root IS the canonical label
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    rows = [(n, find(n)) for n in parent]
    spark = edges.sparkSession
    return spark.createDataFrame(rows, "doc_id long, canonical_id long")


def sql_duplicate_clusters(pairs_sql: str) -> str:
    """Recursive-CTE oracle: min reachable id per node over the
    undirected pair graph (transitive closure, fine at gate scale)."""
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(node, r) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM edges)
      UNION
      SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.r
    )
    SELECT node AS doc_id, MIN(r) AS canonical_id
    FROM reach GROUP BY node
    """


# --- Benchmark decontamination ---------------------------------------------


def ngram_contamination(
    docs: DataFrame,
    bench: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    bench_id_col: str = "doc_id",
    shingle_n: int = 8,
    min_overlap: int = 1,
    exclude_self: bool = True,
) -> DataFrame:
    """Benchmark decontamination: which corpus documents share word
    n-grams with a held-out benchmark/eval set, and how much →
    ``(doc_id, bench_id, n_overlap, doc_ngrams, overlap_frac)``.

    The standard training-data hygiene pass (the GPT-3 appendix-C /
    PaLM-style 13-gram decontamination, here parameterized by
    ``shingle_n``): a corpus doc is flagged when at least
    ``min_overlap`` of its distinct n-grams appear in a benchmark doc.

    Scale shape: the benchmark side is small by construction, so its
    exploded gram set BROADCASTS and the probe over the corpus grams is
    a map-side hash join — no corpus shuffle until the bounded
    (doc, bench) pair aggregation. The corpus side is a pure
    projection + explode; ``doc_ngrams`` rides the exploded rows so no
    second pass over the corpus is needed. ``overlap_frac`` is an
    integer ratio (bit-identical across engines, like jaccard).
    ``exclude_self`` drops same-id pairs so a benchmark stored inside
    the corpus doesn't flag itself.
    """
    # join on xxhash64 of the gram, not the string: 8-byte broadcast
    # keys and hash-compare probes (measured ~40% of the sf0.1 runtime
    # was string hashing/compares). Counts are unchanged short of a
    # 2^-64 collision; the oracle twin joins the actual strings, so a
    # collision would surface as a gate mismatch rather than pass
    # silently (the ngram_jaccard inverted index sets the precedent).
    d = docs.select(F.col(id_col).alias("doc_id"),
                    shingles(F.col(text_col), shingle_n).alias("__sh"))
    dg = d.select(
        "doc_id", F.size("__sh").alias("doc_ngrams"),
        F.explode(F.transform("__sh", lambda g: F.xxhash64(g))).alias("gram"))
    bg = bench.select(
        F.col(bench_id_col).alias("bench_id"),
        F.explode(F.transform(
            shingles(F.col(bench_text_col), shingle_n),
            lambda g: F.xxhash64(g))).alias("gram"))
    ov = dg.join(F.broadcast(bg), "gram")
    if exclude_self:
        ov = ov.filter(F.col("doc_id") != F.col("bench_id"))
    return (ov.groupBy("doc_id", "bench_id")
            .agg(F.count(F.lit(1)).alias("n_overlap"),
                 F.min("doc_ngrams").alias("doc_ngrams"))
            .filter(F.col("n_overlap") >= min_overlap)
            .withColumn("overlap_frac",
                        F.col("n_overlap").cast("double")
                        / F.col("doc_ngrams").cast("double")))


def sql_ngram_contamination(shingle_n: int = 8, min_overlap: int = 1,
                            bench_pred: str = "doc_id % 13 = 0") -> str:
    """Oracle twin: the benchmark set is the ``bench_pred`` subset of
    the documents table (the gate's stand-in for a separate eval
    table)."""
    sh = sql_shingles("text", shingle_n)
    return f"""
    WITH cd AS (SELECT doc_id, {sh} AS sh FROM documents),
    cdg AS (SELECT doc_id, len(sh) AS doc_ngrams, UNNEST(sh) AS gram
            FROM cd),
    cbg AS (SELECT doc_id AS bench_id, UNNEST(sh) AS gram
            FROM cd WHERE {bench_pred})
    SELECT g.doc_id, b.bench_id,
           COUNT(*) AS n_overlap, MIN(g.doc_ngrams) AS doc_ngrams,
           CAST(COUNT(*) AS DOUBLE) / CAST(MIN(g.doc_ngrams) AS DOUBLE)
             AS overlap_frac
    FROM cdg g JOIN cbg b ON b.gram = g.gram
    WHERE g.doc_id <> b.bench_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= {min_overlap}
    """


# --- end-to-end corpus dedup ----------------------------------------------


def dedup_corpus(
    df: DataFrame,
    *,
    method: str = "minhash",
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """One-call corpus deduplication: candidates → exact verification →
    connected components → keep decision. Returns the input rows plus
    ``(canonical_id, is_kept)`` — filter ``is_kept`` for the deduped
    corpus, or join on ``canonical_id`` for provenance.

    ``method``:
    - ``'exact'``   — md5 content identity only;
    - ``'minhash'`` — banded MinHash-LSH candidates verified with exact
      n-gram Jaccard >= ``threshold`` (the production near-dup path);
    every stage is the correspondingly-gated operator, so this wrapper
    adds composition, not new semantics. Scale bounds are the stages':
    LSH shuffle ~ bucket collisions, verification ~ candidate pairs,
    components ~ verified pairs.
    """
    if method == "exact":
        groups = exact_dedup(df, text_col, id_col).select(
            "text_hash", F.col("canonical_id").alias("__can"))
        h = F.md5(F.lower(F.trim(F.col(text_col))))
        # groups is distinct-hash-sized (can approach the corpus):
        # a plain shuffle join, never broadcast
        out = (df.withColumn("text_hash", h)
               .join(groups, "text_hash")
               .drop("text_hash"))
    elif method == "minhash":
        cands = minhash_lsh_candidates(
            df, text_col, id_col, num_hashes=num_hashes, bands=bands,
            shingle_n=shingle_n, max_bucket=max_bucket)
        pairs = ngram_jaccard_pairs(df, text_col, id_col,
                                    shingle_n=shingle_n,
                                    threshold=threshold,
                                    candidates=cands)
        clusters = duplicate_clusters(pairs)
        out = df.join(
            clusters.select(F.col("doc_id").alias(id_col),
                            F.col("canonical_id").alias("__can")),
            id_col, "left")
    else:
        raise ValueError(f"dedup method {method!r} (exact|minhash)")
    return (out.withColumn(
        "canonical_id", F.coalesce(F.col("__can"), F.col(id_col)))
        .drop("__can")
        .withColumn("is_kept", F.col("canonical_id") == F.col(id_col)))


# --- exact-substring (duplicate span) removal ------------------------------

def remove_duplicate_spans(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 50,
) -> DataFrame:
    """ExactSubstr-style duplicate span removal (Lee et al. 2021,
    arXiv:2107.06499 "Deduplicating Training Data Makes Language Models
    Better"): any TOKEN ``n``-gram occurring more than once corpus-wide
    keeps only its first occurrence (min ``(doc_id, position)``); every
    other occurrence's token range is removed and each document rebuilt
    from its surviving tokens →
    ``(doc_id, n_tokens, n_removed, text_dedup)``.

    This is the distributed hash form of the paper's suffix-array
    method (the suffix array is single-machine): fingerprint every
    n-gram, ONE shuffle on the fingerprint picks keepers (min
    ``(doc, pos)`` as a whole-group window aggregate — the
    groupBy-then-join-back form this shipped with shuffled the gram
    stream twice plus a keeper table, measured 2.7× the bytes at the
    1000x rung), and the union of removed TOKEN INDICES per document
    handles overlapping / adjacent duplicate spans with no explicit
    merge step. The C4 three-sentence rule (``text.c4.c4_span_dedup``)
    is the sentence-level sibling; this one catches sub-sentence
    boilerplate the sentence splitter hides. Scale: shuffle ∝ corpus
    token count — the same bound as the Gopher n-gram metrics. The
    per-position fingerprint is TWO independent ``xxhash64`` values of
    the token-array slice (16 B; joint collision odds ~2⁻¹²⁸ per
    pair): the gram string is never even built, and the shuffle key is
    ~2.5× lighter than the 32-char md5 hex this shipped with first.
    The oracle twin groups on the raw gram string — grouping by a
    collision-free hash and grouping by the gram itself pick identical
    keepers, so the outputs hash-match with no shared fingerprint
    function.
    """
    docs, occ = _span_parts(df, text_col, id_col, n)
    dups = _non_keeper_occurrences(occ)
    return _rebuild_without_spans(docs, dups, n, id_col)


def _non_keeper_occurrences(occ: DataFrame) -> DataFrame:
    """Every n-gram occurrence that is NOT its fingerprint group's
    keeper (min ``(doc, pos)``), via a whole-group window min — one
    shuffle of the gram stream, no join-back."""
    w = Window.partitionBy("_h1", "_h2")
    k = F.min(F.struct(F.col("_doc"), F.col("_i"))).over(w)
    return (occ.withColumn("_k", k)
            .filter(~((F.col("_doc") == F.col("_k._doc"))
                      & (F.col("_i") == F.col("_k._i"))))
            .drop("_k"))


def _span_parts(df: DataFrame, text_col: str, id_col: str,
                n: int) -> tuple[DataFrame, DataFrame]:
    """Shared ExactSubstr geometry: ``(docs, occ)`` — the filtered
    token arrays and one row per n-gram position with the two-seed
    xxhash64 fingerprint ``(_doc, _i, _h1, _h2)``."""
    from cngi_prototype_spark.text.analysis import _tokens

    text = F.col(text_col)
    docs = df.select(
        F.col(id_col).alias("_doc"),
        F.filter(_tokens(text), lambda t: t != "").alias("_t"))

    def _fp(i):
        sl = F.slice("_t", i, n)
        return F.struct((i - 1).alias("i"),
                        F.xxhash64(sl).alias("h1"),
                        F.xxhash64(sl, F.lit(1)).alias("h2"))

    spans = docs.select("_doc", F.explode(
        F.when(F.size("_t") >= n, F.transform(
            F.sequence(F.lit(1), F.size("_t") - n + 1), _fp))
        .otherwise(F.array().cast(
            "array<struct<i:int,h1:bigint,h2:bigint>>"))).alias("sp"))
    occ = spans.select("_doc", F.col("sp.i").alias("_i"),
                       F.col("sp.h1").alias("_h1"),
                       F.col("sp.h2").alias("_h2"))
    return docs, occ


def _rebuild_without_spans(docs: DataFrame, dups: DataFrame, n: int,
                           id_col: str) -> DataFrame:
    """Union the duplicate occurrences' token index ranges per doc
    (overlap/adjacency handled by the set union itself) and rebuild
    each document from its surviving tokens.

    Plan shape: duplicate START positions aggregate per doc (1/n the
    rows of shipping expanded ranges), ranges expand and union in a
    single array expression, and the doc's kept positions come from
    one hash-based ``array_except`` against the full position range —
    the token stream itself is never exploded or shuffled (the
    posexplode → distinct → anti-join → re-group form this shipped
    with shuffled the corpus token stream twice plus an n×-expanded
    removed-index stream). The per-doc starts side is
    aggregate-output-sized, so AQE broadcasts it into the docs join
    when small."""
    starts = dups.groupBy("_doc").agg(
        F.collect_set("_i").alias("_st"))
    rem = F.array_distinct(F.flatten(F.transform(
        "_st", lambda s: F.sequence(s, s + n - 1))))
    # sequence(0, size-1) is DESCENDING for empty docs (size-1 = -1):
    # guard empty token arrays to an empty kept range
    kept_idx = F.when(F.size("_t") > 0, F.array_except(
        F.sequence(F.lit(0), F.size("_t") - 1), rem)).otherwise(
        F.array().cast("array<int>"))
    out = (docs.join(starts, "_doc", "left")
           .withColumn("_kept",
                       F.when(F.col("_st").isNull(),
                              F.sequence(F.lit(0), F.size("_t") - 1))
                       .otherwise(kept_idx)))
    # empty no-dup docs also hit the descending-sequence edge: reuse
    # the same size guard on the null-starts branch
    out = out.withColumn(
        "_kept", F.when(F.size("_t") > 0, F.col("_kept")).otherwise(
            F.array().cast("array<int>")))
    return out.select(
        F.col("_doc").alias(id_col),
        F.size("_t").alias("n_tokens"),
        # the previous form derived n_removed from a bigint count();
        # keep the column type stable for the oracle hash
        (F.size("_t") - F.size("_kept")).cast("long").alias("n_removed"),
        F.array_join(F.transform(
            "_kept", lambda i: F.element_at("_t", i + 1)),
            " ").alias("text_dedup"))


def spans_dedup_batch(
    new_docs: DataFrame,
    seen_grams: DataFrame | None,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 50,
) -> tuple[DataFrame, DataFrame]:
    """One incremental ExactSubstr step: ``(rebuilt_docs, new_grams)``.

    A token n-gram occurrence in this batch is removed iff its
    fingerprint exists in ``seen_grams`` (``(_h1, _h2)`` rows from
    earlier batches) OR an earlier ``(doc, position)`` of the same
    batch has it — i.e. the keeper is the FIRST occurrence in
    (batch, doc_id, position) order. Equal to running
    :func:`remove_duplicate_spans` over the concatenated batches
    whenever doc ids are monotone across batches (the same arrival
    contract :func:`neardup_dedup_batch`'s min-id ownership assumes;
    property-tested). ``new_grams`` is this batch's distinct
    fingerprints not already in the store — the store grows by every
    gram ever seen, which is exactly the paper's suffix-array content
    re-expressed as a hash set (lifecycle:
    :func:`streaming.stream_ops.compact_store` folds batch partitions
    and offers TTL retention).

    Scale shape: one fingerprint shuffle per batch (∝ batch token
    count) plus a (batch ⋈ store) join on 16-byte keys; no driver
    state, the store is a plain parquet table the caller owns (see
    :func:`streaming.stream_ops.stream_dedup_spans`).
    """
    docs, occ = _span_parts(new_docs, text_col, id_col, n)
    within = _non_keeper_occurrences(occ).select(
        "_doc", "_i", "_h1", "_h2")
    if seen_grams is not None:
        store = seen_grams.select("_h1", "_h2")
        vs_store = (occ.join(store, ["_h1", "_h2"], "left_semi")
                    .select("_doc", "_i", "_h1", "_h2"))
        dups = within.unionByName(vs_store).distinct()
        new_grams = (occ.select("_h1", "_h2").distinct()
                     .join(store, ["_h1", "_h2"], "left_anti"))
    else:
        dups = within
        new_grams = occ.select("_h1", "_h2").distinct()
    rebuilt = _rebuild_without_spans(docs, dups, n, id_col)
    return rebuilt, new_grams


def sql_remove_duplicate_spans(n: int = 8) -> str:
    """Oracle twin of :func:`remove_duplicate_spans` over the
    documents view. Groups keeper election on the raw gram STRING —
    identical partitioning to the production two-seed xxhash64
    fingerprint absent collisions — and packs the keeper key as
    ``doc_id·10⁶ + position`` (exact at gate scale; the production
    side's struct-min has no such bound)."""
    toks = f"list_filter({_sql_tokens('text')}, t -> t <> '')"
    return f"""
    WITH d AS (SELECT doc_id, {toks} AS toks FROM documents),
    occ AS (
      SELECT doc_id, g.i AS i,
             array_to_string(toks[g.i + 1 : g.i + {n}], ' ') AS gram
      FROM d, UNNEST(range(0, GREATEST(len(toks) - {n} + 1, 0))) AS g(i)),
    keeper AS (
      SELECT gram, MIN(doc_id * 1000000 + i) AS kmin
      FROM occ GROUP BY gram),
    rem AS (
      SELECT DISTINCT o.doc_id, g2.x AS idx
      FROM occ o JOIN keeper k USING (gram),
           UNNEST(range(o.i, o.i + {n})) AS g2(x)
      WHERE o.doc_id * 1000000 + o.i <> k.kmin),
    tok AS (
      SELECT doc_id, g.i AS idx, toks[g.i + 1] AS tok
      FROM d, UNNEST(range(0, len(toks))) AS g(i)),
    kept AS (
      SELECT t.doc_id, t.idx, t.tok FROM tok t
      ANTI JOIN rem r ON t.doc_id = r.doc_id AND t.idx = r.idx),
    reb AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY idx) AS text_dedup
      FROM kept GROUP BY doc_id)
    SELECT d.doc_id, len(d.toks) AS n_tokens,
           len(d.toks) - COALESCE(reb.n_kept, 0) AS n_removed,
           COALESCE(reb.text_dedup, '') AS text_dedup
    FROM d LEFT JOIN reb USING (doc_id)
    """

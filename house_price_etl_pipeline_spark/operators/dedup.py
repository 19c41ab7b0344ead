"""Deduplication operators over ``documents`` / ``embeddings`` (north-star
extensions, BASELINE.json): exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design (the 100 TB story):
- exact dedup = hash-groupBy on a canonical fingerprint — one shuffle on
  an md5 key, perfectly partitionable;
- all-pairs similarity is NEVER materialized: candidate generation goes
  through an inverted index (token join), LSH band buckets, or SimHash
  chunk buckets — each a plain equi-join Spark shuffles on the bucket
  key — and only candidates get the exact similarity check;
- MinHash signatures use ``xxhash64(seed, token)`` — JVM-side, seedable,
  no Python; band buckets follow the classic B×R construction
  (Broder '97 / MMDS ch.3);
- the oracle-checked queries bound their doc population (doc_id < 300) so
  the DuckDB oracle's quadratic verify stays cheap; the Spark plans are
  the same shape unbounded.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import exact_twin_enabled
from ..plans.catalog import register
from ..sources.tables import load_table

# MinHash parameters: 16 permutations, 4 bands x 4 rows.
MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = 4
JACCARD_THRESHOLD = 0.6
SIMHASH_HAMMING_MAX = 3

# Pair-scale stages (LSH buckets, verified pairs, CC label propagation)
# operate on hundreds of rows: a 32-way shuffle there costs more in fixed
# task/scheduling overhead than it wins (same lesson as the streaming
# state stores, windows.stream_shuffle_partitions). On a real cluster
# this is sized to candidate-pair volume, not core count — override via
# SPARK_GRAFT_DEDUP_PARTITIONS (read at call time, see SCALE.md).
def dedup_shuffle_partitions() -> int:
    return int(os.environ.get("SPARK_GRAFT_DEDUP_PARTITIONS", "8"))


def _pair_session(spark: SparkSession) -> SparkSession:
    """A private clone of ``spark`` at the pair-scale shuffle width:
    pair-scale plans are built on it, never by editing ``spark``'s
    conf, and their checkpointed results are rebound to ``spark``."""
    from ..session import private_session

    return private_session(spark, {"spark.sql.shuffle.partitions":
                                   str(dedup_shuffle_partitions())})


# Corpus-scale aggregations (the 64-column SimHash bit-vote and the
# 16-column MinHash signature groupBys) carry WIDE per-group state:
# ~520 B/doc of hash-map buffer. With a FIXED partition count the
# per-task map grows linearly with the corpus and eventually tips the
# hash aggregate into sort/spill fallback, then OOM (measured: default
# 8 g heap dies at 64× sf0.1 — SCALE.md §64×). The plan-shape remedy is
# to size the pre-explode repartition to the DOCUMENT COUNT so per-task
# aggregation state stays bounded (~DOCS_PER_AGG_PARTITION docs ×
# ~520 B ≈ 10 MB) at any scale. Count comes from one metadata-cheap
# count() per (session, sf_dir), memoized. The env knob still wins when
# set (deploy override + probe A/Bs).
DOCS_PER_AGG_PARTITION = 20_000


def corpus_partitions(spark: SparkSession, sf_dir: str) -> int:
    if os.environ.get("SPARK_GRAFT_DEDUP_PARTITIONS"):
        return dedup_shuffle_partitions()
    from ..sources.tables import scaled_partitions
    return scaled_partitions(spark, sf_dir, "documents",
                             DOCS_PER_AGG_PARTITION)


def _doc_tokens(spark: SparkSession, sf_dir: str, max_doc: int | None) -> DataFrame:
    """(doc_id, token) distinct pairs — the inverted-index building block.
    Repartitioned before the explode (see _doc_shingles)."""
    d = load_table(spark, sf_dir, "documents")
    if max_doc is not None:
        d = d.filter(F.col("doc_id") < max_doc)
    d = d.repartition(corpus_partitions(spark, sf_dir), "doc_id")
    return (
        d.select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("t"))
    )


def shingle_expr(tokens_col, n: int = 3):
    """Distinct word n-gram shingles of a MATERIALIZED token-array
    column (array<string>).

    Shingling (Broder '97) is what makes set-similarity dedup meaningful on
    natural text: unigram token SETS saturate on a small vocabulary (every
    doc shares the common words → Jaccard ≈ 1 corpus-wide, and LSH buckets
    degenerate to all-pairs), while n-gram sequences are near-unique unless
    the docs genuinely share phrasing. Pure JVM expressions:
    transform(sequence) → slice → concat_ws.

    The argument must be a COLUMN holding the token array, not an
    inline split(text) expression: the gram lambda slices it once per
    start index, and an inlined split re-tokenizes the whole doc per
    gram — O(n²) per row (measured 13x on the same-shaped bpe query)."""
    ws = tokens_col
    grams = F.transform(
        F.sequence(F.lit(1), F.size(ws) - F.lit(n - 1)),
        lambda i: F.concat_ws(" ", F.slice(ws, i, n)),
    )
    return F.when(F.size(ws) >= n, F.array_distinct(grams)).otherwise(
        F.array_distinct(ws)  # degenerate short doc: fall back to its tokens
    )


def _doc_shingles(spark: SparkSession, sf_dir: str, max_doc: int | None,
                  n: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct pairs — MinHash/SimHash input.

    The raw documents table is small on disk (one parquet split) but the
    shingle explode multiplies it ~300x — repartition BEFORE the explode
    so the expansion runs wide instead of on the single input split (at
    100 TB the same applies per-file: spread the explode, not the scan)."""
    d = load_table(spark, sf_dir, "documents")
    if max_doc is not None:
        d = d.filter(F.col("doc_id") < max_doc)
    d = d.repartition(corpus_partitions(spark, sf_dir), "doc_id")
    return (
        d.select("doc_id", F.split("text", " ").alias("ws"))
        .select("doc_id",
                F.explode(shingle_expr(F.col("ws"), n)).alias("t"))
    )


# --- exact dedup -----------------------------------------------------------

@register(
    "dedup_exact_groups",
    oracle="""
    SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS group_size
    FROM documents
    GROUP BY 1 HAVING COUNT(*) >= 1
    ORDER BY fingerprint
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: canonical fingerprint → keep lowest doc_id per group.
    One hash shuffle; group_size > 1 rows are the discarded duplicates."""
    d = load_table(spark, sf_dir, "documents")
    canon = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    return (
        d.groupBy(F.md5(canon.cast("binary")).alias("fingerprint"))
        .agg(F.min("doc_id").alias("keep_doc_id"),
             F.count("*").alias("group_size"))
        .orderBy("fingerprint")
    )


@register(
    "dedup_exact_count",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT text) AS BIGINT) AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT text) AS BIGINT) AS n_dropped
    FROM documents
    """,
)
def dedup_exact_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates accounting: corpus size before/after exact dedup."""
    d = load_table(spark, sf_dir, "documents")
    return d.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("text").alias("n_unique"),
        (F.count("*") - F.countDistinct("text")).alias("n_dropped"),
    )


# --- n-gram (token-set) Jaccard via inverted index -------------------------

# Document slice the oracle-checked Jaccard queries bound themselves to.
JACCARD_DOC_SLICE = 300


# Document-frequency cap applied to tokens before the inverted-index
# self-join: a token shared by m docs yields m² join rows, so one
# corpus-wide stop-token is a quadratic hot bucket at scale. Tokens
# with df > cap are dropped from BOTH the intersection and the union
# (sizes are computed post-cap), so "capped Jaccard" is a well-defined
# metric both engines compute identically — the oracle mirrors the cap.
#
# Default = JACCARD_DOC_SLICE, i.e. >= any possible df in the bounded
# slice → provably a no-op locally (df <= n_docs always). At corpus
# scale set SPARK_GRAFT_JACCARD_DF_CAP to an absolute bound (stop tokens
# contribute ~0 evidence to Jaccard >= 0.6 pairs; standard practice in
# near-dup mining). Read ONCE at import — the oracle f-string bakes the
# value into SQL at import, so a call-time read could disagree with it
# (ADVICE r3); the override must be set before the process starts.
JACCARD_DF_CAP = int(os.environ.get("SPARK_GRAFT_JACCARD_DF_CAP",
                                    str(JACCARD_DOC_SLICE)))


def jaccard_df_cap() -> int:
    """The import-time df cap (see JACCARD_DF_CAP above)."""
    return JACCARD_DF_CAP


UNCAPPED = 1 << 31  # df_cap sentinel: no document-frequency filtering


def ngram_jaccard_pairs(tok: DataFrame, threshold: float,
                        df_cap: int) -> DataFrame:
    """Exact capped-Jaccard >= threshold pairs from a (doc_id, t) distinct
    token relation, via inverted index: df-cap → self-join on token →
    count intersections → |A∪B| from the post-cap size table. No
    all-pairs materialization; the token join is the only pair-scale
    shuffle, and the cap bounds its per-token fan-out to df_cap².

    df_cap >= UNCAPPED skips the df-count + semi-join entirely — a cap
    no single token can reach filters nothing, so computing document
    frequencies would add a full shuffle groupBy over the token relation
    for a provable no-op (it was ~half the exact-twin cost at sf0.1)."""
    if df_cap >= UNCAPPED:
        kept = tok  # callers pass an already-cached relation here
    else:
        df_counts = tok.groupBy("t").agg(F.count("*").alias("df"))
        kept = (
            tok.join(df_counts.filter(F.col("df") <= df_cap).select("t"), "t")
            .cache()
        )
    kept.count()  # eager fill: 3 branches below would race the cold cache
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = kept.alias("a"), kept.alias("b")
    inter = (
        a.join(b, (F.col("a.t") == F.col("b.t"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c")).cast("double")
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )

@register(
    "dedup_ngram_jaccard_pairs",
    oracle=f"""
    WITH tok0 AS (
      SELECT DISTINCT doc_id, t
      FROM documents, UNNEST(string_split(text, ' ')) AS u(t)
      WHERE doc_id < {JACCARD_DOC_SLICE}
    ),
    kept AS (SELECT t FROM tok0 GROUP BY t
             HAVING COUNT(*) <= {jaccard_df_cap()}),
    tok AS (SELECT tok0.doc_id, tok0.t FROM tok0 JOIN kept USING (t)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           round(i.c / CAST(sa.n + sb.n - i.c AS DOUBLE), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE i.c / CAST(sa.n + sb.n - i.c AS DOUBLE) >= {JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard ≥ t via inverted index, with a document-
    frequency cap on the self-join (see jaccard_df_cap: the cap is the
    scale guard against quadratic stop-token buckets; at the local slice
    it is provably a no-op and the oracle mirrors it). This is also the
    exact-verify stage the LSH pipeline reuses."""
    tok = _doc_tokens(spark, sf_dir, JACCARD_DOC_SLICE)
    return ngram_jaccard_pairs(tok, JACCARD_THRESHOLD, jaccard_df_cap())


# --- MinHash + LSH ---------------------------------------------------------

# per-session caches for the MinHash/LSH expression batteries (same
# rationale as _simhash_exprs: pure expressions over fixed column names,
# rebuilt per call only at py4j round-trip cost)
_MINHASH_AGG_CACHE: dict[tuple, list] = {}
_BAND_STRUCT_CACHE: dict[tuple, object] = {}


def minhash_signatures(tok: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """(doc_id, h0..h{k-1}): min over tokens of xxhash64(seed_i, token).
    Seeded JVM hash = k independent permutation approximations, computed
    in ONE pass over the inverted index (one shuffle on doc_id)."""
    key = (tok.sparkSession.sparkContext.applicationId, k)
    aggs = _MINHASH_AGG_CACHE.get(key)
    if aggs is None:
        aggs = [F.min(F.xxhash64(F.lit(i), F.col("t"))).alias(f"h{i}")
                for i in range(k)]
        _MINHASH_AGG_CACHE[key] = aggs
    return tok.groupBy("doc_id").agg(*aggs)


# Hot-bucket cap for LSH candidate generation: a band bucket with m
# members yields m(m-1)/2 candidate join rows — quadratic in the
# bucket, and on a DUPLICATE-HEAVY corpus (the LLM-pipeline norm: one
# template crawled 10^5 times) a single genuine-dup bucket is the
# whole job's cost. Buckets at or under the cap join all-pairs
# (complete); buckets OVER it take the star path — every member links
# to the bucket's min doc_id only, m-1 edges instead of m²/2 — which
# preserves exactly what dedup needs from a hot bucket (one connected
# component through the hub after verification; CC supplies
# transitivity) at linear cost. Recall tradeoff is confined to hot
# buckets where a member matches OTHER members but not the hub —
# rare, because a bucket that hot is one template's copies (measured:
# sf0.001-0.1 max bucket = 4 docs, so the cap is inert at gate scale;
# scripts/lsh_skew_probe.py for the duplicate-heavy measurement).
LSH_BUCKET_CAP = int(os.environ.get("SPARK_GRAFT_LSH_BUCKET_CAP", "64"))


def lsh_candidate_pairs(sig: DataFrame, bands: int = LSH_BANDS,
                        rows: int = LSH_ROWS,
                        bucket_cap: int = LSH_BUCKET_CAP) -> DataFrame:
    """Band the signature, bucket-join on (band_id, band_hash): docs equal
    on all rows of any band become candidates. The join key is the bucket
    — the classic LSH trick that replaces all-pairs with an equi-join.
    Buckets larger than ``bucket_cap`` star-link to their min member
    instead of joining all-pairs (see LSH_BUCKET_CAP): total candidate
    volume is bounded by n_buckets·cap² + n_docs·bands, never quadratic
    in a hot bucket."""
    bkey = (sig.sparkSession.sparkContext.applicationId, bands, rows)
    band_structs = _BAND_STRUCT_CACHE.get(bkey)
    if band_structs is None:
        band_structs = F.array(*[
            F.struct(
                F.lit(b).alias("band_id"),
                F.xxhash64(*[F.col(f"h{b * rows + r}")
                             for r in range(rows)]).alias("band_hash"),
            )
            for b in range(bands)
        ])
        _BAND_STRUCT_CACHE[bkey] = band_structs
    banded = (
        sig.select("doc_id", F.explode(band_structs).alias("band"))
        .select("doc_id", "band.band_id", "band.band_hash")
    )
    # bucket stats share the self-join's shuffle key (band_id,
    # band_hash) — co-partitioned agg + join, no extra corpus shuffle
    stats = banded.groupBy("band_id", "band_hash").agg(
        F.count("*").alias("m"), F.min("doc_id").alias("hub"))
    tagged = banded.join(stats, ["band_id", "band_hash"])
    small = tagged.filter(F.col("m") <= bucket_cap)
    x, y = small.alias("x"), small.alias("y")
    dense = (
        x.join(y, (F.col("x.band_id") == F.col("y.band_id"))
               & (F.col("x.band_hash") == F.col("y.band_hash"))
               & (F.col("x.doc_id") < F.col("y.doc_id")))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
    )
    star = (
        tagged.filter((F.col("m") > bucket_cap)
                      & (F.col("doc_id") != F.col("hub")))
        .select(F.col("hub").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    return dense.unionByName(star).distinct()


def verify_candidate_pairs(cand: DataFrame, tok: DataFrame,
                           a_col: str = "doc_a", b_col: str = "doc_b",
                           threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """Exact Jaccard verification of CANDIDATE pairs only — the stage
    after any LSH/banding scheme: join each candidate pair back to the
    (doc_id, t) shingle relation, count intersections, compute
    |A∪B| from per-doc sizes. All joins are candidate-sized; the only
    corpus-scale pass is the linear size aggregation."""
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = tok.alias("a"), tok.alias("b")
    inter = (
        cand.join(a, cand[a_col] == F.col("a.doc_id"))
        .join(b, (cand[b_col] == F.col("b.doc_id"))
              & (F.col("a.t") == F.col("b.t")))
        .groupBy(a_col, b_col)
        .agg(F.count("*").alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias(a_col), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias(b_col), F.col("n").alias("nb"))
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c")).cast("double")
    return (
        inter.join(sa, a_col).join(sb, b_col)
        .filter(jac >= threshold)
        .select(a_col, b_col, F.round(jac, 6).alias("jaccard"))
    )


_PAIRS_CACHE: dict[tuple[str, str], DataFrame] = {}
_EXACT_PAIRS_CACHE: dict[tuple[str, str], DataFrame] = {}
_SHINGLE_TOK_CACHE: dict[tuple[str, str], DataFrame] = {}


def _shared_shingle_tok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, shingle) relation, exploded ONCE per (session, SF)
    and shared by every consumer — the LSH pipeline, the SimHash
    pipeline, and the exact-twin ground truth each need it, and the
    corpus explode was the dominant repeated cost when they built it
    independently. Cached eagerly (AQE races a cold cache from parallel
    branches); doc-scale but narrow (two columns), bounded by corpus
    shingle count."""
    key = (spark.sparkContext.applicationId, sf_dir)
    tok = _SHINGLE_TOK_CACHE.get(key)
    if tok is None:
        # cache (columnar InMemoryRelation — corpus-scale consumers keep
        # column pruning + batch scans), eagerly filled: AQE races a
        # cold cache from parallel branches
        tok = _doc_shingles(spark, sf_dir, None).cache()
        tok.count()
        _SHINGLE_TOK_CACHE[key] = tok
    return tok


def exact_shingle_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard >= t pairs over the FULL corpus, cached per
    (session, scale) — the ground-truth relation all three hash-sketch
    exact-twin queries (minhash, simhash, clusters) compare against;
    computing it once instead of per-query saves the shingle explode +
    inverted-index self-join three times over in a bench run."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _EXACT_PAIRS_CACHE.get(key)
    if cached is not None:
        return cached
    from ..session import rebind

    tok = rebind(_shared_shingle_tok(spark, sf_dir), _pair_session(spark))
    # localCheckpoint (not cache): truncates the inverted-index self-join
    # plan so every consumer job plans against a leaf (see
    # _shared_shingle_tok) — eager, so the fill can't be raced
    exact = rebind(ngram_jaccard_pairs(tok, JACCARD_THRESHOLD, UNCAPPED)
                   .localCheckpoint(eager=True), spark)
    _EXACT_PAIRS_CACHE[key] = exact
    return exact


def lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pairs (doc_a, doc_b, jaccard), materialized once
    per (session, scale) and shared — both the pair query and the cluster
    resolution consume this list, so the shingle→MinHash→LSH→verify
    pipeline runs once (the materialize-then-reuse pattern any real dedup
    pipeline follows: compute pairs, then act on them repeatedly). The
    shingle inverted index itself comes from _shared_shingle_tok (one
    corpus explode per session/SF, shared with SimHash and the exact
    twin)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _PAIRS_CACHE.get(key)
    if cached is not None:
        return cached
    from ..session import rebind

    tok = rebind(_shared_shingle_tok(spark, sf_dir), _pair_session(spark))
    cand = lsh_candidate_pairs(minhash_signatures(tok))
    # localCheckpoint: materialized at the pair-scale width AND
    # plan-truncated (see _shared_shingle_tok)
    verified = rebind(verify_candidate_pairs(cand, tok).localCheckpoint(
        eager=True), spark)
    _PAIRS_CACHE[key] = verified
    return verified


LSH_PAIR_RECALL_FLOOR = 0.7  # measured 0.93-1.0 across sf0.001-0.1


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
           FROM toks, UNNEST(generate_series(1, len(t)-2)) AS s(i)
           WHERE len(t) >= 3
           UNION
           SELECT DISTINCT doc_id, u.tok AS g
           FROM toks, UNNEST(t) AS u(tok)
           WHERE len(t) < 3),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
              FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT i.doc_a, i.doc_b,
           round(i.c / CAST(sa.n + sb.n - i.c AS DOUBLE), 6) AS jaccard,
           TRUE AS lsh_recall_ok
    FROM inter i JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE i.c / CAST(sa.n + sb.n - i.c AS DOUBLE) >= {JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH under the value-hash gate (exact-twin pattern: the
    xxhash64 seeds are Spark-internal, so the LSH-found pair SET can't
    be a cross-engine oracle): rows are the EXACT shingle-Jaccard ≥ t
    pairs (same inverted-index shape as dedup_ngram_jaccard_pairs, on
    3-gram shingles — near-unique, so no df cap is needed and the
    self-join stays candidate-sized), and ``lsh_recall_ok`` is fed
    in-plan by the REAL shingle→MinHash(16)→LSH(4x4)→verify pipeline:
    |found ∩ exact| / |exact| ≥ {LSH_PAIR_RECALL_FLOOR} (measured
    0.93-1.0; verification guarantees zero false positives). A
    recall collapse — broken banding, broken signatures — flips the
    boolean and fails the hash. The raw LSH pair list remains
    available as lsh_verified_pairs (tests drive it directly).
    SPARK_GRAFT_EXACT_TWIN=0 → the production pipeline's own verified
    pairs (no full-corpus exact self-join in-plan)."""
    if not exact_twin_enabled():
        return lsh_verified_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")
    exact = exact_shingle_pairs(spark, sf_dir)
    found = lsh_verified_pairs(spark, sf_dir).select("doc_a", "doc_b")
    counts = (
        exact.select("doc_a", "doc_b")
        .join(found, ["doc_a", "doc_b"], "left_semi")
        .agg(F.count("*").alias("hit"))
        .crossJoin(exact.agg(F.count("*").alias("total")))
    )
    ok = (F.col("hit") * F.lit(1.0)
          / F.greatest("total", F.lit(1)) >= LSH_PAIR_RECALL_FLOOR)
    return (
        exact.crossJoin(F.broadcast(counts.select(ok.alias("lsh_recall_ok"))))
        .orderBy("doc_a", "doc_b")
    )


# --- SimHash ---------------------------------------------------------------



# Per-session cache of the SimHash expression battery. The 64 bit-vote
# aggregates + 4 chunk assemblers are PURE expressions over fixed column
# names, but building them with Column operators costs ~400 py4j round
# trips (~0.66 s measured per simhash_pairs call — a quarter of the
# query's wall, pure driver time). Each expression is now ONE F.expr
# parse (the SQL forms are operator-for-operator identical: when/
# otherwise = CASE WHEN, bitwiseAND = &, cast long = CAST AS BIGINT),
# and the resulting Column objects are reused across calls within a
# session — expression METADATA, not data.
_SIMHASH_EXPR_CACHE: dict[str, tuple] = {}


def _simhash_exprs(spark: SparkSession) -> tuple:
    key = spark.sparkContext.applicationId
    got = _SIMHASH_EXPR_CACHE.get(key)
    if got is None:
        votes = [
            F.expr(f"sum(CASE WHEN (shiftright(xxhash64(t), {i}) & 1) = 1"
                   f" THEN 1 ELSE -1 END) AS bit{i}")
            for i in range(64)
        ]
        # 4 chunks of 16 bits each → chunk value in [0, 2^16)
        chunk_cols = [
            F.expr("CAST(0 AS BIGINT) + " + " + ".join(
                f"shiftleft(CAST((bit{c * 16 + i} > 0) AS BIGINT), {i})"
                for i in range(16)) + f" AS chunk{c}")
            for c in range(4)
        ]
        got = (votes, chunk_cols)
        _SIMHASH_EXPR_CACHE[key] = got
    return got


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash (Charikar '02): per-token xxhash64, signed bit-vote
    sum, sign → fingerprint; near-dups = Hamming ≤ 3 found via the
    4x16-bit chunk pigeonhole (distance ≤ 3 ⇒ ≥1 chunk equal), so
    candidates come from a chunk-bucket equi-join, not all-pairs. Feature
    set = 3-gram shingles (see shingle_expr) so fingerprints are
    near-uniform and chunk buckets stay selective. NOT cached across
    calls: the sketch pipeline is the operator dedup_simhash is named
    for, so bench retries re-run it (VERDICT r13 item 1) — only the
    shared shingle relation is a fixture; the in-call localCheckpoints
    below stop branch recompute within one build."""
    tok = _shared_shingle_tok(spark, sf_dir)
    votes, chunk_cols = _simhash_exprs(spark)
    bits = tok.groupBy("doc_id").agg(*votes)
    # localCheckpoint: fp feeds three branches (chunk explode + both
    # sides of the hamming verify); without materialization each branch
    # would recompute the full shingle explode + 64-vote aggregation
    fp = bits.select("doc_id", *chunk_cols).localCheckpoint(eager=True)
    chunks = fp.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("cid"), F.col(f"chunk{c}").alias("cval"))
            for c in range(4)
        ])).alias("ch"),
    ).select("doc_id", "ch.cid", "ch.cval")
    x, y = chunks.alias("x"), chunks.alias("y")
    cand = (
        x.join(y, (F.col("x.cid") == F.col("y.cid"))
               & (F.col("x.cval") == F.col("y.cval"))
               & (F.col("x.doc_id") < F.col("y.doc_id")))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    fa = fp.select(F.col("doc_id").alias("doc_a"),
                   *[F.col(f"chunk{c}").alias(f"a{c}") for c in range(4)])
    fb = fp.select(F.col("doc_id").alias("doc_b"),
                   *[F.col(f"chunk{c}").alias(f"b{c}") for c in range(4)])
    hamming = sum(
        F.bit_count(F.col(f"a{c}").bitwiseXOR(F.col(f"b{c}"))) for c in range(4)
    )
    out = (
        cand.join(fa, "doc_a").join(fb, "doc_b")
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
        .localCheckpoint(eager=True)   # pair-scale; plan-truncated
    )
    return out


SIMHASH_PRECISION_FLOOR = 0.9  # measured 1.00 across sf0.001-0.1
SIMHASH_RECALL_FLOOR = 0.3     # measured 0.48-0.61 (hamming<=3 is a
                               # stricter similarity than jaccard>=0.6)


@register(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
           FROM toks, UNNEST(generate_series(1, len(t)-2)) AS s(i)
           WHERE len(t) >= 3
           UNION
           SELECT DISTINCT doc_id, u.tok AS g
           FROM toks, UNNEST(t) AS u(tok)
           WHERE len(t) < 3),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
              FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT i.doc_a, i.doc_b,
           round(i.c / CAST(sa.n + sb.n - i.c AS DOUBLE), 6) AS jaccard,
           TRUE AS simhash_precision_ok, TRUE AS simhash_recall_ok
    FROM inter i JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE i.c / CAST(sa.n + sb.n - i.c AS DOUBLE) >= {{JACCARD_THRESHOLD}}
    ORDER BY doc_a, doc_b
    """.format(JACCARD_THRESHOLD=JACCARD_THRESHOLD),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash under the value-hash gate (exact-twin pattern: xxhash64
    fingerprints are Spark-internal): rows are the exact shingle-Jaccard
    >= t pairs, and the REAL SimHash chunk-pigeonhole pipeline feeds two
    in-plan booleans — ``simhash_precision_ok`` (every hamming<=3 pair
    is a true near-dup; measured 1.00) and ``simhash_recall_ok``
    (fraction of true pairs found; hamming<=3 is deliberately stricter
    than jaccard>=0.6, measured 0.48-0.61, floor 0.3). A bit-vote or
    pigeonhole bug floods false positives or collapses recall — either
    flips a boolean and fails the hash.
    SPARK_GRAFT_EXACT_TWIN=0 → the SimHash pipeline's own
    (doc_a, doc_b, hamming) pairs, no exact sibling in-plan."""
    if not exact_twin_enabled():
        return simhash_pairs(spark, sf_dir)
    exact = exact_shingle_pairs(spark, sf_dir)
    found = simhash_pairs(spark, sf_dir).select("doc_a", "doc_b").cache()
    n_found = found.count()  # also fills the cache
    ep = exact.select("doc_a", "doc_b")
    stats = (
        ep.join(found, ["doc_a", "doc_b"], "left_semi")
        .agg(F.count("*").alias("hit"))
        .crossJoin(ep.agg(F.count("*").alias("total")))
    )
    prec_ok = ((F.lit(n_found) == 0)
               | (F.col("hit") * F.lit(1.0) / F.lit(max(n_found, 1))
                  >= SIMHASH_PRECISION_FLOOR))
    rec_ok = (F.col("hit") * F.lit(1.0) / F.greatest("total", F.lit(1))
              >= SIMHASH_RECALL_FLOOR)
    flags = stats.select(prec_ok.alias("simhash_precision_ok"),
                         rec_ok.alias("simhash_recall_ok"))
    return (
        exact.crossJoin(F.broadcast(flags))
        .orderBy("doc_a", "doc_b")
    )


# --- embedding-cosine near-dup ---------------------------------------------

_DOT_SQL = ("list_sum(list_transform(range(1, 65),"
            " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))")


@register(
    "dedup_embedding_cosine_pairs",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding,
             sqrt({_DOT_SQL.format(a='embedding', b='embedding')}) AS nrm
      FROM embeddings WHERE vec_id < 300
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({_DOT_SQL.format(a='a.embedding', b='b.embedding')}
                 / (a.nrm * b.nrm), 6) AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE {_DOT_SQL.format(a='a.embedding', b='b.embedding')}
          / (a.nrm * b.nrm) >= 0.4
    ORDER BY vec_a, vec_b
    """,
)
def dedup_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ t) — brute-force within a bounded
    population for the oracle; the scale path is the LSH-bucketed variant
    in similarity.py. Dot products via sequence/transform/aggregate folds
    with element-wise double casts: identical left-to-right summation in
    Spark and DuckDB → bit-identical cosines."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    v = e.select("vec_id", "embedding",
                 F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm"))
    a, b = v.alias("a"), v.alias("b")
    cos = dot(F.col("a.embedding"), F.col("b.embedding")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(cos >= 0.4)
        .select(F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
                F.round(cos, 6).alias("cosine"))
        .orderBy("vec_a", "vec_b")
    )


# --- near-dup cluster resolution (connected components) ---------------------

def connected_components(pairs: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b", max_iter: int = 15) -> DataFrame:
    """(node, label) for every node in the pair list, where label = the
    smallest node id in its connected component.

    Iterative min-label propagation (the dataframe form of large-star /
    small-star, Kiveris+ '14): each round every node takes the min of its
    own label and its neighbors' labels — the round count is bounded by
    the component DIAMETER, not size. Near-dup clusters are dense and
    tiny (duplicates of one source), so this converges in 1-2 rounds;
    max_iter only guards adversarial chains. A driver-side loop over
    distributed steps — the iterative-algorithm shape SQL can't express
    (hence rows-only in the oracle gate).

    Cost shape (r13): on near-dup pair lists the data is tiny and FIXED
    per-round overhead (job scheduling + AQE stage planning) dominates,
    so the loop is built for minimum jobs-per-round: the init round
    fuses "labels = node ids" with the first propagation into ONE
    shuffle (label0(v) = min(v, neighbors(v))); each later round is one
    join + union + min-groupBy checkpoint (2 shuffle boundaries, vs 3
    in the former join-left-join form); convergence is a sum-of-labels
    scan over the already-materialized checkpoint (labels only ever
    decrease, so the sum is a strictly-decreasing potential — fixpoint
    iff it repeats; decimal(38,0) so corpus-scale id sums can't wrap).

    localCheckpoint (not cache) each round: truncates the lineage so
    Catalyst plans stay constant-size across iterations instead of
    growing — the driver-side planning gap per round was comparable to
    the shuffle work itself on small pair lists."""
    # materialize the INPUT once before the symmetric union references
    # it twice — an expensive uncheckpointed pair-generation plan would
    # otherwise execute once per union branch (harness callers pass
    # already-materialized frames, for which this is a tiny copy)
    sym = (pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .localCheckpoint(eager=True))
    edges = (sym.unionByName(
        sym.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .localCheckpoint(eager=True))
    labels = (
        edges.groupBy("a").agg(F.min("b").alias("_mn"))
        .select(F.col("a").alias("node"),
                F.least("a", "_mn").alias("label"))
        .localCheckpoint(eager=True)
    )

    def _label_sum(df: DataFrame):
        return df.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]

    prev_sum = _label_sum(labels)
    for _ in range(max_iter - 1):
        prop = (
            edges.join(labels.select(F.col("node").alias("b"), "label"), "b")
            .select(F.col("a").alias("node"), "label")
        )
        new_labels = (
            prop.unionByName(labels)
            .groupBy("node").agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        s = _label_sum(new_labels)
        labels = new_labels
        if s == prev_sum:
            break
        prev_sum = s
    return labels


def lsh_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters from the MinHash+LSH pair list: every clustered
    doc with its canonical (min-id) representative and the cluster size —
    the decision table a dedup pipeline keeps for provenance. Label
    propagation runs at the pair-scale width: every iteration's
    join/agg is over the (tiny) pair list, so task overhead — not data —
    dominates at core-count partitions."""
    from ..session import rebind

    pairs = rebind(lsh_verified_pairs(spark, sf_dir), _pair_session(spark))
    cc = rebind(connected_components(pairs), spark)
    sizes = cc.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return (
        cc.join(sizes, "label")
        .select(F.col("node").alias("doc_id"),
                F.col("label").alias("keep_doc_id"),
                "cluster_size")
        .orderBy("doc_id")
    )


def _twin_cc_labels(spark: SparkSession,
                    sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(exact_labels, lsh_labels) — connected components of BOTH the
    exact shingle-Jaccard pair list and the LSH-verified pair list,
    resolved in ONE propagation loop. NOT cached: the label
    propagation is the operator dedup_clusters is named for, so every
    call — including bench retries — re-runs it against the
    session-cached pair-list fixtures (VERDICT r13 item 1; the pair
    lists stay shared because three OTHER catalog queries consume
    them too — the materialize-then-reuse shape of a real dedup
    pipeline).

    Two tricks against the fixed per-job overhead that dominated the
    dedup_clusters bench entry (r12 'first-run stall', VERDICT item 1a):

    - the exact and LSH pair builds are independent once the shared
      shingle relation exists, so they run on two threads (Spark job
      submission is thread-safe; local[32] idles most cores during
      each build) — the slower build hides the faster one;
    - the two cluster graphs are disjoint by construction after
      offsetting the LSH copy's node ids past max(doc_id), so one
      min-label-propagation loop resolves both: labels can never cross
      between offset ranges, and each round costs the same fixed job
      overhead it would for either graph alone.
    """
    _shared_shingle_tok(spark, sf_dir)
    import threading

    from ..session import rebind

    # each pair build runs at the pair-scale width on its own private
    # session (exact_shingle_pairs, lsh_verified_pairs)
    results: dict[str, DataFrame] = {}
    errors: list[BaseException] = []

    def _run(name, fn):
        try:
            results[name] = fn(spark, sf_dir)
        except BaseException as exc:  # re-raised on the caller thread
            errors.append(exc)

    threads = [
        threading.Thread(target=_run, args=("exact", exact_shingle_pairs)),
        threading.Thread(target=_run, args=("lsh", lsh_verified_pairs)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    exact, ver = results["exact"], results["lsh"]
    # disjoint-range offset: one cheap agg over the two cached pair
    # lists (control-plane scalar, not data-plane collect)
    mx = (exact.select(F.col("doc_b").alias("m"))
          .unionByName(ver.select(F.col("doc_b").alias("m")))
          .agg(F.max("m")).collect()[0][0])
    off = int(mx or 0) + 1
    merged = (
        exact.select("doc_a", "doc_b")
        .unionByName(ver.select(
            (F.col("doc_a") + off).alias("doc_a"),
            (F.col("doc_b") + off).alias("doc_b")))
    )
    labels = rebind(connected_components(
        rebind(merged, _pair_session(spark))), spark)
    exact_cc = labels.filter(F.col("node") < off)
    lsh_cc = labels.filter(F.col("node") >= off).select(
        (F.col("node") - off).alias("node"),
        (F.col("label") - off).alias("label"))
    return exact_cc, lsh_cc


CLUSTER_AGREE_FLOOR = 0.7  # measured ≥0.9 (one missed LSH pair splits
                           # at most one cluster's labels)


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g
           FROM toks, UNNEST(generate_series(1, len(t)-2)) AS s(i)
           WHERE len(t) >= 3
           UNION
           SELECT DISTINCT doc_id, u.tok AS g
           FROM toks, UNNEST(t) AS u(tok)
           WHERE len(t) < 3),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
              FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    pairs AS (SELECT i.doc_a, i.doc_b
              FROM inter i JOIN sizes sa ON i.doc_a = sa.doc_id
              JOIN sizes sb ON i.doc_b = sb.doc_id
              WHERE i.c / CAST(sa.n + sb.n - i.c AS DOUBLE)
                    >= {JACCARD_THRESHOLD}),
    sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION ALL SELECT doc_b, doc_a FROM pairs),
    walk(node, label) AS (
      SELECT a, a FROM sym
      UNION
      SELECT e.b, w.label FROM walk w JOIN sym e ON w.node = e.a),
    labels AS (SELECT node, MIN(label) AS label FROM walk GROUP BY node),
    csize AS (SELECT label, COUNT(*) AS cluster_size FROM labels GROUP BY 1)
    SELECT l.node AS doc_id, l.label AS keep_doc_id, c.cluster_size,
           TRUE AS lsh_agree_ok
    FROM labels l JOIN csize c ON l.label = c.label
    ORDER BY doc_id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution under the value-hash gate: rows are
    the components of the EXACT shingle-Jaccard pair set (min-id labels
    — the oracle reproduces them with a recursive-CTE reachability
    closure, feasible because near-dup components are tiny), computed
    by the SAME distributed min-label-propagation routine the LSH path
    uses; ``lsh_agree_ok`` compares the LSH-derived clustering against
    it in-plan — the fraction of exactly-clustered docs to which the
    LSH pipeline assigns the same canonical representative must be
    ≥ {CLUSTER_AGREE_FLOOR}. So BOTH iterative paths run, and either a
    broken label propagation (wrong rows) or an LSH recall collapse
    (false boolean) fails the hash.
    SPARK_GRAFT_EXACT_TWIN=0 → the LSH pipeline's own clustering (label
    propagation over the LSH-verified pairs only)."""
    if not exact_twin_enabled():
        return lsh_clusters(spark, sf_dir)
    cc, lsh_cc = _twin_cc_labels(spark, sf_dir)
    sizes = cc.groupBy("label").agg(F.count("*").alias("cluster_size"))
    exact_clusters = (
        cc.join(sizes, "label")
        .select(F.col("node").alias("doc_id"),
                F.col("label").alias("keep_doc_id"), "cluster_size")
    )
    lsh = lsh_cc.select(F.col("node").alias("doc_id"),
                        F.col("label").alias("lsh_keep"))
    agree = (
        exact_clusters.join(lsh, "doc_id", "left")
        .agg((F.sum(F.when(F.col("lsh_keep") == F.col("keep_doc_id"), 1)
                    .otherwise(0)) * F.lit(1.0)
              / F.greatest(F.count("*"), F.lit(1))
              >= CLUSTER_AGREE_FLOOR).alias("lsh_agree_ok"))
    )
    return (
        exact_clusters.crossJoin(F.broadcast(agree))
        .orderBy("doc_id")
    )


def dedup_corpus_after_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup accounting: corpus size, near-dup clusters found,
    docs dropped (non-canonical cluster members), corpus size kept.

    Library function (not a catalog entry): it re-runs the whole
    shingle→MinHash→LSH→CC pipeline that ``dedup_clusters`` already
    benches — registering both would double-charge the bench for one
    capability. Covered by tests/test_dedup.py."""
    d = load_table(spark, sf_dir, "documents")
    clusters = dedup_clusters(spark, sf_dir).cache()  # 3 actions below
    dropped = clusters.filter(F.col("doc_id") != F.col("keep_doc_id"))
    n_docs = d.count()
    n_dropped = dropped.count()
    n_clusters = clusters.select("keep_doc_id").distinct().count()
    return spark.createDataFrame(
        [(n_docs, n_clusters, n_dropped, n_docs - n_dropped)],
        "n_docs long, n_clusters long, n_dropped long, n_kept long",
    )


# --- repeated-span (boilerplate) detection ----------------------------------

REPEAT_NGRAM_N = 10  # span width in tokens (word-level)


@register(
    "dedup_repeated_ngram_coverage",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents),
    grams AS (SELECT DISTINCT doc_id,
                     array_to_string(t[i:i+{REPEAT_NGRAM_N - 1}], ' ') AS g
              FROM toks,
                   UNNEST(generate_series(1, len(t)-{REPEAT_NGRAM_N - 1}))
                     AS s(i)
              WHERE len(t) >= {REPEAT_NGRAM_N}),
    df AS (SELECT g, COUNT(*) AS n_docs FROM grams GROUP BY g),
    per_doc AS (
      SELECT grams.doc_id,
             COUNT(*) AS n_grams,
             SUM(CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END) AS n_repeated
      FROM grams JOIN df USING (g) GROUP BY grams.doc_id)
    SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_repeated AS BIGINT) AS n_repeated,
           round(n_repeated / CAST(n_grams AS DOUBLE), 6) AS repeat_ratio
    FROM per_doc WHERE n_repeated > 0
    ORDER BY doc_id
    """,
)
def dedup_repeated_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-span (boilerplate) detection — the chunk-level sibling of
    document-level near-dup removal (Lee et al. '22, "Deduplicating
    Training Data Makes Language Models Better": repeated SPANS inside
    otherwise-distinct documents are what substring dedup targets): for
    every {REPEAT_NGRAM_N}-token window, count how many documents
    contain it; report per-document how much of its distinct window set
    is shared with at least one other document. Docs shorter than the
    window are out of frame (mirrored in the oracle — the shingle_expr
    unigram fallback is for SET-similarity, wrong for span semantics).

    Scale shape: one explode (repartitioned first, same discipline as
    _doc_shingles), ONE hash shuffle for the document-frequency count,
    one join back — never pairs, never positions; output is
    doc-cardinality. The production decision this feeds (drop/trim docs
    with repeat_ratio above a threshold) is a filter on this relation."""
    d = load_table(spark, sf_dir, "documents")
    d = d.repartition(corpus_partitions(spark, sf_dir), "doc_id")
    ws = F.split("text", " ")
    # the window is only ever a GROUP/JOIN KEY, never output — so hash
    # the token slice instead of materializing the window string (guide
    # §2.3: shuffle keys and hashes, not payloads). Kills the
    # per-window concat, dedups 16-byte keys instead of ~70-byte
    # strings. Equal windows hash equal; the key is a TWO-SEED 128-bit
    # struct (the second xxhash64 re-seeded by a prepended literal), so
    # birthday collisions stay negligible at the declared 100 TB scale
    # — a single 64-bit key drifts once distinct windows approach 2^32,
    # which a web-scale corpus exceeds (VERDICT r14 item 6 / ADVICE).
    # Parity at every SF pins the exact counts.
    grams = F.transform(
        F.sequence(F.lit(1), F.size(ws) - F.lit(REPEAT_NGRAM_N - 1)),
        lambda i: F.struct(
            F.xxhash64(F.slice(ws, i, REPEAT_NGRAM_N)).alias("h1"),
            F.xxhash64(F.lit(1), F.slice(ws, i, REPEAT_NGRAM_N))
            .alias("h2")),
    )
    g = (d.filter(F.size(ws) >= REPEAT_NGRAM_N)
         .select("doc_id", F.explode(F.array_distinct(grams)).alias("g")))
    df_counts = g.groupBy("g").agg(F.count("*").alias("n_docs"))
    per_doc = (
        g.join(df_counts, "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_grams"),
             F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
             .alias("n_repeated"))
    )
    return (
        per_doc.filter(F.col("n_repeated") > 0)
        .select("doc_id", "n_grams", "n_repeated",
                F.round(F.col("n_repeated") / F.col("n_grams").cast("double"),
                        6).alias("repeat_ratio"))
        .orderBy("doc_id")
    )

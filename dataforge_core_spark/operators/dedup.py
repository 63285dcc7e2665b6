"""Deduplication operators over the ``documents`` table.

Designed for 100 TB corpora: every algorithm is expressed as shuffle-based
DataFrame transformations (group-by / band-join), no driver-side state.

- exact dedup        : hash-groupBy on a normalized-text digest.  Grouping
                       by md5(norm) instead of the full text keeps shuffle
                       rows small at scale.
- MinHash + LSH      : shingle -> N minhash signatures -> banded bucket
                       keys -> candidate pairs via band self-join -> exact
                       Jaccard verification.  The minhash family used is
                       ``min over shingles of md5(i || ':' || shingle)``
                       (lexicographic min of an independent uniform hash
                       per permutation index) — portable and deterministic
                       across engines, so the DuckDB oracle reproduces it
                       bit-for-bit.
- n-gram Jaccard     : exact pairwise Jaccard restricted to pairs sharing
                       at least one shingle (explode + join on shingle —
                       the scalable form of "compare all pairs").

All heavy expressions are JVM-side built-ins (higher-order array
functions) — no Python UDFs in any hot path.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from dataforge_core_spark.operators._store import stored
from dataforge_core_spark.session import (
    free_local_checkpoint,
    session_key,
    sql_conf,
)
from dataforge_core_spark.sources.readers import read_table

MINHASH_N = 12  # signature length
MINHASH_BANDS = 4  # bands of r = N/BANDS rows
MINHASH_R = MINHASH_N // MINHASH_BANDS
JACCARD_THRESHOLD = 0.2


# -- shared SQL fragments (per dialect) ------------------------------------

# COALESCE: a NULL text would otherwise tokenize to a NULL array, which
# posexplode drops entirely on the Spark side while DuckDB's inline
# len(tok) emits a NULL-count row — a silent engine divergence on any
# corpus with NULL docs.  Coalescing INSIDE the shared fragment keeps
# both engines on the same semantics by construction: NULL text == ''
# == one empty token, so _token_base-derived lens/histograms keep a row
# for every document.
_SPARK_NORM = "lower(trim(regexp_replace(coalesce(text, ''), '\\\\s+', ' ')))"
_DUCK_NORM = "lower(trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')))"

_SPARK_TOKENS = f"split({_SPARK_NORM}, ' ')"
_DUCK_TOKENS = f"string_split({_DUCK_NORM}, ' ')"

# 3-word shingles (with duplicates — deduped row-level by SELECT DISTINCT
# after explode: array_distinct() falls out of whole-stage codegen and was
# ~20x slower than a shuffle distinct); empty when < 3 tokens
_SPARK_SHINGLES = (
    "CASE WHEN size(tok) >= 3 THEN transform(sequence(1, size(tok) - 2), "
    "i -> array_join(slice(tok, i, 3), ' ')) ELSE array() END"
)
_DUCK_SHINGLES = (
    "list_transform(generate_series(1, len(tok) - 2), "
    "i -> array_to_string(list_slice(tok, i, i + 2), ' '))"
)


# MinHash permutation family (Kirsch-Mitzenmacher style): one md5 per
# shingle -> 56-bit base hash h, then perm_i(h) = (a_i*h + b_i) mod P with
# deterministic per-index constants.  Signatures are computed as MIN()
# hash-aggregates over exploded (doc_id, h) rows — fully whole-stage
# codegen'd (no higher-order lambdas, which Spark interprets row-at-a-time
# and which defeat projection-collapse caching), and the natural shape at
# scale: one shuffle keyed by doc_id with map-side partial MINs.
_P = 1_000_000_007  # keeps a_i*h < 2^60: no int64 overflow on either engine

# 56-bit base hash per shingle (both engines parse 14 hex chars of md5 ->
# BIGINT).  The shared shingle relation stores THIS value instead of the
# shingle string: bigint shuffle keys are ~4x smaller than 3-gram strings
# at any corpus size, and both engines hash identically, so the (already
# negligible) collision behavior is engine-identical.  MinHash reduces it
# mod P on top; Jaccard set ops use the full 56 bits.
_SPARK_H = "CAST(conv(substr(md5(s), 1, 14), 16, 10) AS BIGINT)"
_DUCK_H = "('0x' || substr(md5(s), 1, 14))::BIGINT"


def _perm_consts(n: int) -> list[tuple[int, int]]:
    return [((i * 2654435761 + 1) % _P, (i * 40503 + 17) % _P) for i in range(n)]


def _sig_cols(n: int) -> str:
    return ", ".join(
        f"MIN(({a} * h + {b}) % {_P}) AS s{i}"
        for i, (a, b) in enumerate(_perm_consts(n))
    )


def _band_keys(bands: int, r: int) -> list[str]:
    return [
        "md5(concat_ws(',', '" + str(b) + "', "
        + ", ".join(f"s{b * r + j}" for j in range(r))
        + "))"
        for b in range(bands)
    ]


# -- queries ----------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups keyed by md5 of normalized text.

    The REPARTITION hint spreads the single-file local scan; the window's
    partition key is the digest, so group state is one shuffle wide."""
    par = spark.sparkContext.defaultParallelism
    read_table(spark, f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(
        f"""
        SELECT /*+ REPARTITION({par}) */ doc_id,
               MIN(doc_id)  OVER (PARTITION BY k) AS canonical_id,
               COUNT(*)     OVER (PARTITION BY k) AS group_size,
               doc_id <> MIN(doc_id) OVER (PARTITION BY k) AS is_dup
        FROM (SELECT doc_id, md5({_SPARK_NORM}) AS k FROM documents)
        """
    )


_DEDUP_EXACT_ORACLE = f"""
SELECT doc_id,
       MIN(doc_id)  OVER (PARTITION BY k) AS canonical_id,
       COUNT(*)     OVER (PARTITION BY k) AS group_size,
       doc_id <> MIN(doc_id) OVER (PARTITION BY k) AS is_dup
FROM (SELECT doc_id, md5({_DUCK_NORM}) AS k FROM documents)
"""


def _duck_ex_sql() -> str:
    """DuckDB equivalent of `_ex_df`: distinct (doc_id, shingle-hash)."""
    return f"""
        WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS tok FROM documents),
        shingled AS (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM toks)
        SELECT DISTINCT doc_id, {_DUCK_H} AS s
        FROM (SELECT doc_id, unnest(sh) AS s FROM shingled)
    """


@stored("dedup_shingles")
def _ex_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, shingle-hash) relation, persisted once per
    (session, sf) — the shared base of minhash and n-gram Jaccard.
    The 56-bit hash (see _SPARK_H) replaces the shingle string: every
    downstream shuffle/join keys on a bigint instead of a ~20-byte
    string, identically on both engines.

    Built with posexplode + window lead() instead of array lambdas: every
    operator here is whole-stage-codegen'd (higher-order array functions
    are interpreted row-at-a-time, and the optimizer's inferred
    ``size(shingles) > 0`` generate-filter pushes that lambda below the
    repartition into the single-file scan — 10x+ slower).  The explicit
    repartition spreads the single-file local scan across all cores; on a
    real multi-file corpus the scan is already parallel.  At 100 TB the
    persist becomes a parquet checkpoint keyed by doc partition.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    toks = _token_base(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("pos")
    sh = toks.select(
        "doc_id",
        F.concat_ws(
            " ", "tk", F.lead("tk", 1).over(w), F.lead("tk", 2).over(w)
        ).alias("s"),
        F.lead("tk", 2).over(w).isNotNull().alias("ok"),
    )
    # localCheckpoint, NOT lazy persist (r10): with persist, the
    # window-over-token-base re-derivation leaked into consumers on
    # cache-plan mismatches — train_contamination measured 0.86s
    # persist vs 0.44s checkpointed at sf0.1 warm; the checkpoint
    # truncates lineage to the materialized blocks so every consumer
    # is a LogicalRDD scan (same rule as _normed / _token_base)
    return (
        sh.filter("ok")
        .selectExpr("doc_id", f"{_SPARK_H} AS s")
        .distinct()
        .localCheckpoint(eager=True)
    )


@stored("token_base")
def _token_base(spark: SparkSession, sf_dir: str):
    """THE single corpus tokenize pass: checkpointed exploded
    (doc_id, pos, tk) relation every token-consuming index derives
    from — 3-gram shingles (_ex_df, window lead), 8-token substring
    windows (_substr_views), the CMS matrix (multiplicity counts) and
    simhash signatures (per-occurrence md5) all use the IDENTICAL
    normalization (_SPARK_TOKENS), so before this each ran its own
    scan + split + explode over the corpus: four tokenize passes in
    the index phase.  At 100 TB this is the difference between one
    corpus read and four (there it would be a written intermediate
    partitioned by doc rather than a localCheckpoint).  pos is 0-based
    (posexplode), matching the sequence(0, n-w) convention of the
    substring SQL."""
    from pyspark.sql import functions as F

    par = spark.sparkContext.defaultParallelism
    docs = read_table(spark, f"{sf_dir}/documents.parquet")
    return (
        docs.repartition(par, "doc_id")
        .select(
            "doc_id",
            F.posexplode(F.expr(_SPARK_TOKENS)).alias("pos", "tk"),
        )
        .localCheckpoint(eager=True)
    )


def _token_base_view(spark: SparkSession, sf_dir: str) -> str:
    """Temp-view name over the checkpointed token base (one per
    session/sf) — for SQL-text consumers (simhash, CMS, the explode-
    shaped text lanes)."""
    key = (session_key(spark), sf_dir)
    name = f"token_base_{abs(hash(key)) % 10**8}"
    _token_base(spark, sf_dir).createOrReplaceTempView(name)
    return name


def _jaccard_verify(ex: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate (doc_a, doc_b) pairs from the distinct
    shingle relation ex(doc_id, s).

    Shape: one groupBy packs each doc's distinct shingle hashes into a
    sorted array (|ex| shuffle, paid once), then the candidate relation
    joins that compact per-doc row on each side and the intersection is
    ``size(array_intersect(...))`` evaluated in place.  The earlier
    form joined cand to the EXPLODED shingle relation on doc_a and then
    shuffled a |pairs| x |shingles/doc| intermediate into the doc_b
    shingle join — at sf0.1 that intermediate was ~50s of the index
    build; the pair-keyed array join is sized to |pairs| + 2 compact
    probes instead.  array_intersect is a JVM collection expression
    (hash-set membership, not an interpreted lambda), and per-doc array
    width is bounded by document length, so the row size stays bounded
    at 100 TB too."""
    from pyspark.sql import functions as F

    # pre-partition by the group key: partial collect_list cannot
    # reduce bytes, so the pack exchange carries plain rows instead of
    # object-serialized list buffers (r15, guide §2.3)
    arrs = ex.repartition("doc_id").groupBy("doc_id").agg(
        F.sort_array(F.collect_list("s")).alias("arr")
    )
    aa = arrs.toDF("doc_a", "arr_a")
    ab = arrs.toDF("doc_b", "arr_b")
    jac = F.expr("CAST(inter_n AS DOUBLE) / (n_a + n_b - inter_n)")
    # the integer basis (inter_n, n_a, n_b) rides along so downstream
    # consumers (the minhash accuracy eval) can derive exact integer
    # ratios without re-joining the shingle relation
    return (
        cand.join(aa, "doc_a")
        .join(ab, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr("size(array_intersect(arr_a, arr_b))").alias("inter_n"),
            F.expr("size(arr_a)").alias("n_a"),
            F.expr("size(arr_b)").alias("n_b"),
        )
        .filter("inter_n > 0")
        .select("doc_a", "doc_b", "inter_n", "n_a", "n_b",
                jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# skew guard: a band bucket holding > MAX_BAND_BUCKET docs contributes
# O(n^2) candidate pairs while carrying almost no signal (it means 1/BANDS
# of the signature collided across a huge set — boilerplate/empty docs).
# Oversized buckets are SALTED: their docs split into ceil(n/MAX)
# deterministic residue groups (doc_id % nsalt) and pairs generate only
# within a group, capping the worst key's join fan-out at ~MAX^2 rows
# while keeping partial recall (a hot-bucket pair survives when both
# docs share a residue — probability 1/nsalt per band, and the other
# bands still contribute their full recall).  The same rule is applied
# in the oracle so results stay engine-identical.
MAX_BAND_BUCKET = 1000


def dedup_minhash(
    spark: SparkSession,
    sf_dir: str,
    max_band_bucket: int | None = None,
    bands: int | None = None,
    rows: int | None = None,
) -> DataFrame:
    """MinHash/LSH candidate pairs + exact-Jaccard verification.

    The verified pair set is persisted per (session, sf): the clustering
    operator consumes it as its edge list, so one materialization serves
    both driver rows (at scale: the stored near-dup pair table).

    ``bands``/``rows`` select the LSH layout over the first
    bands*rows <= MINHASH_N signature columns (default 4x3) — the dial
    dedup_lsh_band_curve prices: fewer bands x longer rows pushes the
    S-curve knee right (high precision), more bands x shorter rows
    pushes it left (high recall).  Candidate sets refine monotonically
    along the divisor chain (every full r-row band match implies a
    match of each of its sub-bands), pinned by test."""
    cap = MAX_BAND_BUCKET if max_band_bucket is None else max_band_bucket
    wide = _verified_pairs(
        spark,
        sf_dir,
        cap,
        MINHASH_BANDS if bands is None else bands,
        MINHASH_R if rows is None else rows,
    )
    return wide.select("doc_a", "doc_b", "jaccard")


def _minhash_sig_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MINHASH_N-column signature table over the cached shingle
    relation (shared by pair generation and the accuracy eval)."""
    from pyspark.sql import functions as F

    ex = _ex_df(spark, sf_dir)
    return (
        ex.selectExpr("doc_id", f"s % {_P} AS h")
        .groupBy("doc_id")
        .agg(
            *[
                F.expr(f"MIN(({a} * h + {b}) % {_P})").alias(f"s{i}")
                for i, (a, b) in enumerate(_perm_consts(MINHASH_N))
            ]
        )
    )


@stored("dedup_minhash_pairs")
def _verified_pairs(
    spark: SparkSession,
    sf_dir: str,
    cap: int = MAX_BAND_BUCKET,
    bands_n: int = MINHASH_BANDS,
    rows_n: int = MINHASH_R,
) -> DataFrame:
    """Verified near-dup pairs WITH their integer basis
    (inter_n, n_a, n_b), persisted per (session, sf, cap, layout) and
    materialized before it is returned."""
    from pyspark.sql import functions as F

    if bands_n < 1 or rows_n < 1 or bands_n * rows_n > MINHASH_N:
        raise ValueError(
            f"LSH layout {bands_n}x{rows_n} exceeds the "
            f"{MINHASH_N}-column signature"
        )
    ex = _ex_df(spark, sf_dir)
    sig = _minhash_sig_df(spark, sf_dir)
    keys = ", ".join(_band_keys(bands_n, rows_n))
    bands = sig.selectExpr(
        "doc_id", f"explode(array({keys})) AS band_key"
    )
    # oversized-bucket salting: the heavy-key table is tiny by
    # construction, so attaching nsalt is a map-side broadcast join;
    # normal buckets get nsalt 1 (salt 0 both sides — unchanged)
    heavy = (
        bands.groupBy("band_key")
        .count()
        .filter(F.col("count") > cap)
        .select(
            "band_key",
            F.ceil(F.col("count") / cap).alias("nsalt"),
        )
    )
    salted = bands.join(F.broadcast(heavy), "band_key", "left").select(
        F.col("band_key"),
        F.col("doc_id"),
        F.expr("doc_id % coalesce(nsalt, 1)").alias("salt"),
    )
    b2 = salted.toDF("band_key_b", "doc_id_b", "salt_b")
    cand = (
        salted.join(
            b2,
            (F.col("band_key") == F.col("band_key_b"))
            & (F.col("salt") == F.col("salt_b"))
            & (F.col("doc_id") < F.col("doc_id_b")),
        )
        .select(
            F.col("doc_id").alias("doc_a"), F.col("doc_id_b").alias("doc_b")
        )
        .distinct()
    )
    out = _jaccard_verify(ex, cand).persist()
    out.count()
    return out


def _minhash_chain(
    max_band_bucket: int = MAX_BAND_BUCKET,
    bands_n: int = MINHASH_BANDS,
    rows_n: int = MINHASH_R,
) -> str:
    """The shared DuckDB CTE chain ex -> sig -> cand -> sizes/inter
    (no WITH, no final SELECT) — base of the minhash pair oracle and
    the accuracy-eval oracle."""
    return f"""ex AS ({_duck_ex_sql()}),
hx AS (SELECT doc_id, s % {_P} AS h FROM ex),
sig AS (
  SELECT doc_id, {_sig_cols(MINHASH_N)}
  FROM hx GROUP BY doc_id
),
bands AS (
  SELECT doc_id,
         unnest([{", ".join(_band_keys(bands_n, rows_n))}])
           AS band_key
  FROM sig
),
heavy AS (
  SELECT band_key,
         CAST(CEIL(CAST(COUNT(*) AS DOUBLE) / {max_band_bucket}) AS BIGINT)
           AS nsalt
  FROM bands GROUP BY band_key HAVING COUNT(*) > {max_band_bucket}
),
salted AS (
  SELECT b.doc_id, b.band_key, b.doc_id % COALESCE(h.nsalt, 1) AS salt
  FROM bands b LEFT JOIN heavy h ON b.band_key = h.band_key
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM salted a JOIN salted b
    ON a.band_key = b.band_key AND a.salt = b.salt AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter_n
  FROM cand c
  JOIN ex ea ON ea.doc_id = c.doc_a
  JOIN ex eb ON eb.doc_id = c.doc_b AND ea.s = eb.s
  GROUP BY c.doc_a, c.doc_b
)"""


def _minhash_oracle(
    max_band_bucket: int = MAX_BAND_BUCKET,
    bands: int = MINHASH_BANDS,
    rows: int = MINHASH_R,
) -> str:
    return f"""
WITH {_minhash_chain(max_band_bucket, bands, rows)}
SELECT i.doc_a, i.doc_b,
       CAST(i.inter_n AS DOUBLE) / (sa.n + sb.n - i.inter_n) AS jaccard
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE CAST(i.inter_n AS DOUBLE) / (sa.n + sb.n - i.inter_n)
      >= {JACCARD_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# MinHash estimator accuracy: per verified pair, the signature-match
# Jaccard ESTIMATE (matched sigs / N) against the EXACT shingle Jaccard
# — the index-quality eval of the dedup side, the counterpart of
# ann_recall_eval on the ANN side (it answers "are 12 signatures /
# 4 bands enough at this threshold, or are we mis-ranking pairs?").
# Both ratios are exact integer ppm (positive integer division), and
# the integer basis (inter_n, n_a, n_b) rides on the cached pair frame
# — no extra shingle join; one signature-table join pair, pair-keyed.
# ---------------------------------------------------------------------------


def dedup_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimate-vs-exact Jaccard (ppm) per verified near-dup pair."""
    from pyspark.sql import functions as F

    pairs = _verified_pairs(spark, sf_dir, MAX_BAND_BUCKET)
    sig = _minhash_sig_df(spark, sf_dir)
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"s{i}").alias(f"a{i}") for i in range(MINHASH_N)],
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"s{i}").alias(f"b{i}") for i in range(MINHASH_N)],
    )
    matched = " + ".join(
        f"CASE WHEN a{i} = b{i} THEN 1 ELSE 0 END"
        for i in range(MINHASH_N)
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            f"CAST(({matched}) AS INT) AS sig_matched",
            f"CAST((1000000 * ({matched})) DIV {MINHASH_N} AS BIGINT)"
            " AS est_ppm",
            "CAST((1000000 * inter_n) DIV (n_a + n_b - inter_n) AS BIGINT)"
            " AS exact_ppm",
        )
        .selectExpr(
            "doc_a",
            "doc_b",
            "sig_matched",
            "est_ppm",
            "exact_ppm",
            "CAST(ABS(est_ppm - exact_ppm) AS BIGINT) AS err_ppm",
        )
    )


BAND_GRID = (1, 2, 3, 4, 6, 12)  # divisors of MINHASH_N


def _band_catch_expr(bands: int, a: str = "a", b: str = "b") -> str:
    """1 iff the two signatures agree on ALL rows of >= 1 band under a
    (bands x MINHASH_N/bands) layout — pure expression per pair row."""
    r = MINHASH_N // bands
    ors = " OR ".join(
        "("
        + " AND ".join(
            f"{a}{bi * r + j} = {b}{bi * r + j}" for j in range(r)
        )
        + ")"
        for bi in range(bands)
    )
    return f"CASE WHEN {ors} THEN 1 ELSE 0 END"


def dedup_lsh_band_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH banding tuning curve — the dedup counterpart of
    ann_nprobe_recall_curve: for every (bands, rows) layout of the
    MINHASH_N=12 signature, the catch rate of near-dup pairs BY exact-
    Jaccard decile (the S-curve of Leskovec-Rajaraman-Ullman ch.3,
    measured on real pairs).  A deployment reads this to pick the
    banding whose threshold knee sits at its dup definition.

    Scope: evaluated over the VERIFIED candidate pair set (the stored
    near-dup pair table) — catch rate CONDITIONAL on a pair being a
    near-dup candidate at the production 4x3 setting; configs with
    fewer bands than production can only lose pairs (monotone in
    bands, pinned by test), which is exactly the trade the curve
    prices.  One pass: every config's caught flag is a pure expression
    over the pair's 24 signature columns — no per-config joins or
    re-probes."""
    from pyspark.sql import functions as F

    pairs = _verified_pairs(spark, sf_dir, MAX_BAND_BUCKET)
    sig = _minhash_sig_df(spark, sf_dir)
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"s{i}").alias(f"a{i}") for i in range(MINHASH_N)],
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"s{i}").alias(f"b{i}") for i in range(MINHASH_N)],
    )
    structs = ", ".join(
        f"named_struct('bands', {bc}, 'caught', {_band_catch_expr(bc)})"
        for bc in BAND_GRID
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .selectExpr(
            "CAST((1000000 * inter_n) DIV (n_a + n_b - inter_n)"
            " DIV 100000 AS INT) AS jac_decile",
            f"explode(array({structs})) AS e",
        )
        .selectExpr("e.bands AS bands", "jac_decile", "e.caught AS caught")
        .groupBy("bands", "jac_decile")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_pairs"),
            F.expr("CAST(SUM(caught) AS BIGINT)").alias("n_caught"),
            F.expr(
                "CAST((1000000 * SUM(caught)) DIV COUNT(*) AS BIGINT)"
            ).alias("catch_ppm"),
        )
    )


def _lsh_band_curve_oracle() -> str:
    blocks = []
    for bc in BAND_GRID:
        catch = _band_catch_expr(bc, "a.s", "b.s")
        blocks.append(f"""
  SELECT CAST({bc} AS INTEGER) AS bands, jac_decile,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(caught) AS BIGINT) AS n_caught,
         CAST((1000000 * SUM(caught)) // COUNT(*) AS BIGINT) AS catch_ppm
  FROM (
    SELECT CAST((1000000 * v.inter_n) // (v.union_n) // 100000
             AS INTEGER) AS jac_decile,
           {catch} AS caught
    FROM ver v
    JOIN sig a ON a.doc_id = v.doc_a
    JOIN sig b ON b.doc_id = v.doc_b
  ) t GROUP BY jac_decile""")
    union = "\n  UNION ALL\n".join(blocks)
    return f"""
WITH {_minhash_chain(MAX_BAND_BUCKET)},
ver AS MATERIALIZED (
  SELECT i.doc_a, i.doc_b, i.inter_n,
         sa.n + sb.n - i.inter_n AS union_n
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE i.inter_n > 0
    AND CAST(i.inter_n AS DOUBLE) / (sa.n + sb.n - i.inter_n)
        >= {JACCARD_THRESHOLD}
)
{union}
"""


def _minhash_accuracy_oracle() -> str:
    matched = " + ".join(
        f"CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END"
        for i in range(MINHASH_N)
    )
    return f"""
WITH {_minhash_chain(MAX_BAND_BUCKET)},
ver AS (
  SELECT i.doc_a, i.doc_b, i.inter_n,
         sa.n + sb.n - i.inter_n AS union_n
  FROM inter i
  JOIN sizes sa ON i.doc_a = sa.doc_id
  JOIN sizes sb ON i.doc_b = sb.doc_id
  WHERE CAST(i.inter_n AS DOUBLE) / (sa.n + sb.n - i.inter_n)
        >= {JACCARD_THRESHOLD}
),
m AS (
  SELECT v.doc_a, v.doc_b, v.inter_n, v.union_n,
         CAST({matched} AS INTEGER) AS sig_matched
  FROM ver v
  JOIN sig a ON a.doc_id = v.doc_a
  JOIN sig b ON b.doc_id = v.doc_b
)
SELECT doc_a, doc_b, sig_matched,
       CAST((1000000 * sig_matched) // {MINHASH_N} AS BIGINT) AS est_ppm,
       CAST((1000000 * inter_n) // union_n AS BIGINT) AS exact_ppm,
       CAST(ABS((1000000 * sig_matched) // {MINHASH_N}
            - (1000000 * inter_n) // union_n) AS BIGINT) AS err_ppm
FROM m
"""


# ---------------------------------------------------------------------------
# Incremental (batch-vs-corpus) dedup — the shape production pipelines
# actually run daily: an arriving batch is checked against the EXISTING
# corpus, not all-pairs.  The batch is documents with doc_id % 10 >= 8
# (a deterministic 20% "today"), the corpus is the rest.  Each new doc
# gets a disposition: exact_dup (normalized digest already in the
# corpus — digest-keyed join, new side is the small/broadcast side at
# scale), near_dup (a verified minhash pair crossing the batch/corpus
# boundary — reuses the cached pair index; at scale the band join is
# new-batch x corpus-index, not corpus x corpus), else unique.
# ---------------------------------------------------------------------------

INCR_MOD = 10
INCR_NEW_GE = 8  # doc_id % INCR_MOD >= this -> "new batch"


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disposition (exact_dup / near_dup / unique) for each new-batch doc."""
    pairs = _verified_pairs(spark, sf_dir, MAX_BAND_BUCKET)
    pairs.select("doc_a", "doc_b").createOrReplaceTempView("mh_pairs")
    read_table(spark, f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    new_a = f"doc_a % {INCR_MOD} >= {INCR_NEW_GE}"
    new_b = f"doc_b % {INCR_MOD} >= {INCR_NEW_GE}"
    return spark.sql(
        f"""
        WITH d AS (SELECT doc_id, md5({_SPARK_NORM}) AS k FROM documents),
        newb AS (SELECT * FROM d WHERE doc_id % {INCR_MOD} >= {INCR_NEW_GE}),
        corp AS (SELECT * FROM d WHERE doc_id % {INCR_MOD} < {INCR_NEW_GE}),
        ex AS (SELECT DISTINCT n.doc_id FROM newb n
               JOIN corp o ON o.k = n.k),
        nr AS (SELECT DISTINCT CASE WHEN {new_a} THEN doc_a ELSE doc_b END
                 AS doc_id
               FROM mh_pairs WHERE ({new_a}) <> ({new_b}))
        SELECT n.doc_id,
               CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                    WHEN r.doc_id IS NOT NULL THEN 'near_dup'
                    ELSE 'unique' END AS status
        FROM newb n
        LEFT JOIN ex e ON e.doc_id = n.doc_id
        LEFT JOIN nr r ON r.doc_id = n.doc_id
        """
    )


def _incremental_oracle() -> str:
    new_a = f"doc_a % {INCR_MOD} >= {INCR_NEW_GE}"
    new_b = f"doc_b % {INCR_MOD} >= {INCR_NEW_GE}"
    return f"""
WITH mh_pairs AS ({_minhash_oracle()}),
d AS (SELECT doc_id, md5({_DUCK_NORM}) AS k FROM documents),
newb AS (SELECT * FROM d WHERE doc_id % {INCR_MOD} >= {INCR_NEW_GE}),
corp AS (SELECT * FROM d WHERE doc_id % {INCR_MOD} < {INCR_NEW_GE}),
ex AS (SELECT DISTINCT n.doc_id FROM newb n JOIN corp o ON o.k = n.k),
nr AS (SELECT DISTINCT CASE WHEN {new_a} THEN doc_a ELSE doc_b END AS doc_id
       FROM mh_pairs WHERE ({new_a}) <> ({new_b}))
SELECT n.doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
            WHEN r.doc_id IS NOT NULL THEN 'near_dup'
            ELSE 'unique' END AS status
FROM newb n
LEFT JOIN ex e ON e.doc_id = n.doc_id
LEFT JOIN nr r ON r.doc_id = n.doc_id
"""


def scalar_sig_exprs() -> tuple[str, list[str]]:
    """The AGGREGATION-FREE minhash signature (stream-side): given a
    shingle-string array column ``sh``, ``hs`` is the sorted distinct
    56-bit hash array and each sig expr is an array_min over the
    permuted ``hm`` (= transform(hs, h -> h % P)) — the same multiset
    MIN as _minhash_sig_df's aggregate form, so the values are
    identical by construction (pinned on adversarial texts by
    tests/test_streaming.py::test_scalar_signature_matches_batch).
    A streaming query can hold only one stateful aggregation, which is
    why the signature must not be one."""
    h = "CAST(conv(substr(md5(x), 1, 14), 16, 10) AS BIGINT)"
    hs = f"array_sort(array_distinct(transform(sh, x -> {h})))"
    sig = [
        f"array_min(transform(hm, h -> ({a} * h + {b}) % {_P})) AS s{i}"
        for i, (a, b) in enumerate(_perm_consts(MINHASH_N))
    ]
    return hs, sig


@stored("near_dedup_probe_index")
def _near_dedup_stored(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str, DataFrame, DataFrame]:
    """(band view, exact-key view, their frames): the corpus-side probe
    index of the STREAMING near-dedup gate
    (streaming_rows.stream_near_dedup).
    Corpus docs only (doc_id % INCR_MOD < INCR_NEW_GE):

    - banded minhash rows (band_key, doc_id, chs) where chs is the
      doc's sorted distinct shingle-hash array, carried so a probing
      stream row verifies exact Jaccard IN PLACE (array_intersect on
      the joined row — no second join back to the shingle relation);
      rows per band key capped at MAX_BAND_BUCKET by doc_id rank (the
      deterministic hot-bucket guard, mirrored in the oracle);
    - the distinct md5 exact-key set.

    Both derive from the checkpointed shingle/signature relations (one
    corpus read) and are themselves checkpointed: at scale this IS the
    stored dedup index a continuous ingest probes."""
    from pyspark.sql import functions as F

    corp = f"doc_id % {INCR_MOD} < {INCR_NEW_GE}"
    ex = _ex_df(spark, sf_dir).filter(corp)
    # pre-partitioned pack — see _jaccard_verify
    arrs = ex.repartition("doc_id").groupBy("doc_id").agg(
        F.sort_array(F.collect_list("s")).alias("chs")
    )
    keys = ", ".join(_band_keys(MINHASH_BANDS, MINHASH_R))
    bands = (
        _minhash_sig_df(spark, sf_dir)
        .filter(corp)
        .selectExpr("doc_id", f"explode(array({keys})) AS band_key")
        .join(arrs, "doc_id")
        .selectExpr(
            "band_key",
            "doc_id",
            "chs",
            "ROW_NUMBER() OVER (PARTITION BY band_key ORDER BY doc_id)"
            " AS rn",
        )
        .filter(f"rn <= {MAX_BAND_BUCKET}")
        .drop("rn")
        .localCheckpoint(eager=True)
    )
    kdf = (
        read_table(spark, f"{sf_dir}/documents.parquet")
        .filter(corp)
        .selectExpr(f"md5({_SPARK_NORM}) AS ck")
        .distinct()
        .localCheckpoint(eager=True)
    )
    tag = abs(hash((session_key(spark), sf_dir))) % 10**8
    bname, kname = f"nd_bands_{tag}", f"nd_keys_{tag}"
    bands.createOrReplaceTempView(bname)
    kdf.createOrReplaceTempView(kname)
    return bname, kname, bands, kdf


def _near_dedup_index(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    return _near_dedup_stored(spark, sf_dir)[:2]


def dedup_index_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew observability across the five bucketed pair/probe indexes —
    the MEASUREMENT companion of the salting/cap guards: per index
    (minhash bands, simhash bands, embedding hyperplane buckets, IVF
    cells, phash image bands) the bucket count, row count, worst
    bucket and the number of buckets over that index's cap (what the
    guard would salt/cap).  At 100 TB this is the report an operator
    reads BEFORE a dedup run to see whether the
    quadratic-within-bucket work is bounded; all five
    distributions come from the already-checkpointed index relations
    (the minhash band fan-out is one aggregate over the persisted
    shingle-signature base), each a constant-per-bucket-cardinality
    map-side-combinable GROUP BY."""
    from pyspark.sql import functions as F

    from dataforge_core_spark.operators import simhash
    from dataforge_core_spark.operators import similarity as S

    keys = ", ".join(_band_keys(MINHASH_BANDS, MINHASH_R))
    mh = (
        _minhash_sig_df(spark, sf_dir)
        .selectExpr(
            "'minhash_bands' AS index_name",
            f"explode(array({keys})) AS bucket",
        )
    )
    sb = simhash._salted_bands(
        spark, sf_dir, simhash.MAX_BLOCK_BUCKET
    ).selectExpr(
        "'simhash_bands' AS index_name",
        "concat(CAST(bno AS STRING), ':', blk) AS bucket",
    )
    v = S._normed(spark, sf_dir)
    eb = spark.sql(
        "SELECT 'embedding_buckets' AS index_name,"
        f" CAST(bucket AS STRING) AS bucket FROM {v}"
    )
    af, _cv = S._kmeans_index(spark, sf_dir)
    iv = spark.sql(
        "SELECT 'ivf_cells' AS index_name,"
        f" CAST(cid AS STRING) AS bucket FROM {af}"
    )
    from dataforge_core_spark.operators import multimodal as MM

    pb = (
        MM._phash_df(spark, sf_dir)
        .selectExpr(
            f"posexplode(array({MM.PHASH.blocks()})) AS (bno, bv)"
        )
        .selectExpr(
            "'phash_bands' AS index_name",
            "concat(CAST(bno AS STRING), ':', CAST(bv AS STRING))"
            " AS bucket",
        )
    )
    cap = (
        f"CASE index_name WHEN 'minhash_bands' THEN {MAX_BAND_BUCKET}"
        f" WHEN 'simhash_bands' THEN {simhash.MAX_BLOCK_BUCKET}"
        f" WHEN 'embedding_buckets' THEN {S.EMB_BUCKET_CAP}"
        f" WHEN 'phash_bands' THEN {MM.MAX_PHASH_BUCKET}"
        f" ELSE {S.IVF_CELL_CAP} END"
    )
    return (
        mh.unionByName(sb)
        .unionByName(eb)
        .unionByName(iv)
        .unionByName(pb)
        .groupBy("index_name", "bucket")
        .agg(F.count("*").alias("cnt"))
        .groupBy("index_name")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_buckets"),
            F.expr("CAST(SUM(cnt) AS BIGINT)").alias("n_rows"),
            F.expr("CAST(MAX(cnt) AS BIGINT)").alias("max_bucket"),
            F.expr(
                f"CAST(SUM(CASE WHEN cnt > {cap} THEN 1 ELSE 0 END)"
                " AS BIGINT)"
            ).alias("n_over_cap"),
        )
    )


def _index_skew_oracle() -> str:
    from dataforge_core_spark.operators import multimodal as MM
    from dataforge_core_spark.operators import simhash
    from dataforge_core_spark.operators import similarity as S

    sblocks = " UNION ALL ".join(
        f"SELECT {i} AS bno, substr(simhash, {i * 4 + 1}, 4) AS blk"
        " FROM ssig"
        for i in range(4)
    )
    cap = (
        f"CASE index_name WHEN 'minhash_bands' THEN {MAX_BAND_BUCKET}"
        f" WHEN 'simhash_bands' THEN {simhash.MAX_BLOCK_BUCKET}"
        f" WHEN 'embedding_buckets' THEN {S.EMB_BUCKET_CAP}"
        f" WHEN 'phash_bands' THEN {MM.MAX_PHASH_BUCKET}"
        f" ELSE {S.IVF_CELL_CAP} END"
    )
    pbands = (
        f"SELECT CAST(i AS VARCHAR) || ':' || CAST("
        f"(phash >> ({MM._PHASH_BAND_BITS} * i)) & {MM._PHASH_BAND_MASK}"
        f" AS VARCHAR) AS bucket"
        f" FROM h, unnest(generate_series(0, {MM.PHASH_BANDS - 1}))"
        f" AS pu(i)"
    )
    return f"""
WITH {S._duck_v_cte()},
{S._kmeans_ctes('v', 'duck')},
{_minhash_chain()},
ssig AS MATERIALIZED ({simhash._sig_sql('duck')}),
{MM._phash_h_ctes()},
u AS (
  SELECT 'minhash_bands' AS index_name, band_key AS bucket FROM bands
  UNION ALL
  SELECT 'simhash_bands' AS index_name,
         CAST(bno AS VARCHAR) || ':' || blk AS bucket
  FROM ({sblocks}) sb
  UNION ALL
  SELECT 'embedding_buckets' AS index_name,
         CAST(bucket AS VARCHAR) AS bucket FROM v
  UNION ALL
  SELECT 'ivf_cells' AS index_name, CAST(cid AS VARCHAR) AS bucket
  FROM af
  UNION ALL
  SELECT 'phash_bands' AS index_name, bucket FROM ({pbands}) pb
),
c AS (
  SELECT index_name, bucket, COUNT(*) AS cnt
  FROM u GROUP BY index_name, bucket
)
SELECT index_name,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       CAST(MAX(cnt) AS BIGINT) AS max_bucket,
       CAST(SUM(CASE WHEN cnt > {cap} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_over_cap
FROM c GROUP BY index_name
"""


CC_MAX_ITERS = 20  # label propagation rounds (bound = cluster diameter)


def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document assignment: connected components over the
    MinHash near-duplicate pair graph via iterative min-label
    propagation (each round: label[v] <- min(label[v], labels of v's
    neighbors); converges in diameter rounds — duplicate clusters are
    shallow).  cluster_id = min doc_id of the component, so the result
    is deterministic regardless of iteration/partition order; singleton
    documents map to themselves.

    Scale shape: each round is one edges-by-dst shuffle + groupBy min —
    no driver-side graph state; ``localCheckpoint`` cuts the lineage per
    round (on a cluster, use a reliable checkpoint dir instead).  The
    alternative for deep graphs is pointer-doubling (O(log n) rounds);
    near-dup clusters don't need it.

    Convergence is detected from the label-sum invariant: ``least()``
    only ever *decreases* labels, so SUM(cluster_id) is strictly
    decreasing until the fixed point — one cheap aggregate over the
    already-checkpointed label table per round, instead of a
    changed-rows self-join (which doubled per-round work and issued a
    second blocking job).
    """
    return _full_labels(spark, sf_dir, pointer_doubling=False)


@stored("dedup_cluster_labels")
def _full_labels(
    spark: SparkSession, sf_dir: str, pointer_doubling: bool = False
) -> DataFrame:
    """FULL-CORPUS cluster assignment (every doc_id, singletons mapped
    to themselves), checkpointed once per (session, sf, variant): the
    endpoint labels cover only pair-graph members, so every consumer
    (cluster rows, the size histogram, keep-best, the report) was
    re-running the docs-scan + left-join + coalesce per execution —
    measurably the dominant cost of dedup_cluster_stats on the r12
    driver record.  One checkpoint = every consumer's plan starts from
    a single ExistingRDD scan; at 100 TB this is the written
    cluster-assignment table a real dedup pipeline persists between
    stages."""
    return _attach_singletons(
        spark, sf_dir, _cluster_labels(spark, sf_dir, pointer_doubling)
    ).localCheckpoint(eager=True)


@stored("dedup_endpoint_labels")
def _cluster_labels(
    spark: SparkSession, sf_dir: str, pointer_doubling: bool = False
) -> DataFrame:
    """Cached fixed-point label frame per (session, sf, variant) — the
    cluster assignment is the near-dup pipeline's 'index': every
    downstream consumer (cluster rows, keep-best selection) reads the
    same checkpointed frame instead of re-running the propagation
    loop."""
    labels, _ = _cc_min_label(
        dedup_minhash(spark, sf_dir), pointer_doubling=pointer_doubling
    )
    return labels


def _cc_min_label(
    pairs, pointer_doubling: bool = False, driver_max_edges: int | None = None
):
    """Min-label fixed point over the undirected pair graph; returns
    (labels DataFrame(doc_id, cluster_id) over edge ENDPOINTS only,
    rounds executed).  ``pointer_doubling=True`` adds the label-of-label
    hop each round (label[v] also shrinks to label[label[v]]), which
    squares the propagated distance — O(log diameter) rounds."""
    from pyspark.sql import functions as F

    # the loop shuffles the ENDPOINT label table (near-dup density x
    # corpus, tiny relative to the corpus) several times; session-wide
    # shuffle width pays per-partition task/commit overhead each round
    # for partitions that are mostly empty.  Size the loop's shuffles
    # to the relation like the k-means build does — in a SIBLING
    # session's conf (narrow_session), not a save/restore on the main
    # session, so the width cannot leak into builders planning
    # concurrently (r13 advice); the per-round checkpoints keep the
    # labels deterministic either way.  At 100 TB the equivalent move
    # is sizing the CC job's shuffle width to the edge count, not the
    # corpus scan width.
    spark = pairs.sparkSession
    from dataforge_core_spark.session import narrow_session, rebind

    cap = (
        CC_DRIVER_MAX_EDGES
        if driver_max_edges is None
        else driver_max_edges
    )
    if cap > 0:
        small = pairs.select("doc_a", "doc_b").limit(cap + 1).collect()
        if len(small) <= cap:
            return _cc_union_find_driver(spark, small), 0
    ns = narrow_session(spark, 8)
    labels, rounds = _cc_min_label_loop(
        rebind(pairs, ns), pointer_doubling
    )
    return rebind(labels, spark), rounds


# near-dup edge lists are a small fraction of the corpus (bounded by
# dup density x doc count, further capped by MAX_BAND_BUCKET /
# MAX_SHINGLE_DF) — below this bound the classic hybrid wins: generate
# pairs distributed, solve the component problem on the driver with
# union-find (micro-seconds for 1e5 edges vs seconds per distributed
# propagation ROUND), broadcast the labels back.  Above it, the
# distributed min-label loop is the scale path — same fixed point,
# bit-identical labels (component min), so the switch is invisible to
# every consumer and to the oracles.
CC_DRIVER_MAX_EDGES = 100_000


def _cc_union_find_driver(spark, edge_rows):
    """Union-find over a collected edge list; labels = component min.
    Returns the same (doc_id, cluster_id) endpoint frame (checkpointed)
    as the distributed loop."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in edge_rows:
        a, b = row[0], row[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # min-label union
    labels = [(x, find(x)) for x in parent]
    from dataforge_core_spark.session import index_width

    df = spark.createDataFrame(labels, "doc_id long, cluster_id long")
    # createDataFrame slices the rows across defaultParallelism; a
    # sub-cap label table (<= 2 * CC_DRIVER_MAX_EDGES rows by
    # construction) stored at 32 near-empty partitions charges every
    # consumer join one task per partition — coalesce to the
    # relation's size before checkpointing (r15; narrow, no shuffle)
    return df.coalesce(index_width(len(labels))).localCheckpoint(
        eager=True
    )


def _cc_min_label_loop(pairs, pointer_doubling: bool):
    from pyspark.sql import functions as F

    pairs = pairs.select("doc_a", "doc_b")
    edges = (
        pairs.union(pairs.select("doc_b", "doc_a"))
        .toDF("src", "dst")
        .persist()
    )
    # iterate ONLY over edge endpoints: documents outside the pair graph
    # are singletons by definition (label = own id) and re-joining them
    # through every round just inflates each shuffle.  At 100 TB the
    # endpoint set is a small fraction of the corpus — the loop cost
    # scales with near-dup density, not corpus size.
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("cluster_id"))
        .localCheckpoint()
    )
    prev_sum = None
    rounds = 0
    for _ in range(CC_MAX_ITERS):
        rounds += 1
        nbr_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        nxt = labels.join(
            nbr_min, labels.doc_id == nbr_min.src, "left"
        ).select(
            labels.doc_id,
            F.least(
                F.col("cluster_id"),
                F.coalesce(F.col("nbr_min"), F.col("cluster_id")),
            ).alias("cluster_id"),
        )
        if pointer_doubling:
            # label-of-label hop: my label's CURRENT label (labels are
            # always endpoint ids, so the lookup always resolves)
            l2 = labels.toDF("pd_doc", "pd_lab")
            nxt = nxt.join(
                l2, nxt.cluster_id == F.col("pd_doc"), "left"
            ).select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("pd_lab"), F.col("cluster_id")),
                ).alias("cluster_id"),
            )
        superseded = labels
        labels = nxt.localCheckpoint()
        # the new checkpoint no longer references the old one's blocks —
        # free them NOW instead of waiting for the async ContextCleaner
        # (accumulated superseded label blocks were measurably degrading
        # everything that ran after repeated cluster builds in one
        # session).  DataFrame.unpersist() would be a no-op here (it
        # only clears CacheManager entries, not local-checkpoint
        # blocks) — free_local_checkpoint unpersists the underlying
        # checkpointed RDD itself.
        free_local_checkpoint(superseded)
        cur_sum = labels.agg(
            F.sum(F.col("cluster_id").cast("decimal(38,0)"))
        ).collect()[0][0]
        if cur_sum == prev_sum:  # no label decreased -> fixed point
            break
        prev_sum = cur_sum
    edges.unpersist()
    return labels, rounds


def _attach_singletons(spark, sf_dir, labels):
    from pyspark.sql import functions as F

    docs = read_table(spark, f"{sf_dir}/documents.parquet").select("doc_id")
    return docs.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
    )


def dedup_cluster_pd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via POINTER DOUBLING: each round also takes
    the label of the current label, so propagated distance squares and
    convergence needs O(log diameter) rounds instead of O(diameter) —
    the variant for DEEP near-dup graphs (long boilerplate chains),
    where plain propagation's round count is the wall-clock bottleneck
    at corpus scale.  Same fixed point (component-min label), same
    oracle as dedup_cluster."""
    return _full_labels(spark, sf_dir, pointer_doubling=True)


# min-label reachability: lab reaches node along (undirected) edges; the
# component minimum is MIN over all labels that reach the node
_DEDUP_CLUSTER_ORACLE = f"""
WITH RECURSIVE pairs AS ({_minhash_oracle()}),
nodes AS (SELECT doc_id FROM documents),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach AS (
  SELECT doc_id AS node, doc_id AS lab FROM nodes
  UNION
  SELECT e.b AS node, r.lab FROM reach r JOIN edges e ON e.a = r.node
)
SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node
"""


def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size histogram (the dedup QA metric: how many
    singletons / pairs / giant clusters).  Two map-side-combinable
    aggregates over the shared cached labels — the giant-cluster row of
    this histogram is what you alert on before a 100 TB dedup run goes
    quadratic somewhere downstream."""
    from pyspark.sql import functions as F

    labels = _full_labels(spark, sf_dir, pointer_doubling=False)
    return (
        labels.groupBy("cluster_id")
        .agg(F.count("*").alias("sz"))
        .groupBy("sz")
        .agg(F.count("*").alias("n_clusters"))
        .select(F.col("sz").alias("cluster_size"), "n_clusters")
    )


_CLUSTER_STATS_ORACLE = f"""
WITH RECURSIVE pairs AS ({_minhash_oracle()}),
nodes AS (SELECT doc_id FROM documents),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach AS (
  SELECT doc_id AS node, doc_id AS lab FROM nodes
  UNION
  SELECT e.b AS node, r.lab FROM reach r JOIN edges e ON e.a = r.node
),
c AS (SELECT node, MIN(lab) AS cluster_id FROM reach GROUP BY node),
s AS (SELECT cluster_id, COUNT(*) AS sz FROM c GROUP BY cluster_id)
SELECT sz AS cluster_size, COUNT(*) AS n_clusters FROM s GROUP BY sz
"""


# hot-shingle guard: a boilerplate shingle shared by d documents fans the
# per-shingle pair generation out to O(d^2) — one header line in 1M docs
# is 10^12 candidates at 100 TB.  Shingles with document frequency above
# the cap generate NO pairs (exactly like MAX_BAND_BUCKET drops oversized
# candidate buckets); document sizes stay computed over the full shingle
# sets.  The oracle applies the identical rule, so results stay
# engine-identical.
MAX_SHINGLE_DF = 1000


def _check_jaccard_dials(max_shingle_df: int, threshold: float) -> None:
    """max_shingle_df is interpolated into SQL and bounds per-shingle
    group state — true int >= 2 (df=1 shingles can't pair); threshold
    is a Jaccard score in (0, 1] (0 would admit every co-shingle pair
    and the lane's output stops being a near-dup report)."""
    if not isinstance(max_shingle_df, int) or isinstance(
        max_shingle_df, bool
    ):
        raise ValueError(
            f"max_shingle_df must be an int, got {max_shingle_df!r}"
        )
    if max_shingle_df < 2:
        raise ValueError(
            f"max_shingle_df={max_shingle_df} must be >= 2: pairs need"
            " shingles shared by at least two docs"
        )
    if isinstance(threshold, bool) or not isinstance(
        threshold, (int, float)
    ):
        raise ValueError(f"threshold must be a number, got {threshold!r}")
    if not 0 < threshold <= 1:
        raise ValueError(
            f"threshold={threshold} outside (0, 1]: Jaccard scores"
            " live in the unit interval"
        )


def dedup_ngram_jaccard(
    spark: SparkSession,
    sf_dir: str,
    max_shingle_df: int = MAX_SHINGLE_DF,
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """Exact n-gram Jaccard for all pairs sharing >= 1 (non-hot) shingle.

    One shuffle keyed by shingle: group docs per shingle (sorted,
    bounded by the df cap), emit ordered pairs via posexplode + slice
    (both whole-stage-codegen'd — no higher-order lambdas), count pair
    multiplicity as the intersection size.  Work scales with
    shared-shingle pairs, not |docs|^2, and the df cap bounds the worst
    key's fan-out; groups are <= cap doc_ids, so per-group state is
    bounded at any corpus size.  The df=1 floor also drops the (vast)
    unique-shingle majority before pair generation.

    Dials (r15): ``max_shingle_df`` — the hot-shingle df cap, the
    skew/recall knob (a lower cap drops boilerplate-heavy shingles
    from pair generation while sizes stay full, so scores only
    shrink); ``threshold`` — the near-dup strictness cut.
    """
    from pyspark.sql import functions as F

    _check_jaccard_dials(max_shingle_df, threshold)
    ex = _ex_df(spark, sf_dir)
    # NOT the pre-partitioned pack shape (_jaccard_verify): the group
    # key here is the shingle, which repeats across docs within a map
    # partition, so partial collect_list dedupes the key strings
    # map-side and genuinely shrinks the exchange (measured: the
    # repartition shape is ~5% slower on this lane)
    grouped = (
        ex.groupBy("s")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds").between(2, max_shingle_df))
    )
    pairs = grouped.select(
        F.posexplode("ds").alias("i", "doc_a"), "ds"
    ).select(
        "doc_a",
        F.explode(F.expr("slice(ds, i + 2, size(ds))")).alias("doc_b"),
    )
    inter = pairs.groupBy("doc_a", "doc_b").agg(F.count("*").alias("inter_n"))
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = sizes.toDF("doc_a", "n_a")
    sb = sizes.toDF("doc_b", "n_b")
    jac = F.expr("CAST(inter_n AS DOUBLE) / (n_a + n_b - inter_n)")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _ngram_oracle(
    max_shingle_df: int = MAX_SHINGLE_DF,
    threshold: float = JACCARD_THRESHOLD,
) -> str:
    """DuckDB mirror of dedup_ngram_jaccard incl. the hot-shingle cap
    (pairs only from shingles with 2 <= df <= cap; sizes stay full)."""
    _check_jaccard_dials(max_shingle_df, threshold)
    return f"""
WITH exploded AS ({_duck_ex_sql()}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM exploded GROUP BY doc_id),
ok AS (
  SELECT s FROM exploded
  GROUP BY s HAVING COUNT(*) BETWEEN 2 AND {max_shingle_df}
),
pair_inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_n
  FROM exploded a JOIN exploded b
    ON a.s = b.s AND a.doc_id < b.doc_id
  WHERE a.s IN (SELECT s FROM ok)
  GROUP BY a.doc_id, b.doc_id
)
SELECT p.doc_a, p.doc_b,
       CAST(p.inter_n AS DOUBLE) / (sa.n + sb.n - p.inter_n) AS jaccard
FROM pair_inter p
JOIN sizes sa ON p.doc_a = sa.doc_id
JOIN sizes sb ON p.doc_b = sb.doc_id
WHERE CAST(p.inter_n AS DOUBLE) / (sa.n + sb.n - p.inter_n)
      >= {threshold}
"""


_DEDUP_NGRAM_ORACLE = _ngram_oracle()


# ---------------------------------------------------------------------------
# Containment near-dup pairs: score = |A∩B| / min(|A|, |B|) over the
# same shingle sets — the asymmetric-size complement of Jaccard.  A
# short document quoted whole inside a long one scores ~1.0 here but
# near 0 on Jaccard (the union is dominated by the long side), so this
# is the lane that catches subset/quotation duplicates (the "broder
# containment" of the resemblance/containment pair).  Same single
# shingle-keyed shuffle + df-capped pair generation as the Jaccard
# lane; one extra LEAST() over the broadcast-joined sizes.
# ---------------------------------------------------------------------------

CONTAIN_THRESHOLD = 0.4


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs with shingle containment >= CONTAIN_THRESHOLD."""
    from pyspark.sql import functions as F

    ex = _ex_df(spark, sf_dir)
    # shingle-keyed pack: keep the partial-agg shape (see the
    # dedup_ngram_jaccard note — partial collect_list dedupes repeated
    # shingle keys map-side)
    grouped = (
        ex.groupBy("s")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds").between(2, MAX_SHINGLE_DF))
    )
    pairs = grouped.select(
        F.posexplode("ds").alias("i", "doc_a"), "ds"
    ).select(
        "doc_a",
        F.explode(F.expr("slice(ds, i + 2, size(ds))")).alias("doc_b"),
    )
    inter = pairs.groupBy("doc_a", "doc_b").agg(F.count("*").alias("inter_n"))
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("n"))
    cont = F.expr("CAST(inter_n AS DOUBLE) / LEAST(n_a, n_b)")
    return (
        inter.join(sizes.toDF("doc_a", "n_a"), "doc_a")
        .join(sizes.toDF("doc_b", "n_b"), "doc_b")
        .select("doc_a", "doc_b", cont.alias("containment"))
        .filter(F.col("containment") >= CONTAIN_THRESHOLD)
    )


_DEDUP_CONTAINMENT_ORACLE = f"""
WITH exploded AS ({_duck_ex_sql()}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM exploded GROUP BY doc_id),
ok AS (
  SELECT s FROM exploded
  GROUP BY s HAVING COUNT(*) BETWEEN 2 AND {MAX_SHINGLE_DF}
),
pair_inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_n
  FROM exploded a JOIN exploded b
    ON a.s = b.s AND a.doc_id < b.doc_id
  WHERE a.s IN (SELECT s FROM ok)
  GROUP BY a.doc_id, b.doc_id
)
SELECT p.doc_a, p.doc_b,
       CAST(p.inter_n AS DOUBLE) / LEAST(sa.n, sb.n) AS containment
FROM pair_inter p
JOIN sizes sa ON p.doc_a = sa.doc_id
JOIN sizes sb ON p.doc_b = sb.doc_id
WHERE CAST(p.inter_n AS DOUBLE) / LEAST(sa.n, sb.n)
      >= {CONTAIN_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# Corpus dedup report: the one-row summary a pipeline run logs — how
# much of the corpus is exact-duplicate, how much near-duplicate, and
# how many groups/clusters there are.  Composed from the shared exact
# and cluster frames (both cached/indexed upstream); every metric is an
# exact integer count and every ratio a single integer division, all
# computed via scalar subqueries (no join node — two 1-row frames
# cross-joined would plan a BroadcastNestedLoopJoin).
# ---------------------------------------------------------------------------


def dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus dedup summary (exact + near-dup coverage)."""
    dedup_exact(spark, sf_dir).createOrReplaceTempView("dedup_report_exact")
    dedup_cluster(spark, sf_dir).createOrReplaceTempView(
        "dedup_report_cluster"
    )
    return spark.sql(
        """
        WITH s AS (
          SELECT cluster_id, COUNT(*) AS sz
          FROM dedup_report_cluster GROUP BY cluster_id
        )
        SELECT
          (SELECT COUNT(*) FROM dedup_report_exact) AS n_docs,
          (SELECT COUNT(*) FROM dedup_report_exact WHERE is_dup)
            AS n_exact_dups,
          (SELECT COUNT(DISTINCT canonical_id) FROM dedup_report_exact
           WHERE group_size > 1) AS n_exact_groups,
          (SELECT CAST(COALESCE(SUM(sz), 0) AS BIGINT) FROM s WHERE sz > 1) AS n_near_docs,
          (SELECT COUNT(*) FROM s WHERE sz > 1) AS n_near_clusters,
          CAST((1000000 * (SELECT COUNT(*) FROM dedup_report_exact
                           WHERE is_dup))
            DIV (SELECT COUNT(*) FROM dedup_report_exact) AS BIGINT)
            AS exact_dup_ppm,
          CAST((1000000 * (SELECT COALESCE(SUM(sz), 0) FROM s
                           WHERE sz > 1))
            DIV (SELECT COUNT(*) FROM dedup_report_exact) AS BIGINT)
            AS near_dup_ppm
        """
    )


def _report_oracle() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_minhash_oracle()}),
nodes AS (SELECT doc_id FROM documents),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach AS (
  SELECT doc_id AS node, doc_id AS lab FROM nodes
  UNION
  SELECT e.b AS node, r.lab FROM reach r JOIN edges e ON e.a = r.node
),
c AS (SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node),
s AS (SELECT cluster_id, COUNT(*) AS sz FROM c GROUP BY cluster_id),
e AS ({_DEDUP_EXACT_ORACLE})
SELECT
  (SELECT COUNT(*) FROM e) AS n_docs,
  (SELECT COUNT(*) FROM e WHERE is_dup) AS n_exact_dups,
  (SELECT COUNT(DISTINCT canonical_id) FROM e WHERE group_size > 1)
    AS n_exact_groups,
  (SELECT CAST(COALESCE(SUM(sz), 0) AS BIGINT) FROM s WHERE sz > 1) AS n_near_docs,
  (SELECT COUNT(*) FROM s WHERE sz > 1) AS n_near_clusters,
  CAST((1000000 * (SELECT COUNT(*) FROM e WHERE is_dup))
    // (SELECT COUNT(*) FROM e) AS BIGINT) AS exact_dup_ppm,
  CAST((1000000 * (SELECT COALESCE(SUM(sz), 0) FROM s WHERE sz > 1))
    // (SELECT COUNT(*) FROM e) AS BIGINT) AS near_dup_ppm
"""


# ---------------------------------------------------------------------------
# Canonical-document selection: within each near-duplicate cluster keep
# the single "best" document (longest token count; doc_id breaks ties) —
# the step that turns a cluster assignment into an actual deduplicated
# corpus.  Every document is emitted with its cluster and a ``kept``
# flag, so both the keep-list and the drop-list are one filter away.
#
# Determinism: the keep pick is a ROW_NUMBER over (n_tokens DESC,
# doc_id) — a total order, identical on both engines.  Scale shape: the
# cluster labels come from the shared min-label propagation (edge
# endpoints only); token counts are scan-side; the pick is one window
# over clusters (bounded groups — a duplicate cluster's size is bounded
# by the pair-generation caps upstream).
# ---------------------------------------------------------------------------


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    labels = dedup_cluster(spark, sf_dir)
    toks = read_table(spark, f"{sf_dir}/documents.parquet").selectExpr(
        "doc_id", f"size({_SPARK_TOKENS}) AS n_tokens"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id")
    )
    return (
        labels.join(toks, "doc_id")
        .withColumn("kept", F.row_number().over(w) == 1)
        .select("cluster_id", "doc_id", "n_tokens", "kept")
    )


def _keep_best_oracle() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_minhash_oracle()}),
nodes AS (SELECT doc_id FROM documents),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach AS (
  SELECT doc_id AS node, doc_id AS lab FROM nodes
  UNION
  SELECT e.b AS node, r.lab FROM reach r JOIN edges e ON e.a = r.node
),
c AS (SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node),
t AS (
  SELECT doc_id, CAST(len({_DUCK_TOKENS}) AS INTEGER) AS n_tokens
  FROM documents
)
SELECT c.cluster_id, c.doc_id, t.n_tokens,
       ROW_NUMBER() OVER (PARTITION BY c.cluster_id
            ORDER BY t.n_tokens DESC, c.doc_id) = 1 AS kept
FROM c JOIN t ON c.doc_id = t.doc_id
"""


# ---------------------------------------------------------------------------
# Boilerplate span detection: fixed-size NON-overlapping token windows
# hashed and counted across the corpus — a span hash seen in more than
# one document is repeated boilerplate (headers, license blocks,
# navigation chrome), the sub-document granularity exact dedup misses
# (two docs sharing a header are not doc-level duplicates).  The output
# is the boilerplate span table downstream cleaning joins against.
#
# Scale shape: the window explode is pure scan-side array arithmetic
# (same plan family as train_chunk: no shuffle until the aggregate);
# the span aggregate keys on a 32-char md5 with map-side combine, and
# only multi-doc spans survive the HAVING.  Integer-only output.
# ---------------------------------------------------------------------------

BOILERPLATE_SPAN = 16  # tokens per span window


def _boilerplate_sql(dialect: str, span: int = BOILERPLATE_SPAN) -> str:
    """Shared span-table SQL — ``span`` (tokens per non-overlapping
    window) is the boilerplate-granularity dial: smaller spans catch
    shorter repeated chrome at more rows; only FULL windows hash (a
    short tail is not a comparable span)."""
    if span < 1:
        raise ValueError(f"span must be >= 1, got {span}")
    if dialect == "spark":
        return f"""
WITH t AS (SELECT doc_id, {_SPARK_TOKENS} AS tok FROM documents),
c AS (
  SELECT doc_id, tok,
         explode(sequence(
           0, CAST(ceil(size(tok) / {span}.0) AS INT) - 1
         )) AS i
  FROM t WHERE size(tok) > 0
),
h AS (
  SELECT doc_id,
         md5(array_join(slice(tok, i * {span} + 1, {span}), ' ')) AS h
  FROM c WHERE size(slice(tok, i * {span} + 1, {span})) = {span}
)
SELECT h AS span_hash,
       COUNT(*) AS n_occurrences,
       COUNT(DISTINCT doc_id) AS n_docs,
       MIN(doc_id) AS first_doc
FROM h GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
"""
    return f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS tok FROM documents),
c AS (
  SELECT doc_id, tok,
         unnest(generate_series(
           0, CAST(ceil(len(tok) / {span}.0) AS BIGINT) - 1
         )) AS i
  FROM t WHERE len(tok) > 0
),
h AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(tok,
           i * {span} + 1,
           i * {span} + {span}), ' ')) AS h
  FROM c
  WHERE len(list_slice(tok, i * {span} + 1, i * {span} + {span}))
        = {span}
)
SELECT h AS span_hash,
       COUNT(*) AS n_occurrences,
       COUNT(DISTINCT doc_id) AS n_docs,
       MIN(doc_id) AS first_doc
FROM h GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
"""


def dedup_boilerplate(
    spark: SparkSession, sf_dir: str, span: int = BOILERPLATE_SPAN
) -> DataFrame:
    """Cross-document repeated span table (span_hash, occurrence
    stats); ``span`` is driver-sweepable via queries_parameterized."""
    read_table(spark, f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(_boilerplate_sql("spark", span))


_BOILERPLATE_ORACLE = _boilerplate_sql("duck")


# ---------------------------------------------------------------------------
# Exact-substring dedup (the suffix-array criterion of Lee et al.,
# "Deduplicating Training Data Makes Language Models Better", approximated
# at fixed granularity): a token position is DUPLICATED when the
# SUBSTR_WIN-token window starting there occurs >= 2 times anywhere in the
# corpus (including within the same document).  Unlike dedup_boilerplate's
# non-overlapping span table (a span INVENTORY keyed by hash), this lane
# slides the window over EVERY position and returns the per-document
# duplicated-span measurement a cleaning funnel cuts on: overlapping
# duplicated windows are merged gaps-and-islands style into maximal spans,
# and the output is (doc, n_dup_spans, dup_tokens, dup_ppm) — all exact
# integers.
#
# Scale shape: one explode pass (|tokens| rows, the same order of work as
# the shingle relation), a hash groupBy with map-side partial counts, a
# hash semi-join of positions against the duplicated-hash relation
# (shuffle keyed on the 32-hex window hash; AQE broadcasts when the dup
# set is small), then doc-keyed windows for the island merge — no
# quadratic pair generation anywhere, so the criterion that needs a
# suffix array single-node streams as four shuffles here.
# ---------------------------------------------------------------------------

SUBSTR_WIN = 8  # tokens; >= 2 occurrences of a window marks it duplicated


@stored("dedup_substr_positions")
def _substr_stored(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str, DataFrame, DataFrame]:
    """(positions view, doc-length view, their frames): the localCheckpoint-ed
    (doc_id, i, window-md5) sliding-window relation plus per-doc token
    counts, built once per (session, sf) and shared by the measurement
    (dedup_substring) and removal (dedup_substring_clean) lanes — each
    lane's SQL references the position relation more than once and
    Spark re-evaluates inlined CTEs per reference, so before this the
    tokenize + window-hash explode ran up to 3x per lane execution.
    Same recipe as dedup._ex_df / sketches._toks_view; the repartition
    spreads the single-file scan."""
    w = SUBSTR_WIN
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    tag = abs(hash((session_key(spark), sf_dir))) % 10**8
    # derived from the shared token base (one corpus tokenize pass
    # for the whole index phase): the w-gram at 0-based position i
    # is the window of leads 0..w-1 over (doc_id, pos) — identical
    # strings to slice(tok, i + 1, w)
    base = _token_base(spark, sf_dir)
    win = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.col("tk")] + [
        F.lead("tk", j).over(win) for j in range(1, w)
    ]
    pos = (
        base.select(
            "doc_id",
            F.col("pos").alias("i"),
            F.concat_ws(" ", *leads).alias("gram"),
            F.lead("tk", w - 1).over(win).isNotNull().alias("ok"),
        )
        .filter("ok")
        .selectExpr("doc_id", "i", "md5(gram) AS h")
        .localCheckpoint(eager=True)
    )
    lens = (
        base.groupBy("doc_id")
        .agg(F.count("*").cast("int").alias("n_tokens"))
        .localCheckpoint(eager=True)
    )
    pname, lname = f"substr_pos_{tag}", f"substr_len_{tag}"
    pos.createOrReplaceTempView(pname)
    lens.createOrReplaceTempView(lname)
    return pname, lname, pos, lens


def _substr_views(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    return _substr_stored(spark, sf_dir)[:2]


def _substring_sql(
    dialect: str,
    pos_src: str | None = None,
    lens_src: str | None = None,
) -> str:
    w = SUBSTR_WIN
    mat = "MATERIALIZED " if dialect == "duck" else ""
    if dialect == "spark":
        t = f"SELECT doc_id, {_SPARK_TOKENS} AS tok FROM documents"
        pos = pos_src or f"""
          SELECT doc_id, i,
                 md5(array_join(slice(tok, i + 1, {w}), ' ')) AS h
          FROM t LATERAL VIEW explode(sequence(0, size(tok) - {w})) s AS i
          WHERE size(tok) >= {w}
        """
        lens = lens_src or "SELECT doc_id, size(tok) AS n_tokens FROM t"
        idiv = "DIV"
    else:
        t = f"SELECT doc_id, {_DUCK_TOKENS} AS tok FROM documents"
        pos = f"""
          SELECT doc_id, i,
                 md5(array_to_string(
                   list_slice(tok, i + 1, i + {w}), ' ')) AS h
          FROM t, unnest(generate_series(0, len(tok) - {w})) AS s(i)
          WHERE len(tok) >= {w}
        """
        lens = "SELECT doc_id, len(tok) AS n_tokens FROM t"
        idiv = "//"
    return f"""
WITH t AS {mat}({t}),
pos AS {mat}({pos}),
duph AS (SELECT h FROM pos GROUP BY h HAVING COUNT(*) >= 2),
hit AS (SELECT p.doc_id, p.i FROM pos p JOIN duph d ON p.h = d.h),
isl AS (
  SELECT doc_id, i,
         CASE WHEN i - LAG(i) OVER (PARTITION BY doc_id ORDER BY i)
                   <= {w} THEN 0 ELSE 1 END AS brk
  FROM hit
),
grp AS (
  SELECT doc_id, i,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS UNBOUNDED PRECEDING) AS g
  FROM isl
),
spans AS (
  SELECT doc_id, g, MIN(i) AS s, MAX(i) + {w} AS e
  FROM grp GROUP BY doc_id, g
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
         CAST(SUM(e - s) AS BIGINT) AS dup_tokens
  FROM spans GROUP BY doc_id
)
SELECT l.doc_id, CAST(l.n_tokens AS BIGINT) AS n_tokens,
       COALESCE(a.n_dup_spans, 0) AS n_dup_spans,
       COALESCE(a.dup_tokens, 0) AS dup_tokens,
       CAST((1000000 * COALESCE(a.dup_tokens, 0)) {idiv} l.n_tokens
            AS BIGINT) AS dup_ppm
FROM ({lens}) l LEFT JOIN agg a ON l.doc_id = a.doc_id
"""


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-substring spans (sliding-window exact
    criterion; overlapping duplicated windows merged into maximal
    spans — windows whose starts differ by <= SUBSTR_WIN overlap or
    touch, and touching spans merge by definition here)."""
    read_table(spark, f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    pname, lname = _substr_views(spark, sf_dir)
    return spark.sql(
        _substring_sql(
            "spark",
            pos_src=f"SELECT doc_id, i, h FROM {pname}",
            lens_src=f"SELECT doc_id, n_tokens FROM {lname}",
        )
    )


_SUBSTRING_ORACLE = _substring_sql("duck")


def _substring_clean_sql(
    dialect: str,
    pos_src: str | None = None,
    lens_src: str | None = None,
    toks_src: str | None = None,
    shuffle_hash: bool = False,
    select: str | None = None,
) -> str:
    """The REMOVAL transform on top of the measurement: every
    duplicated window occurrence except the corpus-canonical one
    (smallest (doc_id, position) per window hash — a total order, so
    'keep one copy' is deterministic) marks its tokens for removal;
    overlapping marked windows merge into spans, and the cleaned text
    is the surviving tokens re-joined in order.  A token inside BOTH a
    canonical occurrence of one window and a non-canonical occurrence
    of another is removed (conservative by construction, documented
    semantics).  The canonical pick is one rank-1 window per hash over
    the position relation; the span cut is an equi-join on doc_id with
    a range conjunct against the (few) spans of that doc.
    ``shuffle_hash`` hints the final lens ⋈ agg join (Spark only);
    ``select`` replaces the final statement over the CTEs."""
    w = SUBSTR_WIN
    mat = "MATERIALIZED " if dialect == "duck" else ""
    if dialect == "spark":
        t = f"SELECT doc_id, {_SPARK_TOKENS} AS tok FROM documents"
        pos = pos_src or f"""
          SELECT doc_id, i,
                 md5(array_join(slice(tok, i + 1, {w}), ' ')) AS h
          FROM t LATERAL VIEW explode(sequence(0, size(tok) - {w})) s AS i
          WHERE size(tok) >= {w}
        """
        toks = toks_src or """
          SELECT doc_id, j, tk
          FROM t LATERAL VIEW posexplode(tok) p AS j, tk
        """
        joined = (
            "array_join(transform(array_sort(collect_list("
            "struct(j, tk))), x -> x.tk), ' ')"
        )
        idiv = "DIV"
        # doc-keyed collect_list pack: pre-partition so the exchange
        # carries plain (doc_id, j, tk) rows and the ObjectHashAggregate
        # runs once, complete-mode, after the shuffle (partial list
        # buffers cannot shrink map-side — the r15 pack rule); the
        # per-doc lens ⋈ agg join is a hash equi-join of two
        # corpus-cardinality relations, so SMJ's sorts are pure
        # overhead (guide §3.1) where the caller's size check passes.
        rep_hint = "/*+ REPARTITION(doc_id) */ "
        shj_hint = "/*+ SHUFFLE_HASH(a) */ " if shuffle_hash else ""
    else:
        t = f"SELECT doc_id, {_DUCK_TOKENS} AS tok FROM documents"
        pos = f"""
          SELECT doc_id, i,
                 md5(array_to_string(
                   list_slice(tok, i + 1, i + {w}), ' ')) AS h
          FROM t, unnest(generate_series(0, len(tok) - {w})) AS s(i)
          WHERE len(tok) >= {w}
        """
        toks = """
          SELECT doc_id, u.i - 1 AS j, tok[u.i] AS tk
          FROM t, unnest(generate_series(1, len(tok))) AS u(i)
        """
        joined = "string_agg(tk, ' ' ORDER BY j)"
        idiv = "//"
        rep_hint = ""
        shj_hint = ""
    szfn = "size" if dialect == "spark" else "len"
    lens_cte = lens_src or (
        f"SELECT doc_id, CAST({szfn}(tok) AS BIGINT) AS n_tokens FROM t"
    )
    final = f"""SELECT {shj_hint}l.doc_id, l.n_tokens,
       l.n_tokens - COALESCE(a.n_kept, 0) AS n_removed,
       CAST((1000000 * (l.n_tokens - COALESCE(a.n_kept, 0)))
            {idiv} l.n_tokens AS BIGINT) AS removed_ppm,
       COALESCE(a.cleaned_text, '') AS cleaned_text
FROM lens l LEFT JOIN agg a ON l.doc_id = a.doc_id"""
    return f"""
WITH t AS {mat}({t}),
pos AS {mat}({pos}),
occ AS (
  SELECT doc_id, i,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn,
         COUNT(*) OVER (PARTITION BY h) AS cnt
  FROM pos
),
marked AS (SELECT doc_id, i FROM occ WHERE cnt >= 2 AND rn >= 2),
isl AS (
  SELECT doc_id, i,
         CASE WHEN i - LAG(i) OVER (PARTITION BY doc_id ORDER BY i)
                   <= {w} THEN 0 ELSE 1 END AS brk
  FROM marked
),
grp AS (
  SELECT doc_id, i,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS UNBOUNDED PRECEDING) AS g
  FROM isl
),
spans AS (
  SELECT doc_id, g, MIN(i) AS s, MAX(i) + {w} AS e
  FROM grp GROUP BY doc_id, g
),
toks AS ({toks}),
kept AS (
  SELECT tk0.doc_id, tk0.j, tk0.tk
  FROM toks tk0 LEFT JOIN spans sp
    ON sp.doc_id = tk0.doc_id AND tk0.j >= sp.s AND tk0.j < sp.e
  WHERE sp.g IS NULL
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         {joined} AS cleaned_text
  FROM (SELECT {rep_hint}* FROM kept) kr GROUP BY doc_id
),
lens AS ({lens_cte})
{select or final}
"""


def dedup_substring_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaned corpus after exact-substring removal (keep the canonical
    first occurrence of each duplicated window, cut the rest).

    All three corpus-shaped inputs — the window positions, the per-doc
    lengths AND the (doc_id, j, tk) token rows — are served from the
    checkpointed index relations, so an execution touches no parquet
    scan and tokenizes nothing: at 100 TB the cleaning pass rides the
    one corpus read the token base already paid.  (The inline-toks
    form re-tokenized the corpus per run; serving it from the base
    measured 0.87 -> 0.55s warm interleaved at sf0.1, values
    bit-identical.)"""
    read_table(spark, f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    pname, lname = _substr_views(spark, sf_dir)
    tname = _token_base_view(spark, sf_dir)

    def sql(**kw) -> str:
        return _substring_clean_sql(
            "spark",
            pos_src=f"SELECT doc_id, i, h FROM {pname}",
            lens_src=(
                f"SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens "
                f"FROM {lname}"
            ),
            toks_src=f"SELECT doc_id, pos AS j, tk FROM {tname}",
            **kw,
        )

    return spark.sql(sql(shuffle_hash=_fits_shuffled_hash(
        spark.sql(sql(select="SELECT * FROM agg"))
    )))


def _fits_shuffled_hash(build: DataFrame) -> bool:
    """Spark's own size rule for a shuffled hash join's build side
    (JoinSelection's ``canBuildLocalHashMapBySize``): its estimated
    bytes under ``autoBroadcastJoinThreshold × spark.sql.shuffle
    .partitions``, so that each partition's hash map stays about one
    broadcast's size.  The agg side of dedup_substring_clean carries
    every doc's cleaned text; where the estimate fails the rule, the
    join is left to the planner (sort-merge, which spills)."""
    conf = sql_conf(build.sparkSession)
    est = build._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return est < (
        conf.autoBroadcastJoinThreshold() * conf.numShufflePartitions()
    )


_SUBSTRING_CLEAN_ORACLE = _substring_clean_sql("duck")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "dedup_substring": dedup_substring,
        "dedup_substring_clean": dedup_substring_clean,
        "dedup_boilerplate": dedup_boilerplate,
        "dedup_cluster_stats": dedup_cluster_stats,
        "dedup_keep_best": dedup_keep_best,
        "dedup_report": dedup_report,
        "dedup_exact": dedup_exact,
        "dedup_minhash": dedup_minhash,
        "dedup_minhash_accuracy": dedup_minhash_accuracy,
        "dedup_lsh_band_curve": dedup_lsh_band_curve,
        "dedup_index_skew": dedup_index_skew,
        "dedup_incremental": dedup_incremental,
        "dedup_cluster": dedup_cluster,
        "dedup_cluster_pd": dedup_cluster_pd,
        "dedup_ngram_jaccard": dedup_ngram_jaccard,
        "dedup_containment": dedup_containment,
    }


def oracles() -> dict[str, str]:
    return {
        "dedup_substring": _SUBSTRING_ORACLE,
        "dedup_substring_clean": _SUBSTRING_CLEAN_ORACLE,
        "dedup_boilerplate": _BOILERPLATE_ORACLE,
        "dedup_cluster_stats": _CLUSTER_STATS_ORACLE,
        "dedup_keep_best": _keep_best_oracle(),
        "dedup_report": _report_oracle(),
        "dedup_exact": _DEDUP_EXACT_ORACLE,
        "dedup_minhash": _minhash_oracle(),
        "dedup_minhash_accuracy": _minhash_accuracy_oracle(),
        "dedup_lsh_band_curve": _lsh_band_curve_oracle(),
        "dedup_index_skew": _index_skew_oracle(),
        "dedup_incremental": _incremental_oracle(),
        "dedup_cluster": _DEDUP_CLUSTER_ORACLE,
        "dedup_cluster_pd": _DEDUP_CLUSTER_ORACLE,
        "dedup_ngram_jaccard": _DEDUP_NGRAM_ORACLE,
        "dedup_containment": _DEDUP_CONTAINMENT_ORACLE,
    }

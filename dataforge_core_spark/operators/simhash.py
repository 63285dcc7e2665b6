"""SimHash near-duplicate detection over ``documents``.

64-bit simhash built from md5(token) nibbles: for each of 64 bit
positions, sum +1/-1 over all token occurrences (weighted by frequency)
and take the sign.  Everything is plain integer/string SQL — 64 SUM
aggregates in one wide hash-aggregate pass (whole-stage codegen; one
shuffle keyed by doc_id), identical arithmetic in the DuckDB oracle.

Near-dup pairs use 4-block banding (Pigeonhole: hamming<=12 over 64 bits
guarantees >=1 of 4 16-bit blocks equal ... for hamming<=3; in general
banding is a recall/cost dial): pairs sharing any block are verified with
an exact hamming distance.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from dataforge_core_spark.operators._store import stored
from dataforge_core_spark.session import session_key

HAMMING_MAX = 12
_HEX = "0123456789abcdef"

_SPARK_TOK = "split(lower(trim(regexp_replace(text, '\\\\s+', ' '))), ' ')"
_DUCK_TOK = "string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')"


def _digit(dialect: str, expr: str, j: int) -> str:
    """0-based hex-digit value (0..15) of digit j (1-based) of `expr`."""
    pos = "instr" if dialect == "spark" else "strpos"
    return f"({pos}('{_HEX}', substr({expr}, {j}, 1)) - 1)"


def _sig_select(dialect: str) -> str:
    """64 signed-sum aggregates -> 16 hex digits -> simhash string.

    Spark evaluates this per exploded token, so per-bit cost dominates at
    scale: the spark dialect extracts bits from two pre-parsed 32-bit
    integer halves (one shiftright+AND each — stays in whole-stage
    codegen, ~50x cheaper than the instr/substr string walk it replaces);
    the duck dialect keeps the hex-digit string form for the 500-doc
    oracle, where clarity beats speed.  Both compute bit (j,k) = bit
    (67-4j-k) of the 64-bit md5 prefix, so signatures agree exactly."""
    sums = []
    for j in range(1, 17):
        d = _digit(dialect, "h16", j)
        for k, p in enumerate([8, 4, 2, 1]):
            if dialect == "spark":
                if j <= 8:
                    bit = f"(shiftright(h_hi, {35 - 4 * j - k}) & 1)"
                else:
                    bit = f"(shiftright(h_lo, {67 - 4 * j - k}) & 1)"
            else:
                bit = f"(CAST(floor({d} / {p}) AS INT) % 2)"
            sums.append(
                f"SUM(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END) AS b_{j}_{k}"
            )
    return ", ".join(sums)


def _assemble(dialect: str) -> str:
    digits = []
    for j in range(1, 17):
        v = " + ".join(
            f"(CASE WHEN b_{j}_{k} >= 0 THEN {w} ELSE 0 END)"
            for k, w in enumerate([8, 4, 2, 1])
        )
        digits.append(f"substr('{_HEX}', ({v}) + 1, 1)")
    if dialect == "spark":
        return "concat(" + ", ".join(digits) + ")"
    return " || ".join(digits)


def _sig_sql(dialect: str, flat_src: str | None = None) -> str:
    tok = _SPARK_TOK if dialect == "spark" else _DUCK_TOK
    flat = flat_src or (
        "SELECT doc_id, explode(tok) AS tk FROM toks"
        if dialect == "spark"
        else "SELECT doc_id, unnest(tok) AS tk FROM toks"
    )
    if dialect == "spark":
        # parse the 16-hex-digit md5 prefix ONCE per token into two
        # unsigned-32-bit halves (each fits a BIGINT, ANSI-safe); the 64
        # bit extractions are then integer shifts
        td = (
            "SELECT doc_id,"
            " CAST(conv(substr(h, 1, 8), 16, 10) AS BIGINT) AS h_hi,"
            " CAST(conv(substr(h, 9, 8), 16, 10) AS BIGINT) AS h_lo"
            f" FROM (SELECT doc_id, md5(tk) AS h FROM ({flat}))"
        )
    else:
        td = f"SELECT doc_id, substr(md5(tk), 1, 16) AS h16 FROM ({flat})"
    # the toks CTE only exists when flat is derived from documents —
    # with an external flat_src the statement must not reference the
    # documents view at all (it may not be registered)
    toks_cte = (
        ""
        if flat_src
        else f"toks AS (SELECT doc_id, {tok} AS tok FROM documents),\n        "
    )
    return f"""
        WITH {toks_cte}td AS ({td}),
        sums AS (SELECT doc_id, {_sig_select(dialect)} FROM td GROUP BY doc_id)
        SELECT doc_id, {_assemble(dialect)} AS simhash FROM sums
    """


def _parse_halves(dialect: str) -> str:
    """(h_hi, h_lo) 32-bit halves of the 16-hex simhash — parsed ONCE
    per band row so the pair verify is two integer xor+popcounts
    instead of a 32-call instr/substr hex walk per candidate."""
    if dialect == "spark":
        return (
            "CAST(conv(substr(simhash, 1, 8), 16, 10) AS BIGINT) AS h_hi,"
            " CAST(conv(substr(simhash, 9, 8), 16, 10) AS BIGINT) AS h_lo"
        )
    return (
        "('0x' || substr(simhash, 1, 8))::BIGINT AS h_hi,"
        " ('0x' || substr(simhash, 9, 8))::BIGINT AS h_lo"
    )


def _hamming_int(dialect: str, a: str, b: str) -> str:
    """Hamming distance from the pre-parsed integer halves."""
    if dialect == "spark":
        return (
            f"(bit_count({a}.h_hi ^ {b}.h_hi)"
            f" + bit_count({a}.h_lo ^ {b}.h_lo))"
        )
    return (
        f"(bit_count(xor({a}.h_hi, {b}.h_hi))"
        f" + bit_count(xor({a}.h_lo, {b}.h_lo)))"
    )


# skew guard (mirrors dedup.MAX_BAND_BUCKET for the minhash path): only
# 4 * 65536 distinct (bno, blk) buckets exist REGARDLESS of corpus size,
# so a hot 16-bit block (boilerplate-heavy corpora, all-zero signatures)
# goes quadratic in the band self-join.  Buckets over the cap are SALTED
# into ceil(n/cap) deterministic residue groups (doc_id % nsalt) and
# pairs generate only within a group — capping the worst key's fan-out
# at ~cap^2 while the other three bands keep their full recall.  Applied
# identically in the DuckDB oracle.
MAX_BLOCK_BUCKET = 1000


def _check_ham_max(ham_max: int) -> int:
    """0..64 — the exact-verify filter over a 64-bit hash; unlike the
    phash/afp lanes the banding here is deliberately a recall/cost
    dial (exact only <= 3 of the 4 blocks' pigeonhole bound — see the
    module docstring), so the threshold may range over the whole
    distance domain."""
    if not 0 <= ham_max <= 64:
        raise ValueError(
            f"ham_max={ham_max} outside [0, 64]: simhash distances "
            "live on a 64-bit hash"
        )
    return ham_max


def _pairs_sql(
    dialect: str,
    max_block_bucket: int = None,
    ham_max: int | None = None,
) -> str:
    cap = (
        MAX_BLOCK_BUCKET if max_block_bucket is None else max_block_bucket
    )
    ham_cut = _check_ham_max(
        HAMMING_MAX if ham_max is None else ham_max
    )
    halves = _parse_halves(dialect)
    if dialect == "spark":
        blocks = ", ".join(
            f"substr(simhash, {i * 4 + 1}, 4)" for i in range(4)
        )
        band = (
            f"SELECT doc_id, {halves},"
            f" posexplode(array({blocks})) AS (bno, blk)"
            " FROM sig"
        )
    else:
        band = " UNION ALL ".join(
            f"SELECT doc_id, {halves}, {i} AS bno, "
            f"substr(simhash, {i * 4 + 1}, 4) AS blk FROM sig"
            for i in range(4)
        )
    ham = _hamming_int(dialect, "a", "b")
    return f"""
        WITH sig AS ({_sig_sql(dialect)}),
        bands AS ({band}),
        heavy AS (
          SELECT bno, blk,
                 CAST(CEIL(CAST(COUNT(*) AS DOUBLE) / {cap})
                      AS BIGINT) AS nsalt
          FROM bands GROUP BY bno, blk
          HAVING COUNT(*) > {cap}
        ),
        salted AS (
          SELECT b.doc_id, b.h_hi, b.h_lo, b.bno, b.blk,
                 b.doc_id % COALESCE(h.nsalt, 1) AS salt
          FROM bands b LEFT JOIN heavy h
            ON b.bno = h.bno AND b.blk = h.blk
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST({ham} AS INT) AS hamming
        FROM salted a JOIN salted b
          ON a.bno = b.bno AND a.blk = b.blk AND a.salt = b.salt
             AND a.doc_id < b.doc_id
        WHERE {ham} <= {ham_cut}
        """


@stored("simhash_signatures")
def _sig_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed signature relation — the band self-join references
    it twice; without the materialization Spark recomputes the full
    signature pipeline per reference (CTEs are inlined).

    Built in the NARROW sibling session (width 8, the CC-loop /
    k-means pattern): the relation is one row per document — ~5k rows
    at sf0.1 — so its partitioning should be sized to the RELATION,
    not inherited from the session's 32-wide corpus-scan conf.  The
    64-SUM aggregate still map-side-combines on the token base's full
    input width; only the ~n_docs-row final reduce narrows.  This is
    what made the r13 stamps' 0.19s fast path SCHEDULING-DEPENDENT:
    whenever a concurrent builder held the old session-global
    shuffle_override, the signatures (and the salted band table
    derived from them) happened to land at width 8 and every
    downstream scan/broadcast of the stored index ran 8 tasks instead
    of 32; the r14 conf isolation made the build deterministic but
    deterministically WIDE (0.40s).  Building narrow on purpose keeps
    the isolation and the fast shape (measured 0.197 vs 0.349 warm
    interleaved at sf0.1).  At 100 TB the same rule sizes the stored
    index's width to the signature count, not the scan width."""
    from dataforge_core_spark.session import narrow_session, rebind

    ns = narrow_session(spark, 8)
    sig = _sig_build_df(spark, sf_dir, session=ns).localCheckpoint(
        eager=True
    )
    return rebind(sig, spark)


def _sig_build_df(
    spark: SparkSession, sf_dir: str, session: SparkSession | None = None
) -> DataFrame:
    """The UNMATERIALIZED signature plan, on ``session`` (defaults to
    ``spark``) — split out of _sig_df so the plan-quality gates can
    inspect the aggregate shape the checkpoint hides."""
    from dataforge_core_spark.operators.dedup import _token_base
    from dataforge_core_spark.session import rebind

    target = session or spark
    key = (session_key(spark), sf_dir)
    name = f"simhash_base_{abs(hash(key)) % 10**8}"
    # per-occurrence tokens off the shared token base (one corpus
    # tokenize pass for the whole index phase — dedup._token_base)
    rebind(_token_base(spark, sf_dir), target).createOrReplaceTempView(
        name
    )
    return target.sql(_sig_sql("spark", f"SELECT doc_id, tk FROM {name}"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 64-bit simhash (16 hex chars)."""
    return _sig_df(spark, sf_dir)


@stored("simhash_salted_bands")
def _salted_bands(
    spark: SparkSession, sf_dir: str, cap: int = MAX_BLOCK_BUCKET
) -> DataFrame:
    """Checkpointed banded+salted signature table — the stored LSH
    table of the simhash index.  The pair self-join references it on
    BOTH sides; left as a derived frame, the whole explode + heavy-key
    aggregate + broadcast-salt chain executes twice per query (the
    remaining ~2.1s of the pairs lane).  Built once per (session, sf),
    like the kNN edge list."""
    from pyspark.sql import functions as F

    sig = _sig_df(spark, sf_dir)
    bands = sig.selectExpr(
        "doc_id",
        "CAST(conv(substr(simhash, 1, 8), 16, 10) AS BIGINT) AS h_hi",
        "CAST(conv(substr(simhash, 9, 8), 16, 10) AS BIGINT) AS h_lo",
        "posexplode(array("
        + ", ".join(
            f"substr(simhash, {i * 4 + 1}, 4)" for i in range(4)
        )
        + ")) AS (bno, blk)",
    )
    # oversized-bucket salting: the heavy-key table is tiny by
    # construction (<= 4*65536 rows), so attaching nsalt is a
    # map-side broadcast join; normal buckets get nsalt 1 (salt 0
    # both sides)
    heavy = (
        bands.groupBy("bno", "blk")
        .count()
        .filter(F.col("count") > cap)
        .select(
            "bno",
            "blk",
            F.ceil(F.col("count") / cap).alias("nsalt"),
        )
    )
    salted = bands.join(
        F.broadcast(heavy), ["bno", "blk"], "left"
    ).select(
        "bno",
        "blk",
        "doc_id",
        "h_hi",
        "h_lo",
        F.expr("doc_id % coalesce(nsalt, 1)").alias("salt"),
    )
    return salted.localCheckpoint(eager=True)


def dedup_simhash_pairs(
    spark: SparkSession,
    sf_dir: str,
    max_block_bucket: int | None = None,
    ham_max: int | None = None,
) -> DataFrame:
    """Block-banded near-dup candidate pairs with exact hamming verify.

    The hamming verify runs on two 32-bit integer halves parsed ONCE
    per band row (two xor+popcounts per candidate, not a 32-call hex
    string walk), is evaluated IN the band join's select and filtered
    before the DISTINCT — the exchange carries narrow
    (doc_a, doc_b, hamming) integer rows only.

    ``ham_max`` (r14 dial): the verify threshold — the text near-dup
    strictness knob; recall/cost semantics per the module docstring
    (the 4-block banding is exact only <= 3), mirrored exactly by the
    oracle, so every setting value-checks."""
    from pyspark.sql import functions as F

    cap = (
        MAX_BLOCK_BUCKET if max_block_bucket is None else max_block_bucket
    )
    ham_cut = _check_ham_max(
        HAMMING_MAX if ham_max is None else ham_max
    )
    salted = _salted_bands(spark, sf_dir, cap)
    b2 = salted.toDF(
        "bno_b", "blk_b", "doc_id_b", "h_hi_b", "h_lo_b", "salt_b"
    )
    ham = (
        "(bit_count(h_hi ^ h_hi_b) + bit_count(h_lo ^ h_lo_b))"
    )
    return (
        salted.join(
            b2,
            (F.col("bno") == F.col("bno_b"))
            & (F.col("blk") == F.col("blk_b"))
            & (F.col("salt") == F.col("salt_b"))
            & (F.col("doc_id") < F.col("doc_id_b")),
        )
        .select(
            F.col("doc_id").alias("doc_a"),
            F.col("doc_id_b").alias("doc_b"),
            F.expr(f"CAST({ham} AS INT)").alias("hamming"),
        )
        .filter(F.col("hamming") <= ham_cut)
        .distinct()
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "dedup_simhash": dedup_simhash,
        "dedup_simhash_pairs": dedup_simhash_pairs,
    }


def oracles() -> dict[str, str]:
    return {
        "dedup_simhash": _sig_sql("duck"),
        "dedup_simhash_pairs": _pairs_sql("duck"),
    }

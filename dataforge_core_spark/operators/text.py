"""Text-analysis operators over the ``documents`` table.

Token counting, quality scoring, heuristic language ID and content
fingerprinting — all pure JVM-side SQL expressions (codegen-friendly, no
UDFs), each with an exact DuckDB oracle.  Ratios are single divisions of
exact integers, so doubles hash-match across engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from dataforge_core_spark.operators._store import stored
# the corpus tokenizer is dedup's token base, split(_SPARK_NORM): the
# explode-shaped text lanes are served from its checkpointed tokens
from dataforge_core_spark.operators.dedup import _DUCK_TOKENS, _SPARK_TOKENS
from dataforge_core_spark.session import session_key
from dataforge_core_spark.sources.readers import read_table

# tiny per-language stopword lists for the heuristic language ID
_LANGS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "zu"],
    "es": ["el", "la", "de", "y", "que"],
    "fr": ["le", "la", "et", "les", "des"],
}
_EN_STOP = _LANGS["en"] + ["in", "is", "it", "for", "on"]


def _view(spark: SparkSession, sf_dir: str) -> None:
    read_table(spark, f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )




# ---------------------------------------------------------------------------
# Quantized log2 WITHOUT libm.  FLOOR(log2(x) * 1e4) called through each
# engine's math library was the round-6 driver-red cause: libm builds
# disagree in the last ulp exactly where the floor flips.  Instead the
# fractional part comes from a Python-generated lookup array (math.log2
# runs ONCE here — a single source of truth pasted into BOTH dialects as
# integer literals), and the integer part from the bit length:
#
#   qlog2(n) = LUT[n >> max(bitlen(n)-10, 0)] + 10000 * max(bitlen(n)-10, 0)
#
# i.e. log2 of the top-10-bit truncation of n, scaled by 1e4 — pure
# integer shift + array index, identical on any engine.  Truncating to a
# 10-bit mantissa bounds the error at log2(1+2^-9) ~ 0.0028 bits; this
# is the operator's *defined* quantization, applied identically in query
# and oracle.  The array is a 1023-int literal (~6 KB of SQL) that
# Catalyst folds once; no join node, no shuffle.
# ---------------------------------------------------------------------------

_QL_SCALE = 10000
_QL_BITS = 10


def _ql_lut() -> str:
    import math

    return ",".join(
        str(math.floor(math.log2(m) * _QL_SCALE))
        for m in range(1, 1 << _QL_BITS)
    )


def _qlog2(dialect: str, n: str) -> str:
    """SQL for the quantized log2 of integer expression ``n`` (>= 1)."""
    arr = _ql_lut()
    if dialect == "spark":
        b = f"length(bin(CAST({n} AS BIGINT)))"
        e = f"greatest({b} - {_QL_BITS}, 0)"
        m = f"shiftright(CAST({n} AS BIGINT), {e})"
        return (
            f"(element_at(array({arr}), CAST({m} AS INT))"
            f" + {_QL_SCALE} * CAST({e} AS BIGINT))"
        )
    b = f"length(printf('%b', CAST({n} AS BIGINT)))"
    e = f"greatest({b} - {_QL_BITS}, 0)"
    m = f"(CAST({n} AS BIGINT) >> {e})"
    return (
        f"(([{arr}])[CAST({m} AS INT)]"
        f" + {_QL_SCALE} * CAST({e} AS BIGINT))"
    )


def _count_in(tokens_expr: str, words: list[str], dialect: str) -> str:
    """# of tokens that are in `words` (exact membership)."""
    lst = ", ".join(f"'{w}'" for w in words)
    if dialect == "spark":
        return (
            f"size(filter({tokens_expr}, t -> array_contains(array({lst}), t)))"
        )
    return f"len(list_filter({tokens_expr}, t -> list_contains([{lst}], t)))"


def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token statistics: counts are exact integers."""
    _view(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT doc_id,
               size({_SPARK_TOKENS}) AS n_tokens,
               length(text) AS text_len,
               size(array_distinct({_SPARK_TOKENS})) AS n_unique_tokens
        FROM documents
        """
    )


_TOKENS_ORACLE = f"""
SELECT doc_id,
       CAST(len({_DUCK_TOKENS}) AS INTEGER) AS n_tokens,
       CAST(length(text) AS INTEGER) AS text_len,
       CAST(len(list_distinct({_DUCK_TOKENS})) AS INTEGER) AS n_unique_tokens
FROM documents
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality heuristics: length, stopword ratio, type-token ratio."""
    _view(spark, sf_dir)
    stop = _count_in("tok", _EN_STOP, "spark")
    return spark.sql(
        f"""
        WITH t AS (SELECT doc_id, {_SPARK_TOKENS} AS tok FROM documents)
        SELECT doc_id,
               size(tok) AS n_tokens,
               CAST({stop} AS DOUBLE) / size(tok) AS stopword_ratio,
               CAST(size(array_distinct(tok)) AS DOUBLE) / size(tok)
                 AS type_token_ratio,
               size(tok) BETWEEN 20 AND 1000
                 AND CAST(size(array_distinct(tok)) AS DOUBLE) / size(tok) > 0.2
                 AS quality_pass
        FROM t WHERE size(tok) > 0
        """
    )


_QUALITY_ORACLE = f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS tok FROM documents)
SELECT doc_id,
       CAST(len(tok) AS INTEGER) AS n_tokens,
       CAST({_count_in('tok', _EN_STOP, 'duck')} AS DOUBLE) / len(tok)
         AS stopword_ratio,
       CAST(len(list_distinct(tok)) AS DOUBLE) / len(tok)
         AS type_token_ratio,
       len(tok) BETWEEN 20 AND 1000
         AND CAST(len(list_distinct(tok)) AS DOUBLE) / len(tok) > 0.2
         AS quality_pass
FROM t WHERE len(tok) > 0
"""


def _langid_case(dialect: str) -> str:
    """Argmax over per-language stopword hits, deterministic tie-break by
    language-code order."""
    counts = {
        lang: _count_in("tok", words, dialect) for lang, words in _LANGS.items()
    }
    langs = sorted(_LANGS)  # de, en, es, fr — fixed tie-break order
    best = " , ".join(counts[lang] for lang in langs)
    clauses = []
    for lang in langs:
        others = [counts[o] for o in langs if o != lang]
        gt = " AND ".join(f"{counts[lang]} >= {o}" for o in others)
        clauses.append(f"WHEN {counts[lang]} > 0 AND {gt} THEN '{lang}'")
    return "CASE " + " ".join(clauses) + " ELSE 'und' END"


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic n-gram/stopword language ID (deterministic argmax)."""
    _view(spark, sf_dir)
    return spark.sql(
        f"""
        WITH t AS (SELECT doc_id, lang, {_SPARK_TOKENS} AS tok FROM documents)
        SELECT doc_id, lang AS labeled_lang,
               {_langid_case('spark')} AS predicted_lang
        FROM t
        """
    )


_LANGID_ORACLE = f"""
WITH t AS (SELECT doc_id, lang, {_DUCK_TOKENS} AS tok FROM documents)
SELECT doc_id, lang AS labeled_lang,
       {_langid_case('duck')} AS predicted_lang
FROM t
"""


def _langid_eval_sql(dialect: str) -> str:
    """Confusion matrix of the heuristic language ID against the
    labeled ``lang`` column — the calibration artifact a deployment
    reads before trusting the cheap stopword classifier to route a
    100 TB corpus (per cell: document count, recall share of the label
    row, precision share of the prediction column, exact integer ppm).
    On the DRIVER TESTDATA the matrix shows near-total collapse onto
    'en': the synthetic corpus draws every document's text from one
    English-ish vocabulary regardless of its lang label, so labels are
    uncorrelated with content and no classifier could do better — the
    lane's value here is that it MEASURES that (on a real multilingual
    corpus the same artifact reads recall/precision per language).
    ONE corpus scan; everything after the per-doc argmax is three tiny
    aggregates."""
    tok = _SPARK_TOKENS if dialect == "spark" else _DUCK_TOKENS
    div = "DIV" if dialect == "spark" else "//"
    return f"""
WITH t AS (SELECT lang, {tok} AS tok FROM documents),
p AS (SELECT lang AS labeled_lang, {_langid_case(dialect)} AS predicted_lang
      FROM t),
cm AS (
  SELECT labeled_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM p GROUP BY labeled_lang, predicted_lang
),
lt AS (SELECT labeled_lang, SUM(n_docs) AS n_labeled FROM cm
       GROUP BY labeled_lang),
pt AS (SELECT predicted_lang, SUM(n_docs) AS n_predicted FROM cm
       GROUP BY predicted_lang)
SELECT c.labeled_lang, c.predicted_lang, c.n_docs,
       CAST((1000000 * c.n_docs) {div} l.n_labeled AS BIGINT)
         AS recall_ppm,
       CAST((1000000 * c.n_docs) {div} q.n_predicted AS BIGINT)
         AS precision_ppm
FROM cm c
JOIN lt l ON c.labeled_lang = l.labeled_lang
JOIN pt q ON c.predicted_lang = q.predicted_lang
"""


def text_lang_id_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix vs the labeled lang column."""
    _view(spark, sf_dir)
    return spark.sql(_langid_eval_sql("spark"))


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content + shingle fingerprints (md5 — identical across engines).

    content_fp  : digest of whitespace-normalized text
    shingle_fp  : digest of the sorted distinct 3-gram shingle set (robust
                  to token reordering at window granularity)
    """
    _view(spark, sf_dir)
    return spark.sql(
        f"""
        WITH t AS (SELECT doc_id, {_SPARK_TOKENS} AS tok, text FROM documents)
        SELECT doc_id,
               md5(lower(trim(regexp_replace(text, '\\\\s+', ' ')))) AS content_fp,
               md5(concat_ws('|', array_sort(array_distinct(
                 CASE WHEN size(tok) >= 3 THEN transform(
                   sequence(1, size(tok) - 2),
                   i -> concat_ws(' ', element_at(tok, i),
                        element_at(tok, i + 1), element_at(tok, i + 2)))
                 ELSE array() END)))) AS shingle_fp
        FROM t
        """
    )


_FINGERPRINT_ORACLE = f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS tok, text FROM documents)
SELECT doc_id,
       md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS content_fp,
       md5(array_to_string(list_sort(list_distinct(
         list_transform(generate_series(1, len(tok) - 2),
           i -> tok[i] || ' ' || tok[i + 1] || ' ' || tok[i + 2]))), '|'))
         AS shingle_fp
FROM t
"""


# ---------------------------------------------------------------------------
# Corpus bigram language model (add-one smoothed) scoring each document by
# its mean log2 bigram probability — the classic cheap quality/fluency
# filter for pretraining corpora (gibberish and boilerplate both score
# far from the corpus mode).
#
# Determinism: per-bigram log-probs are quantized to 1e-4 BEFORE
# summation via the libm-free ``_qlog2`` construction (bit length +
# Python-generated lookup — see its comment; the round-6 driver proved
# that engine-libm FLOOR(log2 ...) flips on real boundaries), so the
# per-document total is an exact BIGINT sum — associative, order-free,
# identical across engines and partitionings — and the output carries
# no floating point at all.
#
# Scale shape: the bigram explode is linear in token count; dbg
# (per-doc distinct bigram + count) pre-aggregates with map-side combine
# so the model join touches one row per distinct (doc, bigram), not per
# occurrence; cnt/uni are term-keyed shuffles with map-side combine; V
# is a scalar subquery (one count job, no join node).  Hot bigrams
# ("of the") skew the dbg-cnt join key — AQE skew-join splits them; both
# sides arrive pre-aggregated so no row explosion is possible.
# ---------------------------------------------------------------------------

def _bigram_lm_sql(dialect: str, bg_src: str | None = None) -> str:
    """Add-one bigram LM score, all-integer output.

    ``bg_src``: optional (doc_id, w1, w2) relation SQL — the Spark lane
    passes a lead-window over the checkpointed token base (identical
    rows to the inline element_at fanout; adjacent (pos, pos+1) token
    pairs per doc); the DuckDB oracle always re-derives inline.

    The per-bigram score is s = qlog2(c+1) - qlog2(cu+V) — the
    quantized log of the smoothed conditional probability, built
    entirely from the libm-free ``_qlog2`` construction, so ``lp_sum_q``
    (the document's summed quantized log-prob, scaled by 1e4) is a pure
    BIGINT sum that cannot hash-differ across engines.  Consumers divide
    lp_sum_q / n_bigrams / 1e4 for the mean log2 probability."""
    if dialect == "spark":
        t = f"SELECT doc_id, {_SPARK_TOKENS} AS tok FROM documents"
        bg = """
          SELECT doc_id, element_at(tok, i) AS w1,
                 element_at(tok, i + 1) AS w2
          FROM t LATERAL VIEW explode(sequence(1, size(tok) - 1)) s AS i
          WHERE size(tok) >= 2
        """
        if bg_src is not None:
            bg = bg_src
    else:
        t = f"SELECT doc_id, {_DUCK_TOKENS} AS tok FROM documents"
        bg = """
          SELECT doc_id, tok[i] AS w1, tok[i + 1] AS w2
          FROM t, unnest(generate_series(1, len(tok) - 1)) AS s(i)
          WHERE len(tok) >= 2
        """
    return f"""
WITH t AS ({t}),
bg AS ({bg}),
dbg AS (
  SELECT doc_id, w1, w2, COUNT(*) AS k FROM bg GROUP BY doc_id, w1, w2
),
cnt AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2),
uni AS (
  SELECT w1, COUNT(*) + (SELECT COUNT(DISTINCT w2) FROM cnt) AS cuv
  FROM bg GROUP BY w1
),
model AS (
  SELECT c.w1, c.w2,
         ({_qlog2(dialect, 'c.c + 1')} - {_qlog2(dialect, 'u.cuv')}) AS s
  FROM cnt c JOIN uni u ON c.w1 = u.w1
)
SELECT d.doc_id, CAST(SUM(d.k) AS BIGINT) AS n_bigrams,
       CAST(SUM(d.k * m.s) AS BIGINT) AS lp_sum_q
FROM dbg d JOIN model m ON d.w1 = m.w1 AND d.w2 = m.w2
GROUP BY d.doc_id
"""


def _tb_bigram_sql(tb: str, where: str | None = None) -> str:
    """(doc_id, w1, w2) bigram stream as a LEAD window over the
    checkpointed token base — the ONE definition shared by the LM lane,
    the perplexity filter and the stored gate model (value-identical to
    the inline element_at fanout: adjacent (pos, pos+1) pairs)."""
    w = f" WHERE {where}" if where else ""
    return f"""
          SELECT doc_id, w1, w2 FROM (
            SELECT doc_id, tk AS w1,
                   LEAD(tk) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
            FROM {tb}{w}) x WHERE w2 IS NOT NULL
        """


def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document summed quantized log2 bigram probability (corpus
    LM).  The bigram stream comes off the shared checkpointed token
    base (lead window over (doc_id, pos)) instead of three
    scan+split+explode re-evaluations of the inline CTE — 1.30 -> 0.92s
    warm at sf0.1 (interleaved medians, r10); r15: the lane now serves
    the checkpointed per-doc score relation (_lm_scores, an index
    builder shared with the perplexity filter), so the dbg/model join
    chain is paid once per session, not per run."""
    return spark.sql(
        f"SELECT doc_id, n_bigrams, lp_sum_q FROM "
        f"{_lm_scores(spark, sf_dir)}"
    )


_BIGRAM_LM_ORACLE = _bigram_lm_sql("duck")


# ---------------------------------------------------------------------------
# Token-distribution entropy: H = log2(n) - (1/n) * sum c_i*log2(c_i)
# over per-document token frequencies — near-zero for degenerate
# repetition, high for diverse text; the information-theoretic quality
# signal next to type-token ratio.  Same determinism treatment as the
# bigram LM: every log2 goes through the libm-free ``_qlog2``
# construction, so clogc_q and nlog_q are exact BIGINT sums/values and
# the closing entropy figure is emitted as INTEGER MILLI-BITS via
# integer division (truncation of non-negative integers — qlog2 is
# monotone, so nlog_q * n >= clogc_q always).  No floating point in the
# output row.  One doc-keyed shuffle with map-side combine.
# ---------------------------------------------------------------------------


def _entropy_sql(dialect: str, flat_src: str | None = None) -> str:
    """``flat_src``: optional (doc_id, term) relation SQL — the Spark
    lane passes the checkpointed token base (identical rows to the
    inline explode: the base IS posexplode(split(_SPARK_NORM)) and
    _SPARK_TOKENS == split(_SPARK_NORM), tokenizer-parity-tested); the
    DuckDB oracle always re-derives inline."""
    if dialect == "spark":
        flat = flat_src or (
            f"SELECT doc_id, explode({_SPARK_TOKENS}) AS term FROM documents"
        )
        idiv = "DIV"
    else:
        flat = f"SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents"
        idiv = "//"
    return f"""
WITH tf AS (
  SELECT doc_id, term, COUNT(*) AS c FROM ({flat}) GROUP BY doc_id, term
),
agg AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(SUM(c * {_qlog2(dialect, 'c')}) AS BIGINT) AS clogc_q
  FROM tf GROUP BY doc_id
)
SELECT doc_id, n_tokens, clogc_q,
       CAST((1000 * ({_qlog2(dialect, 'n_tokens')} * n_tokens - clogc_q))
            {idiv} ({_QL_SCALE} * n_tokens) AS BIGINT) AS entropy_mbits
FROM agg
"""


PPL_KEEP_PCT = 75  # keep docs at or below the p75 mean-NLL (CCNet-ish)


# ---------------------------------------------------------------------------
# STORED perplexity model — the index-build half of the streaming LM
# gate (CCNet's actual architecture: a KenLM trained offline on the
# reference corpus scores documents at ingest).  Built from the CORPUS
# split only (doc_id % INCR_MOD < INCR_NEW_GE — the same held-out
# convention as the near-dedup/phash gates): the add-one-smoothed
# bigram score table, the per-w1 smoothing denominators, the
# vocabulary fallback qlog2(V), and the keep threshold (nearest-rank
# PPL_KEEP_PCT of the CORPUS docs' own mean NLL under the model) —
# thr/ql_v are driver-side scalars, model/uni are checkpointed
# relations an ingest stream joins against.
# ---------------------------------------------------------------------------


@stored("ppl_gate_model")
def _ppl_model_stored(spark: SparkSession, sf_dir: str) -> tuple:
    """(model_view, uni_view, ql_v, thr, model, unim, cnt) — the stored
    LM gate index and the checkpoints behind its views."""
    from dataforge_core_spark.operators.dedup import (
        INCR_MOD,
        INCR_NEW_GE,
        _token_base_view,
    )

    tb = _token_base_view(spark, sf_dir)
    tag = abs(hash((session_key(spark), sf_dir))) % 10**8
    corp_bg = _tb_bigram_sql(
        tb, f"doc_id % {INCR_MOD} < {INCR_NEW_GE}"
    )
    # ONE bigram-count pass is the root of everything else (uni's
    # per-w1 occurrence count = SUM(c); V = COUNT(DISTINCT w2)):
    # deriving each artifact from the raw bigram chain instead
    # measured 19.7s for the whole build at sf0.1 — from the
    # checkpointed cnt it is ~4s including the threshold pass.
    # r16 measured-and-rejected: checkpointing the per-doc dbg
    # counts first (the _lm_scores one-pass shape) and deriving cnt
    # + the threshold pass from it read 2.6/3.2 vs 2.5/2.6s over
    # interleaved arms — here the corpus-SPLIT bigram stream is
    # small enough that materializing dbg costs more than the
    # second window pass it removes.
    cntv = f"ppl_cnt_{tag}"
    cnt = spark.sql(
        f"SELECT w1, w2, COUNT(*) AS c FROM ({corp_bg}) bgx"
        " GROUP BY w1, w2"
    ).localCheckpoint(eager=True)
    cnt.createOrReplaceTempView(cntv)
    # V collected ONCE and inlined as a literal (the k-means
    # centroid pattern) — the scalar subquery form re-ran the
    # distinct-count aggregate inside every consumer statement
    v = int(
        spark.sql(
            f"SELECT COUNT(DISTINCT w2) AS v FROM {cntv}"
        ).collect()[0].v
    )
    uni_cte = f"""uni AS (
      SELECT w1, SUM(c) + {v} AS cuv FROM {cntv} GROUP BY w1
    )"""
    model = spark.sql(
        f"""
        WITH {uni_cte}
        SELECT c.w1, c.w2,
               CAST({_qlog2('spark', 'c.c + 1')}
                    - {_qlog2('spark', 'u.cuv')} AS BIGINT) AS s
        FROM {cntv} c JOIN uni u ON c.w1 = u.w1
        """
    ).localCheckpoint(eager=True)
    unim = spark.sql(
        f"""
        WITH {uni_cte}
        SELECT w1, CAST({_qlog2('spark', 'cuv')} AS BIGINT) AS ql_cuv
        FROM uni
        """
    ).localCheckpoint(eager=True)
    mname, uname = f"ppl_model_{tag}", f"ppl_uni_{tag}"
    model.createOrReplaceTempView(mname)
    unim.createOrReplaceTempView(uname)
    ql_v = spark.sql(
        f"SELECT CAST({_qlog2('spark', str(v))} AS BIGINT) AS ql_v"
    ).collect()[0].ql_v
    # threshold: nearest-rank pct of the CORPUS docs' mean NLL
    # under this model (corpus bigrams are all seen by construction)
    # — the one remaining bigram pass, joined against the stored
    # model relation.
    # The cum window below is GLOBAL (single partition) but its
    # input is the value-grouped vals relation, whose row count is
    # bounded by the mean_nll_q value GRID, not the corpus: every
    # per-bigram score is a _qlog2 quantized log (0 <= -s <=
    # 64 * _QL_SCALE, since cuv < 2^63), and the per-doc mean
    # inherits that range — at most ~640k distinct integer values
    # at ANY corpus size (r16 window audit; the plan-quality gate
    # test_global_windows_only_over_aggregated_relations asserts
    # the aggregate sits below every global window).
    thr = spark.sql(
        f"""
        WITH dbg AS (SELECT doc_id, w1, w2, COUNT(*) AS k
                     FROM ({corp_bg}) bgx GROUP BY doc_id, w1, w2),
        m AS (
          SELECT d.doc_id,
                 (-CAST(SUM(d.k * m.s) AS BIGINT))
                   DIV CAST(SUM(d.k) AS BIGINT) AS mean_nll_q
          FROM dbg d JOIN {mname} m ON d.w1 = m.w1 AND d.w2 = m.w2
          GROUP BY d.doc_id
        ),
        vals AS (SELECT mean_nll_q AS v, COUNT(*) AS c FROM m
                 GROUP BY mean_nll_q),
        cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cumc,
                       SUM(c) OVER () AS n FROM vals)
        SELECT MIN(v) AS t FROM cum
        WHERE cumc >= 1 + ({PPL_KEEP_PCT} * (n - 1)) DIV 100
        """
    ).collect()[0].t
    return (
        mname, uname, int(ql_v), int(thr), model, unim, cnt
    )


def _ppl_model(spark: SparkSession, sf_dir: str):
    """(model_view, uni_view, ql_v, thr) — the stored LM gate index."""
    return _ppl_model_stored(spark, sf_dir)[:4]


@stored("lm_doc_scores")
def _lm_scores_stored(
    spark: SparkSession, sf_dir: str
) -> tuple[str, DataFrame]:
    """(view name, frame) of the checkpointed per-document LM score
    relation (doc_id, n_bigrams, lp_sum_q) — text_bigram_lm's exact
    output, which the perplexity filter's mean_nll_q is a pure
    projection of.

    r15: text_bigram_lm re-derived the full bigram-LM chain per run,
    and train_perplexity_filter derived it TWICE per execution (the
    threshold subtree and the output select each inline it).  A
    corpus-cleaning deployment persists per-doc quality scores once
    as corpus metadata and sweeps thresholds as projections over them
    (the _ingest_base pattern) — and because the nearest-rank
    threshold is a pure function of the score multiset, EVERY ``pct``
    setting stays exact over the stored relation.  Narrow-sized: one
    row per document, consumers are projections and one value-grouped
    aggregate (the index_width aggregate-shaped case)."""
    from dataforge_core_spark.operators.dedup import _token_base_view
    from dataforge_core_spark.session import index_width

    from dataforge_core_spark.session import free_local_checkpoint

    _view(spark, sf_dir)
    tb = _token_base_view(spark, sf_dir)
    n_docs = read_table(spark, f"{sf_dir}/documents.parquet").count()
    tag = abs(hash((session_key(spark), sf_dir))) % 10**8
    # ONE bigram pass (r16): inlined, _bigram_lm_sql's dbg/cnt/uni
    # CTEs each re-derive the lead-window bigram stream over the
    # token base (Spark inlines CTEs per reference, and the three
    # different group keys defeat exchange reuse) — the build paid
    # three corpus window passes.  dbg (one row per distinct
    # (doc, bigram)) is aggregated once and checkpointed; cnt and
    # uni are provably sums of its k column (COUNT(*) over bg
    # grouped coarser == SUM(k) over dbg), and V is unchanged
    # (COUNT(DISTINCT w2) over cnt).  The scaffolding checkpoints
    # are freed as soon as the score relation materializes.
    dbg = spark.sql(
        f"SELECT doc_id, w1, w2, COUNT(*) AS k "
        f"FROM ({_tb_bigram_sql(tb)}) bgx GROUP BY doc_id, w1, w2"
    ).localCheckpoint(eager=True)
    dbgv = f"lm_dbg_{tag}"
    dbg.createOrReplaceTempView(dbgv)
    cnt = spark.sql(
        f"SELECT w1, w2, CAST(SUM(k) AS BIGINT) AS c "
        f"FROM {dbgv} GROUP BY w1, w2"
    ).localCheckpoint(eager=True)
    cntv = f"lm_cnt_{tag}"
    cnt.createOrReplaceTempView(cntv)
    df = (
        spark.sql(
            f"""
        WITH uni AS (
          SELECT w1, SUM(c)
                 + (SELECT COUNT(DISTINCT w2) FROM {cntv}) AS cuv
          FROM {cntv} GROUP BY w1
        ),
        model AS (
          SELECT c.w1, c.w2,
                 ({_qlog2('spark', 'c.c + 1')}
                  - {_qlog2('spark', 'u.cuv')}) AS s
          FROM {cntv} c JOIN uni u ON c.w1 = u.w1
        )
        SELECT d.doc_id, CAST(SUM(d.k) AS BIGINT) AS n_bigrams,
               CAST(SUM(d.k * m.s) AS BIGINT) AS lp_sum_q
        FROM {dbgv} d JOIN model m ON d.w1 = m.w1 AND d.w2 = m.w2
        GROUP BY d.doc_id
        """
        )
        .coalesce(index_width(n_docs))
        .localCheckpoint(eager=True)
    )
    free_local_checkpoint(dbg)
    free_local_checkpoint(cnt)
    spark.catalog.dropTempView(dbgv)
    spark.catalog.dropTempView(cntv)
    name = f"lm_scores_{tag}"
    df.createOrReplaceTempView(name)
    return name, df


def _lm_scores(spark: SparkSession, sf_dir: str) -> str:
    return _lm_scores_stored(spark, sf_dir)[0]


def _ppl_filter_sql(
    dialect: str,
    bg_src: str | None = None,
    pct: int = PPL_KEEP_PCT,
    scores_src: str | None = None,
) -> str:
    """CCNet-style perplexity filter: per-document mean bigram NLL
    under the corpus LM, gated at the exact nearest-rank ``pct``
    percentile — the classic cheap fluency screen that drops the
    worst (1-pct)% of a pretraining corpus.

    All-integer determinism: per-bigram scores are the quantized-log
    construction (<= 0 always, since c+1 <= cuv), so the negated sum is
    a non-negative BIGINT and ``mean_nll_q`` is truncating division of
    non-negative integers — identical on both engines (floor-vs-trunc
    divergence on negatives never arises).  The threshold is derived
    from value-grouped counts + one cumulative window over the
    AGGREGATED value relation (never a corpus-sized global sort), the
    stream_dd/nearest-rank idiom.  That global cum window's input is
    bounded by the mean_nll_q value GRID, not the corpus: -s per
    bigram is a _qlog2 quantized log in [0, 64 * _QL_SCALE] and the
    per-doc mean inherits the range, so vals is at most ~640k narrow
    rows at ANY corpus size (r16 window audit).

    ``scores_src``: optional stored per-doc LM score relation
    (doc_id, n_bigrams, lp_sum_q) — the Spark lane serves the
    _lm_scores checkpoint (r15); the oracle always re-derives the
    full chain, proving the stored scores against it at every pct."""
    div = "DIV" if dialect == "spark" else "//"
    if scores_src is not None:
        head = f"""
WITH m AS (
  SELECT doc_id, n_bigrams,
         (-lp_sum_q) {div} n_bigrams AS mean_nll_q
  FROM {scores_src}
),"""
    else:
        head = f"""
WITH lm AS ({_bigram_lm_sql(dialect, bg_src)}),
m AS (
  SELECT doc_id, n_bigrams,
         (-lp_sum_q) {div} n_bigrams AS mean_nll_q
  FROM lm
),"""
    return f"""{head}
vals AS (SELECT mean_nll_q AS v, COUNT(*) AS c FROM m GROUP BY mean_nll_q),
cum AS (
  SELECT v, SUM(c) OVER (ORDER BY v) AS cumc,
         SUM(c) OVER () AS n
  FROM vals
),
thr AS (SELECT MIN(v) AS t FROM cum
        WHERE cumc >= 1 + ({pct} * (n - 1)) {div} 100)
SELECT doc_id, n_bigrams, mean_nll_q,
       mean_nll_q <= (SELECT t FROM thr) AS ppl_keep
FROM m
"""


def train_perplexity_filter(
    spark: SparkSession, sf_dir: str, pct: int = PPL_KEEP_PCT
) -> DataFrame:
    """Perplexity (mean bigram NLL) percentile filter over the corpus
    LM — serves the checkpointed per-doc score relation (_lm_scores,
    an index builder): the threshold subtree and the output select
    each read the stored scores instead of re-deriving the bigram-LM
    chain (two full chain derivations per execution before r15).  The
    pct dial stays exact at any setting — the nearest-rank threshold
    is a pure function of the stored score multiset."""
    return spark.sql(
        _ppl_filter_sql(
            "spark", pct=pct, scores_src=_lm_scores(spark, sf_dir)
        )
    )


def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token entropy (milli-bits), quantized-log
    construction.  Served from the shared checkpointed token base —
    at 100 TB the tokenize pass is already paid by the index phase, and
    at sf0.1 the lane measured 0.78 -> 0.54s warm (interleaved medians,
    r10)."""
    from dataforge_core_spark.operators.dedup import _token_base_view

    tb = _token_base_view(spark, sf_dir)
    return spark.sql(
        _entropy_sql("spark", f"SELECT doc_id, tk AS term FROM {tb}")
    )


_ENTROPY_ORACLE = _entropy_sql("duck")


# ---------------------------------------------------------------------------
# BPE-ish regex tokenization: GPT-2-style piece splitting (letter runs,
# digit runs, punctuation runs) — the pre-tokenizer pass every BPE
# vocabulary trains over.  The pattern stays in the Java/RE2 common
# subset (character classes + alternation, no lookaround), so Spark and
# DuckDB produce the identical piece sequence; all outputs are exact
# integer counts plus one ratio division.  Pure scan-side expression —
# no shuffle, no UDF.
# ---------------------------------------------------------------------------

_BPE_RE_SPARK = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]+"
_BPE_RE_DUCK = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def text_tokens_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Piece statistics under BPE-style regex pre-tokenization."""
    _view(spark, sf_dir)
    return spark.sql(
        f"""
        WITH p AS (
          SELECT doc_id,
                 regexp_extract_all(text, '{_BPE_RE_SPARK}', 0) AS pieces,
                 size({_SPARK_TOKENS}) AS n_words
          FROM documents
        )
        SELECT doc_id,
               size(pieces) AS n_pieces,
               size(filter(pieces, x -> x RLIKE '^[A-Za-z]+$')) AS n_alpha,
               size(filter(pieces, x -> x RLIKE '^[0-9]+$')) AS n_num,
               size(filter(pieces,
                    x -> NOT x RLIKE '^[A-Za-z0-9]')) AS n_punct,
               CAST(size(pieces) AS DOUBLE) / n_words AS pieces_per_word
        FROM p WHERE n_words > 0
        """
    )


_TOKENS_BPE_ORACLE = f"""
WITH p AS (
  SELECT doc_id,
         regexp_extract_all(text, '{_BPE_RE_DUCK}') AS pieces,
         len({_DUCK_TOKENS}) AS n_words
  FROM documents
)
SELECT doc_id,
       CAST(len(pieces) AS INTEGER) AS n_pieces,
       CAST(len(list_filter(pieces, x -> regexp_matches(x, '^[A-Za-z]+$')))
            AS INTEGER) AS n_alpha,
       CAST(len(list_filter(pieces, x -> regexp_matches(x, '^[0-9]+$')))
            AS INTEGER) AS n_num,
       CAST(len(list_filter(pieces,
            x -> NOT regexp_matches(x, '^[A-Za-z0-9]')))
            AS INTEGER) AS n_punct,
       CAST(len(pieces) AS DOUBLE) / n_words AS pieces_per_word
FROM p WHERE n_words > 0
"""


# ---------------------------------------------------------------------------
# Vocabulary candidate list: the top-V BPE pre-tokenization pieces by
# corpus frequency — the seed list every tokenizer build starts from
# (and the sanity check against an existing vocab's coverage).
#
# Determinism: counts are exact integers and the order (count DESC,
# piece ASC) is total, so both engines emit the identical ranked list.
# Scale shape: one piece-keyed aggregate with map-side combine (hot
# pieces like "the" pre-combine per partition), then a global
# top-V — Spark plans the LIMIT subquery as TakeOrderedAndProject
# (per-partition heap of V, no global sort of the vocabulary); the
# rank window runs over the V surviving rows only.
# ---------------------------------------------------------------------------

VOCAB_TOP = 256


def train_tokenizer_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-V BPE pieces by corpus count (rank, piece, n, n_docs)."""
    _view(spark, sf_dir)
    return spark.sql(
        f"""
        WITH pc AS (
          SELECT piece, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
          FROM (
            SELECT doc_id,
                   explode(regexp_extract_all(text, '{_BPE_RE_SPARK}', 0))
                     AS piece
            FROM documents
          )
          GROUP BY piece
        ),
        top AS (
          SELECT * FROM pc ORDER BY n DESC, piece LIMIT {VOCAB_TOP}
        )
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, piece) AS INT)
                 AS rank,
               piece, n, n_docs
        FROM top
        """
    )


_VOCAB_ORACLE = f"""
WITH pc AS (
  SELECT piece, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
  FROM (
    SELECT doc_id, unnest(regexp_extract_all(text, '{_BPE_RE_DUCK}'))
      AS piece
    FROM documents
  )
  GROUP BY piece
),
top AS (
  SELECT * FROM pc ORDER BY n DESC, piece LIMIT {VOCAB_TOP}
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, piece) AS INTEGER) AS rank,
       piece, n, n_docs
FROM top
"""


TFIDF_TOP_K = 5


def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K salient terms per document by tf-idf.

    The idf factor is the exact rational ``(N+1)/(df+1)`` rather than
    its logarithm: log is monotone, so the per-document RANKING is
    identical, and every arithmetic step (int->double cast, one
    multiply, one divide) is a correctly-rounded IEEE op — bit-equal
    across engines, where ln() implementations may differ in the last
    ulp and flip near-tie ranks.

    Scale shape: ONE corpus tokenize.  tf groups by (term, doc_id) —
    the same key order Spark's distinct-aggregate rewrite would shuffle
    df by — and df is COUNT(*) over tf (exact: tf holds one row per
    (term, doc_id) pair), so the df branch's inlined copy of the tf
    CTE plans the IDENTICAL partial-aggregate + Exchange subtree and
    ReuseExchange collapses it: the corpus is scanned and exploded
    once, not once per CTE reference.  (With GROUP BY doc_id, term the
    two branches shuffle by differently-ordered keys and the corpus
    tokenizes twice — measured plan: 2 Scan+Generate chains.)  df
    counts SUM(CASE WHEN tf > 0 ...), not COUNT(*) or COUNT(tf): every
    tf is >= 1 so the value is identical (one row per (term, doc_id)
    pair — exactly COUNT(DISTINCT doc_id)), but COUNT forms let the
    optimizer rewrite to count(1) and prune the count out of the df
    branch's inlined copy of tf, breaking the subtree identity the
    reuse needs; the tf > 0 predicate is not provable, so the count
    column survives.  The reuse is applied by AQE at stage
    materialization (ReusedExchange appears in the final adaptive
    plan, not the initial explain) — pinned by
    tests/test_plan_quality.py::test_tfidf_single_tokenize_pass.  N is a
    scalar subquery (one count job, no join node — a 1-row CROSS JOIN
    would plan a BroadcastNestedLoopJoin); the rank window lowers to
    WindowGroupLimit (per-partition top-K before the merge), so no
    full per-doc term lists ever gather."""
    _view(spark, sf_dir)
    return spark.sql(
        f"""
        WITH tf AS (
          SELECT doc_id, term, COUNT(*) AS tf
          FROM (SELECT doc_id, explode({_SPARK_TOKENS}) AS term
                FROM documents)
          GROUP BY term, doc_id
        ),
        df AS (
          SELECT term, SUM(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS df
          FROM tf GROUP BY term
        ),
        scored AS (
          SELECT tf.doc_id, tf.term,
                 (CAST(tf.tf AS DOUBLE) *
                  CAST((SELECT COUNT(*) + 1 FROM documents) AS DOUBLE))
                   / CAST(df.df + 1 AS DOUBLE) AS score
          FROM tf JOIN df ON tf.term = df.term
        )
        SELECT doc_id, CAST(rank AS INT) AS rank, term, score
        FROM (
          SELECT doc_id, term, score,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                      ORDER BY score DESC, term) AS rank
          FROM scored
        )
        WHERE rank <= {TFIDF_TOP_K}
        """
    )


_TFIDF_ORACLE = f"""
WITH tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents)
  GROUP BY doc_id, term
),
df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term
),
scored AS (
  SELECT tf.doc_id, tf.term,
         (CAST(tf.tf AS DOUBLE) *
          CAST((SELECT COUNT(*) + 1 FROM documents) AS DOUBLE))
           / CAST(df.df + 1 AS DOUBLE) AS score
  FROM tf JOIN df ON tf.term = df.term
)
SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, score
FROM (
  SELECT doc_id, term, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY score DESC, term) AS rank
  FROM scored
)
WHERE rank <= {TFIDF_TOP_K}
"""


# ---------------------------------------------------------------------------
# Readability scoring (Flesch reading-ease, integer-exact): the classic
# corpus-quality filter lane alongside text_quality's ratio heuristics.
# Counts are regex-derived integers (words from the shared tokenizer,
# sentences = [.!?]+ runs, syllable proxy = vowel-group runs — the
# standard dictionary-free approximation), and the score is emitted in
# MILLI-units computed with integer division only, so there is no libm
# and no float-summation anywhere — the same portability construction
# the round-6 rebuild established for dedup_report/text_entropy.
#
# Scale shape: pure scan-side projection (one regex pass per column),
# zero shuffles, whole-stage codegen end to end.
# ---------------------------------------------------------------------------


def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document, integer milli-score."""
    _view(spark, sf_dir)
    return spark.sql(
        f"""
        WITH c AS (
          SELECT doc_id,
                 size({_SPARK_TOKENS}) AS n_words,
                 GREATEST(size(regexp_extract_all(text, '[.!?]+', 0)), 1)
                   AS n_sentences,
                 size(regexp_extract_all(lower(text), '[aeiouy]+', 0))
                   AS n_syllables
          FROM documents
        )
        SELECT doc_id, n_words, n_sentences, n_syllables,
               206835 - (1015 * n_words) DIV n_sentences
                      - (84600 * n_syllables) DIV n_words
                 AS flesch_milli
        FROM c WHERE n_words > 0
        """
    )


_READABILITY_ORACLE = f"""
WITH c AS (
  SELECT doc_id,
         CAST(len({_DUCK_TOKENS}) AS INTEGER) AS n_words,
         CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
              AS INTEGER) AS n_sentences,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
              AS INTEGER) AS n_syllables
  FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CAST(206835 - (1015 * n_words) // n_sentences
                   - (84600 * n_syllables) // n_words
            AS BIGINT) AS flesch_milli
FROM c WHERE n_words > 0
"""


# ---------------------------------------------------------------------------
# Vocabulary coverage: what fraction of corpus token OCCURRENCES the
# top-V vocabulary seed covers — the acceptance metric of
# train_tokenizer_vocab (a vocab that covers 97% of occurrences leaves
# 3% of the stream to byte-fallback).  One piece-count aggregate shared
# with the vocab lane, a LIMIT-bounded top-V, and exact integer ppm.
# ---------------------------------------------------------------------------


def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row coverage report of the top-V piece vocabulary."""
    _view(spark, sf_dir)
    return spark.sql(
        f"""
        WITH pc AS (
          SELECT piece, COUNT(*) AS n FROM (
            SELECT explode(regexp_extract_all(text, '{_BPE_RE_SPARK}', 0))
              AS piece
            FROM documents
          ) GROUP BY piece
        ),
        top AS (SELECT n FROM pc ORDER BY n DESC, piece LIMIT {VOCAB_TOP})
        SELECT
          (SELECT COUNT(*) FROM pc) AS n_distinct_pieces,
          (SELECT SUM(n) FROM pc) AS n_occurrences,
          (SELECT SUM(n) FROM top) AS n_covered,
          CAST((1000000 * (SELECT SUM(n) FROM top))
               DIV (SELECT SUM(n) FROM pc) AS BIGINT) AS coverage_ppm
        """
    )


_VOCAB_COVERAGE_ORACLE = f"""
WITH pc AS (
  SELECT piece, COUNT(*) AS n FROM (
    SELECT unnest(regexp_extract_all(text, '{_BPE_RE_DUCK}')) AS piece
    FROM documents
  ) GROUP BY piece
),
top AS (SELECT n FROM pc ORDER BY n DESC, piece LIMIT {VOCAB_TOP})
SELECT
  (SELECT COUNT(*) FROM pc) AS n_distinct_pieces,
  (SELECT CAST(SUM(n) AS BIGINT) FROM pc) AS n_occurrences,
  (SELECT CAST(SUM(n) AS BIGINT) FROM top) AS n_covered,
  CAST((1000000 * (SELECT SUM(n) FROM top))
       // (SELECT SUM(n) FROM pc) AS BIGINT) AS coverage_ppm
"""


# ---------------------------------------------------------------------------
# BPE merge training — the actual byte-pair-encoding train loop, run
# relationally: count adjacent symbol pairs over the piece-frequency
# table (weights = piece counts, exactly how real BPE trainers avoid
# touching the raw corpus per round), pick the most frequent pair,
# apply it GREEDILY left-to-right, repeat.  Completes the tokenizer
# suite: train_tokenizer_vocab is the seed list, this is the merge
# table, text_tokens_bpe the pre-tokenizer.
#
# Greedy non-overlap without procedural code: a merge candidate at
# position p conflicts only with p-1/p+1, and adjacent candidates exist
# only when sym_a = sym_b (runs of the same symbol); grouping candidate
# positions into consecutive runs via the pos - ROW_NUMBER() trick and
# keeping even offsets reproduces exact left-to-right greedy
# application — pure window functions, identical on both engines.
# Everything is strings + exact integer counts (argmax tiebreak
# n DESC, a ASC, b ASC is total), so the engines cannot disagree.
#
# Spark runs the canonical iterative-algorithm shape (the k-means /
# connected-components precedent): one localCheckpoint per round, the
# per-round argmax is a ONE-ROW collect that parks the chosen pair in
# the next round's plan as literals, and every intermediate block is
# freed once the merge table (R tiny literal rows) is extracted — a
# long-lived session keeps no state.  The oracle unrolls the identical
# rounds as MATERIALIZED CTEs.
#
# Scale shape: the corpus is touched ONCE (the piece-count aggregate,
# map-side combinable); every round after runs over the DISTINCT-piece
# symbol table (sum of distinct-piece lengths, ~1000x smaller than the
# corpus), with word-keyed window shuffles and a map-side-combined pair
# count.  That is the real distributed-BPE recipe; rounds are bounded
# by BPE_ROUNDS exactly as CC_MAX_ITERS bounds the cluster loop.
# ---------------------------------------------------------------------------

BPE_ROUNDS = 3



def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def train_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE_ROUNDS BPE merges over the piece-frequency table:
    (round, sym_a, sym_b, pair_n)."""
    rows = " UNION ALL ".join(
        f"SELECT CAST({k} AS INT) AS round, {_sql_str(a)} AS sym_a,"
        f" {_sql_str(b)} AS sym_b, CAST({n} AS BIGINT) AS pair_n"
        for k, a, b, n in _bpe_train(spark, sf_dir)[0]
    )
    return spark.sql(rows)


@stored("train_bpe_merge_train")
def _bpe_train(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """(merges, vocabulary): the BPE merge-train loop's merge table and
    the checkpointed (word, n_pieces) vocabulary after the trained
    merges."""
    from dataforge_core_spark.session import free_local_checkpoint

    _view(spark, sf_dir)
    wf = spark.sql(
        f"""
        SELECT piece AS word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (
          SELECT explode(regexp_extract_all(text, '{_BPE_RE_SPARK}', 0))
            AS piece
          FROM documents
        ) GROUP BY piece
        """
    )
    wf.createOrReplaceTempView("bpe_wf")
    sym = spark.sql(
        """
        SELECT word, cnt, CAST(i AS INT) AS pos, substr(word, i, 1) AS sym
        FROM bpe_wf LATERAL VIEW explode(sequence(1, length(word))) s AS i
        WHERE length(word) >= 2
        """
    )
    merges: list[tuple[int, str, str, int]] = []
    ckpts = []
    for k in range(1, BPE_ROUNDS + 1):
        sym = sym.localCheckpoint(eager=True)
        ckpts.append(sym)
        sym.createOrReplaceTempView("bpe_sym")
        pairs = spark.sql(
            """
            SELECT word, cnt, pos, sym,
                   lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
            FROM bpe_sym
            """
        ).localCheckpoint(eager=True)
        ckpts.append(pairs)
        pairs.createOrReplaceTempView("bpe_p")
        top = spark.sql(
            """
            SELECT sym AS a, nxt AS b, CAST(SUM(cnt) AS BIGINT) AS n
            FROM bpe_p WHERE nxt IS NOT NULL
            GROUP BY sym, nxt ORDER BY n DESC, a, b LIMIT 1
            """
        ).collect()
        if not top:
            break
        a, b, n = top[0]
        merges.append((k, a, b, n))
        sym = spark.sql(
            f"""
            WITH cand AS (
              SELECT word, pos,
                     pos - ROW_NUMBER() OVER (PARTITION BY word
                           ORDER BY pos) AS grp
              FROM bpe_p
              WHERE sym = {_sql_str(a)} AND nxt = {_sql_str(b)}
            ),
            ap AS (
              SELECT word, pos FROM (
                SELECT word, pos,
                       pos - MIN(pos) OVER (PARTITION BY word, grp)
                         AS off
                FROM cand
              ) WHERE off % 2 = 0
            )
            SELECT p.word, p.cnt,
                   CAST(ROW_NUMBER() OVER (PARTITION BY p.word
                        ORDER BY p.pos) AS INT) AS pos,
                   CASE WHEN h.pos IS NOT NULL THEN p.sym || p.nxt
                        ELSE p.sym END AS sym
            FROM bpe_p p
            LEFT JOIN ap h ON h.word = p.word AND h.pos = p.pos
            LEFT JOIN ap t ON t.word = p.word AND t.pos = p.pos - 1
            WHERE t.pos IS NULL
            """
        )
    # The loop's final ``sym`` state IS the BPE-encoded vocabulary
    # (every multi-char word reduced to its post-merge symbol
    # sequence).  Materialize the per-word piece counts BEFORE
    # freeing the loop checkpoints (sym still reads the last
    # bpe_p checkpoint lazily) so the encode lane can reuse the
    # training work instead of replaying the loop.
    from pyspark.sql import functions as F

    wp = (
        sym.groupBy("word")
        .agg(F.count("*").cast("bigint").alias("n_pieces"))
        .localCheckpoint(eager=True)
    )
    for df in ckpts:  # merge table extracted — no state survives
        free_local_checkpoint(df)
    return merges, wp


def _bpe_cte_parts() -> tuple[list[str], str]:
    """The BPE train loop unrolled as MATERIALIZED CTEs (duckdb 1.0
    inlines plain CTEs; sym/pairs are each consumed 3x per round).
    Returns (parts, name-of-final-sym-CTE) so the encode oracle can
    extend the same chain."""
    parts = [
        f"""wf AS MATERIALIZED (
  SELECT piece AS word, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (
    SELECT unnest(regexp_extract_all(text, '{_BPE_RE_DUCK}')) AS piece
    FROM documents
  ) GROUP BY piece
)""",
        """sym0 AS MATERIALIZED (
  SELECT word, cnt, CAST(i AS INT) AS pos, substr(word, i, 1) AS sym
  FROM wf, unnest(generate_series(1, len(word))) AS s(i)
  WHERE len(word) >= 2
)""",
    ]
    prev = "sym0"
    for k in range(1, BPE_ROUNDS + 1):
        parts.append(
            f"""p{k} AS MATERIALIZED (
  SELECT word, cnt, pos, sym,
         lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
  FROM {prev}
)"""
        )
        parts.append(
            f"""m{k} AS MATERIALIZED (
  SELECT sym AS a, nxt AS b, CAST(SUM(cnt) AS BIGINT) AS n
  FROM p{k} WHERE nxt IS NOT NULL
  GROUP BY sym, nxt ORDER BY n DESC, a, b LIMIT 1
)"""
        )
        parts.append(
            f"""c{k} AS (
  SELECT p.word, p.pos,
         p.pos - ROW_NUMBER() OVER (PARTITION BY p.word ORDER BY p.pos)
           AS grp
  FROM p{k} p, m{k} m WHERE p.sym = m.a AND p.nxt = m.b
)"""
        )
        parts.append(
            f"""a{k} AS MATERIALIZED (
  SELECT word, pos FROM (
    SELECT word, pos,
           pos - MIN(pos) OVER (PARTITION BY word, grp) AS off
    FROM c{k}
  ) WHERE off % 2 = 0
)"""
        )
        parts.append(
            f"""sym{k} AS MATERIALIZED (
  SELECT p.word, p.cnt,
         CAST(ROW_NUMBER() OVER (PARTITION BY p.word ORDER BY p.pos)
              AS INT) AS pos,
         CASE WHEN h.pos IS NOT NULL THEN p.sym || p.nxt
              ELSE p.sym END AS sym
  FROM p{k} p
  LEFT JOIN a{k} h ON h.word = p.word AND h.pos = p.pos
  LEFT JOIN a{k} t ON t.word = p.word AND t.pos = p.pos - 1
  WHERE t.pos IS NULL
)"""
        )
        prev = f"sym{k}"
    return parts, prev


def _bpe_merges_oracle() -> str:
    parts, _final = _bpe_cte_parts()
    final = "\nUNION ALL ".join(
        f"SELECT CAST({k} AS INT) AS round, a AS sym_a, b AS sym_b,"
        f" n AS pair_n FROM m{k}"
        for k in range(1, BPE_ROUNDS + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + final


# ---------------------------------------------------------------------------
# BPE corpus encoding: apply the TRAINED merges (train_bpe_merges) to
# every document and report tokens-after-BPE — the tokenizer
# application pass of a training pipeline, and the metric (bytes/token
# compression) a tokenizer is judged by.  The encode reuses the train
# loop's final symbol state as a (word, n_pieces) table — encoding is
# then one word-keyed join of the corpus word stream against the stored
# vocabulary, not a per-document merge replay.  The vocabulary relation
# is the corpus's DISTINCT words — Zipf-unbounded at 100 TB — so the
# join is deliberately a shuffle join on the word key (both sides fully
# parallel), never a broadcast of the vocabulary.
# Single-character words never enter the merge table (no pairs) and
# count as one piece.  All counts exact integers; the ratio is integer
# division.
# ---------------------------------------------------------------------------


def train_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token counts after applying the trained BPE merges."""
    _bpe_train(spark, sf_dir)[1].createOrReplaceTempView("bpe_vocab")
    _view(spark, sf_dir)
    return spark.sql(
        f"""
        WITH dw AS (
          SELECT doc_id,
                 explode(regexp_extract_all(text, '{_BPE_RE_SPARK}', 0))
                   AS word
          FROM documents
        )
        SELECT /*+ BROADCAST(v) */ doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(COALESCE(v.n_pieces, 1)) AS BIGINT)
                 AS n_bpe_tokens,
               CAST(SUM(length(dw.word)) AS BIGINT) AS n_chars,
               (1000 * CAST(SUM(COALESCE(v.n_pieces, 1)) AS BIGINT))
                 DIV CAST(SUM(length(dw.word)) AS BIGINT)
                 AS tokens_per_kchar
        FROM dw LEFT JOIN bpe_vocab v ON dw.word = v.word
        GROUP BY doc_id
        """
    )


def _bpe_encode_oracle() -> str:
    parts, final_sym = _bpe_cte_parts()
    parts.append(
        f"""enc AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n_pieces
  FROM {final_sym} GROUP BY word
)"""
    )
    parts.append(
        f"""dw AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '{_BPE_RE_DUCK}'))
    AS word
  FROM documents
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(COALESCE(e.n_pieces, 1)) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(len(dw.word)) AS BIGINT) AS n_chars,
       (1000 * CAST(SUM(COALESCE(e.n_pieces, 1)) AS BIGINT))
         // CAST(SUM(len(dw.word)) AS BIGINT) AS tokens_per_kchar
FROM dw LEFT JOIN enc e ON dw.word = e.word
GROUP BY doc_id
"""
    )


def train_tokenizer_fertility(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer fertility by language — the fairness eval every
    multilingual tokenizer ships with (pieces per word and per kchar
    by language; a language with high fertility pays more sequence
    length per character, which skews mixing weights and packing).
    Served from the same checkpointed (word, n_pieces) vocabulary the
    encode lane uses: one corpus word-extract pass, a broadcast-sized
    vocab join, constant output cardinality (one row per language)."""
    _bpe_train(spark, sf_dir)[1].createOrReplaceTempView("bpe_vocab")
    _view(spark, sf_dir)
    return spark.sql(
        f"""
        WITH dw AS (
          SELECT doc_id, lang,
                 explode(regexp_extract_all(text, '{_BPE_RE_SPARK}', 0))
                   AS word
          FROM documents
        )
        SELECT /*+ BROADCAST(v) */ lang,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(COALESCE(v.n_pieces, 1)) AS BIGINT)
                 AS n_bpe_tokens,
               (1000 * CAST(SUM(COALESCE(v.n_pieces, 1)) AS BIGINT))
                 DIV CAST(COUNT(*) AS BIGINT) AS pieces_per_kword,
               (1000 * CAST(SUM(COALESCE(v.n_pieces, 1)) AS BIGINT))
                 DIV CAST(SUM(length(dw.word)) AS BIGINT)
                 AS tokens_per_kchar
        FROM dw LEFT JOIN bpe_vocab v ON dw.word = v.word
        GROUP BY lang
        """
    )


def _tokenizer_fertility_oracle() -> str:
    parts, final_sym = _bpe_cte_parts()
    parts.append(
        f"""enc AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n_pieces
  FROM {final_sym} GROUP BY word
)"""
    )
    parts.append(
        f"""dw AS (
  SELECT doc_id, lang,
         unnest(regexp_extract_all(text, '{_BPE_RE_DUCK}')) AS word
  FROM documents
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT lang,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(COALESCE(e.n_pieces, 1)) AS BIGINT) AS n_bpe_tokens,
       (1000 * CAST(SUM(COALESCE(e.n_pieces, 1)) AS BIGINT))
         // CAST(COUNT(*) AS BIGINT) AS pieces_per_kword,
       (1000 * CAST(SUM(COALESCE(e.n_pieces, 1)) AS BIGINT))
         // CAST(SUM(len(dw.word)) AS BIGINT) AS tokens_per_kchar
FROM dw LEFT JOIN enc e ON dw.word = e.word
GROUP BY lang
"""
    )


# ---------------------------------------------------------------------------
# Hashed linear quality scorer: the fastText-classifier quality-filter
# stage (CCNet / LLaMA corpus filtering) reduced to its relational
# plumbing — a bag-of-hashed-token-features dot product with a fixed
# weight vector, thresholded to keep/drop.  The weight table is a pure
# integer function of the bucket id (a Knuth-multiplicative mix), so
# both engines derive identical weights with zero literals shipped; a
# real exported model would replace the formula with a broadcast
# weight relation of the same shape.  Score sums are exact integers;
# the per-token normalization is shifted non-negative before integer
# division (DIV/​// truncate differently on negatives).
# ---------------------------------------------------------------------------

QL_BUCKETS = 4096
QL_MIX = 2654435761  # Knuth multiplicative hash constant
QL_KEEP_MILLI = 1000000  # shifted-score keep threshold (score >= 0)


def _quality_linear_sql(dialect: str) -> str:
    if dialect == "spark":
        tok, div = _SPARK_TOKENS, "DIV"
        bkt = "CAST(conv(substr(md5(t), 1, 8), 16, 10) AS BIGINT)"
    else:
        tok, div = _DUCK_TOKENS, "//"
        bkt = "('0x' || substr(md5(t), 1, 8))::BIGINT"
    un = (
        f"SELECT doc_id, explode({tok}) AS t FROM documents"
        if dialect == "spark"
        else f"SELECT doc_id, unnest({tok}) AS t FROM documents"
    )
    return f"""
WITH toks AS ({un}),
scored AS (
  SELECT doc_id,
         (({bkt} % {QL_BUCKETS}) * {QL_MIX}) % 2001 - 1000 AS w
  FROM toks
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(w) AS BIGINT) AS score_sum,
       (1000 * (CAST(SUM(w) AS BIGINT) + 1000 * COUNT(*)))
         {div} COUNT(*) AS score_milli,
       (1000 * (CAST(SUM(w) AS BIGINT) + 1000 * COUNT(*)))
         {div} COUNT(*) >= {QL_KEEP_MILLI} AS keep
FROM scored
GROUP BY doc_id
"""


def text_quality_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear quality score + keep decision per doc."""
    _view(spark, sf_dir)
    return spark.sql(_quality_linear_sql("spark"))


# ---------------------------------------------------------------------------
# Gopher / MassiveText rule battery (Rae et al. 2021, table A1): the
# classic pre-training quality gate — word-count bounds, mean-word-length
# bounds, symbol-to-word ratio, alphabetic-word fraction, line-shape
# rules (bullet / ellipsis lines), and a required-stopword count.  Every
# feature here is an exact integer and every threshold a cross-multiplied
# integer comparison, so the row hashes cannot knife-edge across engines
# (the round-6 lesson); the whole battery is scan-side scalar SQL — no
# join, no shuffle, no UDF — i.e. it rides the corpus scan for free at
# 100 TB.
#
# Integer constructions worth noting:
# - token chars = length(norm) - (n_tokens - 1): tokens are the
#   single-space split of the normalized text, so total token length is
#   recovered from the string length without touching the array.
# - alphabetic-token count: spaces are doubled and the text wrapped in
#   spaces, so every token is enclosed by its OWN delimiter pair and one
#   regexp_count of ' [^ ]*[a-z][^ ]* ' counts tokens containing a
#   letter without lookarounds (DuckDB's RE2 has none) and without
#   array lambdas (which fall out of whole-stage codegen).
# - line rules append/prepend an explicit '\n' sentinel so the patterns
#   never rely on '$' (Java's '$' matches before a final line
#   terminator, RE2's does not).
# ---------------------------------------------------------------------------

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
GOPHER_MIN_STOPWORDS = 2


def _gopher_feats(dialect: str) -> tuple[list[str], str, str]:
    """(feature exprs over a (doc_id, text, nrm, tok) relation, norm
    expr, tok expr) — shared by the batch lane, its oracle, and the
    streaming ingest funnel (stream_corpus_ingest selectExprs the same
    fragments over the file stream)."""
    if dialect == "spark":
        norm = "lower(trim(regexp_replace(text, '\\\\s+', ' ')))"
        tok = _SPARK_TOKENS
        size, contains = "size", "array_contains"
        rxcount = "regexp_count({s}, {p})"
        # Spark's string literal parser eats one backslash level
        p_alpha = "' [^ ]*[a-z][^ ]* '"
        p_bullet = "'\\\\n[-*] '"
        p_ellip = "'\\\\.\\\\.\\\\.\\\\n'"
        idiv = "DIV"
        n_lines = "size(split(text, '\\\\n'))"
    else:
        norm = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
        tok = _DUCK_TOKENS
        size, contains = "len", "list_contains"
        rxcount = "len(regexp_extract_all({s}, {p}))"
        p_alpha = "' [^ ]*[a-z][^ ]* '"
        p_bullet = "'\\n[-*] '"
        p_ellip = "'\\.\\.\\.\\n'"
        idiv = "//"
        n_lines = "len(string_split(text, chr(10)))"
    n_alpha = rxcount.format(
        s="' ' || replace(nrm, ' ', '  ') || ' '", p=p_alpha
    )
    # chr(10) sidesteps both engines' string-literal escape rules: a
    # quoted '\n' reaches the concat as the TWO-char backslash-n string
    # (SQL literals don't cook regex escapes), silently un-counting the
    # first bullet line / last ellipsis line — caught by
    # tests/test_pipeline_invariants.py::test_gopher_rules_hand_corpus
    n_bullet = rxcount.format(s="chr(10) || text", p=p_bullet)
    n_ellip_l = rxcount.format(s="text || chr(10)", p=p_ellip)
    n_stop = " + ".join(
        f"CASE WHEN {contains}(tok, '{w}') THEN 1 ELSE 0 END"
        for w in GOPHER_STOPWORDS
    )
    feats = [
        f"CAST({size}(tok) AS INT) AS n_tokens",
        f"CAST(length(nrm) - ({size}(tok) - 1) AS INT) AS tok_chars",
        "CAST(length(text) - length(replace(text, '#', ''))"
        f" + (length(text) - length(replace(text, '...', ''))) {idiv} 3"
        " AS INT) AS n_symbols",
        f"CAST({n_alpha} AS INT) AS n_alpha_tokens",
        f"CAST({n_stop} AS INT) AS n_stop_hits",
        f"CAST({n_lines} AS INT) AS n_lines",
        f"CAST({n_bullet} AS INT) AS n_bullet_lines",
        f"CAST({n_ellip_l} AS INT) AS n_ellipsis_lines",
    ]
    return feats, norm, tok


# per-rule pass flags over the feature aliases — pure integer
# comparisons, so the SAME strings run on both engines
_GOPHER_RULES: list[tuple[str, str]] = [
    (
        "pass_word_count",
        f"n_tokens BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}",
    ),
    (
        "pass_mean_word_len",
        "3 * n_tokens <= tok_chars AND tok_chars <= 10 * n_tokens",
    ),
    ("pass_symbol_ratio", "10 * n_symbols <= n_tokens"),
    ("pass_alpha_words", "5 * n_alpha_tokens >= 4 * n_tokens"),
    ("pass_stopwords", f"n_stop_hits >= {GOPHER_MIN_STOPWORDS}"),
    (
        "pass_line_shape",
        "10 * n_bullet_lines <= 9 * n_lines"
        " AND 10 * n_ellipsis_lines <= 3 * n_lines",
    ),
]

GOPHER_PASS_EXPR = " AND ".join(expr for _, expr in _GOPHER_RULES)


def _gopher_sql(dialect: str) -> str:
    feats, norm, tok = _gopher_feats(dialect)
    flags = ",\n       ".join(
        f"{expr} AS {name}" for name, expr in _GOPHER_RULES
    )
    feat_list = ",\n         ".join(feats)
    return f"""
WITH f AS (
  SELECT doc_id,
         {feat_list}
  FROM (SELECT doc_id, text, {norm} AS nrm, {tok} AS tok FROM documents)
)
SELECT doc_id, n_tokens, tok_chars, n_symbols, n_alpha_tokens, n_stop_hits,
       n_lines, n_bullet_lines, n_ellipsis_lines,
       {flags},
       {GOPHER_PASS_EXPR} AS gopher_pass
FROM f
"""


def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Gopher rule features + per-rule and overall pass flags."""
    _view(spark, sf_dir)
    return spark.sql(_gopher_sql("spark"))


def _quality_calibration_sql(dialect: str) -> str:
    """Per-source confusion matrix of the hashed-linear scorer's keep
    decision against text_quality's heuristic quality_pass as labels —
    the calibration artifact a deployment reads before trusting a
    cheap classifier to stand in for the heuristic gate at 100 TB.
    (The Gopher battery was measured as the label and REJECTED: the
    synthetic corpus fails it corpus-wide at every sf, so the matrix
    would have a never-firing label column.)  ONE corpus scan: the
    label and the exploded token score derive from the same tokenize."""
    if dialect == "spark":
        tok = _SPARK_TOKENS
        bkt = "CAST(conv(substr(md5(t), 1, 8), 16, 10) AS BIGINT)"
        ex = "explode(tok) AS t"
        div = "DIV"
        size, dis = "size", "array_distinct"
    else:
        tok = _DUCK_TOKENS
        bkt = "('0x' || substr(md5(t), 1, 8))::BIGINT"
        ex = "unnest(tok) AS t"
        div = "//"
        size, dis = "len", "list_distinct"
    # exactly text_quality's quality_pass expression
    qpass = (
        f"{size}(tok) BETWEEN 20 AND 1000"
        f" AND CAST({size}({dis}(tok)) AS DOUBLE) / {size}(tok) > 0.2"
    )
    tp = "CASE WHEN keep AND gpass THEN 1 ELSE 0 END"
    return f"""
WITH f AS (
  SELECT doc_id, source, tok, ({qpass}) AS gpass
  FROM (SELECT doc_id, source, {tok} AS tok FROM documents)
  WHERE {size}(tok) > 0
),
e AS (
  SELECT doc_id, source, gpass, {ex}
  FROM f
),
sc AS (
  SELECT doc_id, source, gpass,
         (1000 * (CAST(SUM((({bkt} % {QL_BUCKETS}) * {QL_MIX}) % 2001
                        - 1000) AS BIGINT)
                  + 1000 * COUNT(*))) {div} COUNT(*)
           >= {QL_KEEP_MILLI} AS keep
  FROM e GROUP BY doc_id, source, gpass
)
SELECT source,
       CAST(SUM({tp}) AS BIGINT) AS tp,
       CAST(SUM(CASE WHEN keep AND NOT gpass THEN 1 ELSE 0 END)
            AS BIGINT) AS fp,
       CAST(SUM(CASE WHEN NOT keep AND gpass THEN 1 ELSE 0 END)
            AS BIGINT) AS fn,
       CAST(SUM(CASE WHEN NOT keep AND NOT gpass THEN 1 ELSE 0 END)
            AS BIGINT) AS tn,
       CAST((1000000 * CAST(SUM({tp}) AS BIGINT))
         {div} GREATEST(SUM(CASE WHEN keep THEN 1 ELSE 0 END), 1)
         AS BIGINT) AS precision_ppm,
       CAST((1000000 * CAST(SUM({tp}) AS BIGINT))
         {div} GREATEST(SUM(CASE WHEN gpass THEN 1 ELSE 0 END), 1)
         AS BIGINT) AS recall_ppm
FROM sc GROUP BY source
"""


def text_quality_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Confusion matrix + precision/recall (ppm) of text_quality_linear
    vs text_quality's quality_pass, per source — referee-tested against
    the two standalone lanes joined row-wise."""
    _view(spark, sf_dir)
    return spark.sql(_quality_calibration_sql("spark"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "text_quality_calibration": text_quality_calibration,
        "text_gopher_rules": text_gopher_rules,
        "text_quality_linear": text_quality_linear,
        "train_bpe_encode": train_bpe_encode,
        "train_tokenizer_fertility": train_tokenizer_fertility,
        "text_vocab_coverage": text_vocab_coverage,
        "text_readability": text_readability,
        "text_entropy": text_entropy,
        "text_tokens_bpe": text_tokens_bpe,
        "text_bigram_lm": text_bigram_lm,
        "train_perplexity_filter": train_perplexity_filter,
        "text_tfidf": text_tfidf,
        "text_tokens": text_tokens,
        "text_quality": text_quality,
        "text_lang_id": text_lang_id,
        "text_lang_id_eval": text_lang_id_eval,
        "text_fingerprint": text_fingerprint,
        "train_tokenizer_vocab": train_tokenizer_vocab,
        "train_bpe_merges": train_bpe_merges,
    }


def oracles() -> dict[str, str]:
    return {
        "text_quality_calibration": _quality_calibration_sql("duck"),
        "text_gopher_rules": _gopher_sql("duck"),
        "text_quality_linear": _quality_linear_sql("duck"),
        "train_bpe_encode": _bpe_encode_oracle(),
        "train_tokenizer_fertility": _tokenizer_fertility_oracle(),
        "text_entropy": _ENTROPY_ORACLE,
        "text_tokens_bpe": _TOKENS_BPE_ORACLE,
        "text_bigram_lm": _BIGRAM_LM_ORACLE,
        "train_perplexity_filter": _ppl_filter_sql("duck"),
        "text_tfidf": _TFIDF_ORACLE,
        "text_tokens": _TOKENS_ORACLE,
        "text_quality": _QUALITY_ORACLE,
        "text_readability": _READABILITY_ORACLE,
        "text_vocab_coverage": _VOCAB_COVERAGE_ORACLE,
        "text_lang_id": _LANGID_ORACLE,
        "text_lang_id_eval": _langid_eval_sql("duck"),
        "text_fingerprint": _FINGERPRINT_ORACLE,
        "train_tokenizer_vocab": _VOCAB_ORACLE,
        "train_bpe_merges": _bpe_merges_oracle(),
    }

"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's compiled artifacts (enriched hub tables
and outputs of ``projects/tpch_demo``, the reference sample's project shape
re-expressed over the driver testdata) plus the scale-out extension
operators.  ``oracle_sql()`` holds hand-written DuckDB equivalents; the
driver value-compares both at sf=0.01.

Coverage map (SURVEY.md §2 -> query):
  S1-S4 scans/sinks          -> every hub_* / output_* query
  P1-P4 projections/filters  -> hub_* (derived cols), output_* (filters)
  P3 decimal normalization   -> hub_customer.acctbal_dec, hub_lineitem.net_price
  J1 lookup join             -> hub_nation.region_name
  J2 multi-hop chain         -> hub_customer.region_name, hub_lineitem.c_name,
                                hub_lineitem.cust_nation_name (explicit 3-hop)
  J4 theta/expr keys         -> hub_lineitem.supplier_name (CAST key)
  J3 self-join               -> engine_selfjoin (lookup + aggregate over a
                                self relation), tests/test_selfjoin.py
  W4 recalculation           -> engine_recalc (incremental == full rebuild)
  W4+ incremental append     -> engine_incremental (new-rows-only compile,
                                window/uniqueness re-derive; append ==
                                full rebuild, extension)
  W4+ incremental upsert     -> engine_upsert (MERGE by key; displaced
                                window partitions recomputed too;
                                upsert == full rebuild, extension)
  S6/S7 SQL artifact         -> engine_sql_artifact (emitted run.sql
                                executed, table value-matched)
  P7 struct-key mappings     -> engine_struct_keys
  §2.11 engine sub-source    -> engine_subsource (element rules re-packed),
                                engine_subsource_chain (nested levels +
                                ancestor refs), engine_subsource_siblings
                                ([sibling].attr arrays across sub-sources
                                of one parent)
  C8 import/diff engine      -> engine_import_diff (v1 import, mutated v2
                                re-import: rename + in-place upsert +
                                source-drop cascade, compile --from-state)
  J5 correlated aggregate    -> hub_customer.total_spend/order_count/...,
                                hub_part.* (incl. aggregate over a rule),
                                hub_customer.nation_supplier_count (multi-hop)
  J7 uniqueness guard        -> hub_lineitem.supplier_name (uv_flag conjunct)
  A1-A4 aggregations         -> hub aggregates (sum/count/max/max_by/median/
                                count DISTINCT/collect_set) +
                                output_feature_customer (GROUP BY + DISTINCT);
                                engine_agg_numeric / engine_agg_ordered /
                                engine_agg_collect (26 whitelist-function
                                rules through the correlated-aggregate
                                rule path, split by aggregate family,
                                incl. count/sum/avg DISTINCT variants)
  W1 window functions        -> hub_orders.cust_order_rank
  O2 UNION + typed-null fill -> output_entity_union
  O3 INTERSECT/EXCEPT (ext.) -> engine_set_ops (set-operation channels,
                                left-associative, artifact-parity)
  V1-V4 validation rules     -> *_valid rules, s_validation_status_code,
                                channel pass routing, s_suppkey_str_uv_flag
  §2.11 nested / sub-source  -> nested_roundtrip, nested_aggregate
  §2.9 streaming (extension) -> stream_hourly (watermarked window agg on
                                the streaming engine), stream_anomaly
                                (stream-STATIC join: live events scored
                                against a batch stats table),
                                stream_attribution
                                (watermarked stream-stream join),
                                stream_attribution_outer (LEFT-OUTER
                                stream-stream join; unmatched clicks
                                emitted by watermark state expiry),
                                stream_sessionize (applyInPandasWithState
                                custom stateful operator),
                                stream_dedup (duplicate-injected
                                at-least-once stream -> watermarked
                                dropDuplicates exactly-once counts),
                                stream_dd_quantiles (the log-bucket
                                quantile sketch maintained incrementally
                                in stream state — bucket counts add
                                across micro-batches);
                                tests/test_streaming.py (batch parity)
  Mergeable sketches          -> sketch_kmv_distinct (bottom-K distinct
                                sketch, merged __all__ row in-plan),
                                sketch_kmv_jaccard (theta-intersection
                                pairwise source overlap from sketches
                                alone), sketch_sample_quantiles
                                (deterministic hash-Bernoulli sample +
                                rank selection), sketch_dd_quantiles
                                (DDSketch-style log-bucket histogram,
                                libm-free bit-length bucketing,
                                per-partition merge == global pinned by
                                invariant test), sketch_cms_heavy_hitters
                                (Count-Min matrix + top-20 eval,
                                one-sided by construction),
                                sketch_accuracy_eval (estimate-vs-exact
                                error for kmv/dd/cms in one frame — the
                                acceptance artifact),
                                sketch_kmv_k_curve (error vs sketch
                                size from one ranked pass),
                                sketch_hll_distinct (integer-exact
                                HyperLogLog, register-MAX merge
                                in-plan)
  LLM-pipeline operators     -> events_quantiles (exact interpolated
                                percentiles, 1e-6-quantized) /
                                events_anomaly (decimal-exact per-user
                                z-scores),
                                text_bigram_lm (corpus bigram LM quality
                                scoring, quantized log-probs),
                                train_mix_domains (domain-mixture
                                resampling, integer rates + md5 draw),
                                ann_outliers (distance to own-label
                                centroid, fixed-point centroid sums),
                                ann_recall_eval (recall@K of IVF vs
                                exact; nprobe/top_k dials via
                                ann_ivf_search and the parameterized
                                contract queries_parameterized();
                                ann_ivf_probe3_k5 = driver-proven
                                off-default setting),
                                ann_nprobe_recall_curve (recall@K across
                                the nprobe grid, one candidate pass),
                                dedup_lsh_band_curve (measured LSH
                                S-curve across signature band layouts;
                                the (bands, rows) layout is itself a
                                dial on dedup_minhash),
                                dedup_cos_threshold_curve (cosine-floor
                                tuning curve for embedding near-dup,
                                one candidate pass),
                                embeddings_top_pcs (top-4 deflation
                                directions in one frame) /
                                embeddings_whiten (all-but-the-top-4
                                residuals, n_pc dialable),
                                train_tokenizer_fertility (BPE
                                pieces-per-word by language),
                                stream_near_dedup (streaming near-dup
                                gate probing the stored corpus LSH
                                index via stream-static joins),
                                ann_knn_graph (bucket-keyed kNN edge
                                list, WindowGroupLimit top-k),
                                ann_ivf_stats (per-cell index balance
                                + capped search coverage),
                                ann_pq_encode (product-quantization
                                codes: per-subspace codeword argmin),
                                embeddings_quantize (int8 codes +
                                reconstruction-error round-trip),
                                events_transitions (event-type Markov
                                matrix), events_sliding_active (3h/1h
                                sliding windows), events_dau_wau
                                (DAU/WAU stickiness), events_range_join
                                (banded hour-bucket range join:
                                purchases within 1h of each view),
                                text_tokens_bpe (BPE-style regex piece
                                stats), train_tokenizer_vocab (top-256
                                BPE pieces, vocabulary seed list), text_entropy (quantized-log
                                Shannon entropy),
                                dedup_report (one-row corpus dedup
                                summary), dedup_keep_best (canonical doc
                                per near-dup cluster),
                                dedup_semantic_cluster (CC over
                                embedding near-dup pairs),
                                train_curriculum (sharded quality-tier
                                ordering), train_span_corruption
                                (T5-style mask spans, scan-side),
                                train_dataset_card (one-row corpus
                                summary), train_length_histogram
                                (power-of-two length buckets),
                                dedup_boilerplate (cross-document
                                repeated-span table),
                                dedup_cluster_stats (cluster-size
                                histogram — the dedup QA metric),
                                dedup_exact / dedup_minhash / dedup_cluster /
                                dedup_cluster_pd (pointer doubling) /
                                dedup_ngram_jaccard / dedup_simhash[_pairs] /
                                dedup_embedding,
                                ann_bruteforce / ann_ivf_label /
                                ann_ivf_kmeans / ann_ivf_probe2 (nprobe=2) /
                                ann_lsh_hyperplane / ann_rerank,
                                text_tokens/quality/lang_id/fingerprint/
                                tfidf (exact-rational idf — rank-stable
                                across engines),
                                train_pack / train_top_tokens /
                                train_contamination /
                                train_sample_stratified /
                                train_pii_redact / train_repetition /
                                train_chunk (stride token windows) /
                                train_cap_per_source (per-domain caps) /
                                train_shard_assign (deterministic md5
                                doc->shard map + balance report),
                                events_hourly/sessionize/json/asof_order/
                                funnel,
                                multimodal_patches (deterministic BMP ->
                                ViT-style 8x8 patch grid, integer
                                stats through the byte round-trip) /
                                multimodal_audio_features (int16
                                waveform -> RIFF round-trip -> integer
                                loudness/zero-crossings) /
                                multimodal_meta / multimodal_frame_sample /
                                multimodal_decode (real stdlib header
                                parse) / multimodal_resize (real stdlib
                                pixel/sample resize, NN resample) /
                                multimodal_phash_neardup (banded-dHash
                                image near-dup report, salted LSH),
                                text_lang_id_eval (language-ID
                                confusion matrix vs labels, exact ppm),
                                ann_ivf_pq_residual (IVFADC with
                                residual encoding) /
                                ann_ivf_pq_trained (k-means-trained
                                residual codebook, stored codes) /
                                ann_pq_residual_recall (raw vs residual
                                vs trained quantization-loss eval),
                                stream_phash_gate (streaming image
                                near-dup gate over the stored phash
                                band index),
                                train_perplexity_filter (CCNet-style
                                mean-NLL percentile corpus filter,
                                pct dial),
                                stream_ppl_gate (streaming LM quality
                                gate over the stored bigram model),
                                sketch_kmv_setops (theta set algebra
                                across source pairs from K-row
                                sketches alone),
                                sketch_intersection_eval (theta vs
                                HLL inclusion-exclusion intersection
                                shoot-out from stored sketches),
                                ann_mrl_rerank (two-stage Matryoshka
                                retrieval eval, c_short dial),
                                multimodal_phash_clusters (image dup
                                clusters: hash-space CC over the
                                banded phash graph)
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from dataforge_core_spark.operators._store import stored
from dataforge_core_spark.operators.engine_rows import canonicalize

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:  # robust under by-path module loading
    sys.path.insert(0, _REPO)
_PROJECT_DIR = os.path.join(_REPO, "projects", "tpch_demo")


@stored("engine_hub_compile")
def _build(spark: SparkSession, sf_dir: str):
    from dataforge_core_spark import ProjectRunner, load_project

    project = load_project(_PROJECT_DIR)
    runner = ProjectRunner(
        spark, project, {"DATA_DIR": sf_dir}, persist_hubs=False
    )
    # level-parallel compile + eager local checkpoint per hub: the
    # reference's run.sql materializes every hub table, and
    # checkpointed frames are plain LogicalRDD scans — persisted
    # (CacheManager) hubs instead tax EVERY later query in the
    # session with canonicalized-plan cache-match passes over 7
    # wide hub plans (measured: ~10s across the bench phase).
    # Downstream hubs compile against the checkpointed frames, so
    # nothing is stored twice and independent hubs materialize
    # concurrently (was: sequential persist -> checkpoint ->
    # unpersist, ~1.4x slower at sf0.1).  Each hub compiles from the
    # emitter's own SQL (plans/render.py), one statement per CTE level
    # rather than one per hub.  The single-SQL-per-hub path measured
    # ~10s worse cold, blamed on ANTLR's first parse of giant
    # statements; a fresh JVM parses all 9 tpch_demo run.sql CREATE
    # statements (longest 4,953 chars) in 1.07s and a warm one in
    # 0.075s (4 vCPU), and the level statements are shorter still.
    hubs = runner.build_checkpointed()
    outs = runner.build_outputs(hubs)
    return hubs, outs


def _hub(name: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        return canonicalize(_build(spark, sf_dir)[0][name])

    return q


def _output(name: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        return canonicalize(_build(spark, sf_dir)[1][name])

    return q


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the aggregated feature_customer output at sf0.001."""
    return _output("feature_customer")(spark, "/root/testdata/sf0.001")


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every implemented query — the full inventory, oracle-tested
    locally by tests/test_oracle.py.

    The three deepest pipeline rows come first: hub_lineitem exercises
    multi-hop lookups, theta keys and uniqueness guards (and builds on
    every upstream hub); the two outputs exercise channel aggregation
    and union.  Then the extension registry, then the six simple hubs
    that hub_lineitem builds on."""
    from dataforge_core_spark.operators import extension_queries

    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "hub_lineitem": _hub("tpch_lineitem"),
        "output_feature_customer": _output("feature_customer"),
        "output_entity_union": _output("entity_union"),
    }
    q.update(extension_queries())
    for tbl in ("region", "nation", "supplier", "orders", "customer", "part"):
        q[f"hub_{tbl}"] = _hub(f"tpch_{tbl}")
    return q


def _driver_records() -> tuple[int, dict[str, int]]:
    """``(highest round, {name: round of its latest record, or -1 if
    that record failed})`` over the repo's ``CORRECTNESS_r{N}.json``."""
    files = sorted(
        (int(m.group(1)), p)
        for p in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r(\d+)", os.path.basename(p)))
    )
    latest: dict[str, int] = {}
    for rnd, path in files:
        try:
            with open(path) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rec.items() if isinstance(rec, dict) else ():
            row = row if isinstance(row, dict) else {}
            passed = (
                row.get("rows_match") is True
                and row.get("schema_match") is not False
                and row.get("hash_match") is not False
                and not row.get("err")
            )
            latest[name] = rnd if passed else -1
    return max((rnd for rnd, _ in files), default=0), latest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The full implemented inventory — ``all_queries()`` reordered.

    The round driver records at most 50 CORRECTNESS rows per round.
    This contract does not trim itself to fit; it orders instead: the
    three pinned rows of ``all_queries()`` first, then every other name
    by ``(latest passing record round, name)`` with -1 for a name never
    recorded or whose latest record failed.  So unproven rows enter the
    capture window first and the stalest proofs are refreshed next.
    Every row is value-checked locally by tests/test_oracle.py.
    """
    q = all_queries()
    names = list(q)
    rounds = _driver_records()[1]
    rest = sorted(names[3:], key=lambda n: (rounds.get(n, -1), n))
    return {n: q[n] for n in names[:3] + rest}


def queries_parameterized() -> dict[str, dict]:
    """Per-query parameter dials, driver-visible (round-9 verdict item:
    the fixed ``(spark, sf_dir)`` lane signature hides knobs like
    nprobe/top-K behind module constants).  Additive to the core
    contract — ``queries()``/``oracle_sql()`` are unchanged; a driver
    that knows this entry can sweep the dials and still value-check
    every setting, because each entry carries an ``oracle_sql``
    BUILDER that accepts the same keyword parameters and emits the
    matching DuckDB SQL.

    Shape: name -> {
      "fn":         Callable[[SparkSession, str], DataFrame] taking the
                    dials as extra keyword arguments,
      "params":     {dial: default} — accepted keywords and defaults,
      "oracle_sql": Callable[..., str] taking the SAME keywords,
    }

    ``ann_ivf_probe2`` / ``ann_ivf_probe3_k5`` in ``queries()`` are the
    driver-proven instantiations ((2, 10) and (3, 5));
    tests/test_parameterized.py value-checks further settings through
    this entry.
    """
    from dataforge_core_spark.operators import dedup as D
    from dataforge_core_spark.operators import events as E
    from dataforge_core_spark.operators import multimodal as M
    from dataforge_core_spark.operators import similarity as S
    from dataforge_core_spark.operators import simhash as SH
    from dataforge_core_spark.operators import streaming_rows as SR
    from dataforge_core_spark.operators import text as X
    from dataforge_core_spark.operators import training as T

    return {
        # media_policy: 'flag' (default — media dup statuses are
        # carried as columns only) vs 'reject' (the cross-modal
        # referee: image/audio dups become rejection reasons, ordered
        # between the text-dup and content checks)
        "train_ingest_decision": {
            "fn": T.train_ingest_decision,
            "params": {"media_policy": "flag"},
            "oracle_sql": lambda media_policy="flag": (
                T._ingest_decision_oracle(media_policy)
            ),
        },
        # the context-window / chunking dials a training pipeline
        # sweeps when retargeting sequence length (round-13)
        "train_pack": {
            "fn": T.train_pack,
            "params": {"token_budget": T.TOKEN_BUDGET},
            "oracle_sql": lambda token_budget=T.TOKEN_BUDGET: (
                T._pack_sql("duck", token_budget)
            ),
        },
        "train_chunk": {
            "fn": T.train_chunk,
            "params": {
                "chunk_tokens": T.CHUNK_TOKENS,
                "chunk_stride": T.CHUNK_STRIDE,
            },
            "oracle_sql": lambda chunk_tokens=T.CHUNK_TOKENS, chunk_stride=(
                T.CHUNK_STRIDE
            ): T._chunk_sql("duck", chunk_tokens, chunk_stride),
        },
        "dedup_boilerplate": {
            "fn": D.dedup_boilerplate,
            "params": {"span": D.BOILERPLATE_SPAN},
            "oracle_sql": lambda span=D.BOILERPLATE_SPAN: (
                D._boilerplate_sql("duck", span)
            ),
        },
        "train_cap_per_source": {
            "fn": T.train_cap_per_source,
            "params": {"cap": T.SOURCE_CAP},
            "oracle_sql": lambda cap=T.SOURCE_CAP: T._cap_sql("duck", cap),
        },
        "train_top_tokens": {
            "fn": T.train_top_tokens,
            "params": {"k": T.TOP_K},
            "oracle_sql": lambda k=T.TOP_K: T._top_tokens_sql("duck", k),
        },
        "events_sessionize": {
            "fn": E.events_sessionize,
            "params": {"gap_min": E.SESSION_GAP_MIN},
            "oracle_sql": lambda gap_min=E.SESSION_GAP_MIN: (
                E._sessionize_sql("duck", gap_min)
            ),
        },
        "train_perplexity_filter": {
            "fn": X.train_perplexity_filter,
            "params": {"pct": X.PPL_KEEP_PCT},
            "oracle_sql": lambda pct=X.PPL_KEEP_PCT: (
                X._ppl_filter_sql("duck", pct=pct)
            ),
        },
        # ham_max (r14): the near-dup strictness radius — exact up to
        # bands - 1 differing bits (pigeonhole); wider values are
        # rejected (a wider radius needs more bands, not a bigger
        # threshold on this index)
        "multimodal_audio_neardup": {
            "fn": M.multimodal_audio_neardup,
            "params": {
                "max_bucket": M.MAX_AFP_BUCKET,
                "ham_max": M.AFP_HAMMING_MAX,
            },
            "oracle_sql": lambda max_bucket=M.MAX_AFP_BUCKET, ham_max=(
                M.AFP_HAMMING_MAX
            ): M._afp_neardup_oracle(max_bucket, ham_max),
        },
        "multimodal_phash_neardup": {
            "fn": M.multimodal_phash_neardup,
            "params": {
                "max_bucket": M.MAX_PHASH_BUCKET,
                "ham_max": M.PHASH_HAMMING_MAX,
            },
            "oracle_sql": lambda max_bucket=M.MAX_PHASH_BUCKET, ham_max=(
                M.PHASH_HAMMING_MAX
            ): M._phash_neardup_oracle(max_bucket, ham_max),
        },
        # window_min (r14): the stage-completion window — each funnel
        # stage's first event must land within window_min minutes of
        # the previous stage's; None = the classic unbounded funnel
        "events_funnel": {
            "fn": E.events_funnel,
            "params": {"window_min": None},
            "oracle_sql": lambda window_min=None: (
                E._funnel_sql(window_min)
            ),
        },
        # span-corruption dials (r15): the T5 denoising knobs — the
        # corruption rate (% of token positions starting a mask span,
        # drawn from a mod-100 hash residue so any int in (0,100] is
        # exactly representable) and the maximum span length
        "train_span_corruption": {
            "fn": T.train_span_corruption,
            "params": {
                "rate_pct": T.SPAN_RATE_PCT,
                "span_max": T.SPAN_MAX,
            },
            "oracle_sql": lambda rate_pct=T.SPAN_RATE_PCT, span_max=(
                T.SPAN_MAX
            ): T._span_sql("duck", rate_pct, span_max),
        },
        # bot-filter strictness dials (r15): the volume floor and the
        # CV² threshold as an exact rational (num/den ints keep the
        # flag an integer cross-multiplied comparison at any setting)
        "events_bot_detection": {
            "fn": E.events_bot_detection,
            "params": {
                "min_gaps": E.BOT_MIN_GAPS,
                "cv2_num": E.BOT_CV2_NUM,
                "cv2_den": E.BOT_CV2_DEN,
            },
            "oracle_sql": (
                lambda min_gaps=E.BOT_MIN_GAPS,
                cv2_num=E.BOT_CV2_NUM,
                cv2_den=E.BOT_CV2_DEN: E._bot_sql(
                    "duck", min_gaps, cv2_num, cv2_den
                )
            ),
        },
        # simhash text near-dup dials (r14): the verify threshold
        # (recall/cost semantics — the 4-block banding is exact only
        # <= 3, see the module docstring) and the LSH bucket cap
        "dedup_simhash_pairs": {
            "fn": SH.dedup_simhash_pairs,
            "params": {
                "max_block_bucket": SH.MAX_BLOCK_BUCKET,
                "ham_max": SH.HAMMING_MAX,
            },
            "oracle_sql": (
                lambda max_block_bucket=SH.MAX_BLOCK_BUCKET,
                ham_max=SH.HAMMING_MAX: SH._pairs_sql(
                    "duck", max_block_bucket, ham_max
                )
            ),
        },
        # exact n-gram Jaccard dials (r15): the hot-shingle df cap
        # (skew/recall — a lower cap drops boilerplate shingles from
        # pair generation while sizes stay full) and the near-dup
        # strictness threshold
        "dedup_ngram_jaccard": {
            "fn": D.dedup_ngram_jaccard,
            "params": {
                "max_shingle_df": D.MAX_SHINGLE_DF,
                "threshold": D.JACCARD_THRESHOLD,
            },
            "oracle_sql": lambda max_shingle_df=D.MAX_SHINGLE_DF, threshold=(
                D.JACCARD_THRESHOLD
            ): D._ngram_oracle(max_shingle_df, threshold),
        },
        "dedup_minhash": {
            "fn": D.dedup_minhash,
            "params": {
                "max_band_bucket": D.MAX_BAND_BUCKET,
                "bands": D.MINHASH_BANDS,
                "rows": D.MINHASH_R,
            },
            "oracle_sql": lambda max_band_bucket=D.MAX_BAND_BUCKET, bands=(
                D.MINHASH_BANDS
            ), rows=D.MINHASH_R: D._minhash_oracle(
                max_band_bucket, bands, rows
            ),
        },
        "ann_ivf_search": {
            "fn": S.ann_ivf_search,
            "params": {"nprobe": 1, "top_k": S.TOP_K},
            "oracle_sql": lambda nprobe=1, top_k=S.TOP_K: (
                S._ivf_search_oracle(nprobe=nprobe, top_k=top_k)
            ),
        },
        # The IVF-PQ family's dials (r11 verdict #4): nprobe is the
        # query-time recall dial on all three flavors; pq_m (subspace
        # count — the compression/accuracy dial the 0.35-vs-0.45
        # recall spread is tuned with) re-encodes inline off-default
        # on raw/residual; the TRAINED codebook's m is fixed at train
        # time (a stored-index property, like FAISS), so the trained
        # lane exposes nprobe only.
        "ann_ivf_pq": {
            "fn": S.ann_ivf_pq,
            "params": {"nprobe": 1, "pq_m": S.PQ_M},
            "oracle_sql": lambda nprobe=1, pq_m=S.PQ_M: (
                S._ivf_pq_oracle(nprobe=nprobe, pq_m=pq_m)
            ),
        },
        "ann_ivf_pq_residual": {
            "fn": S.ann_ivf_pq_residual,
            "params": {"nprobe": 1, "pq_m": S.PQ_M},
            "oracle_sql": lambda nprobe=1, pq_m=S.PQ_M: (
                S._ivf_pq_residual_oracle(nprobe=nprobe, pq_m=pq_m)
            ),
        },
        "ann_ivf_pq_trained": {
            "fn": S.ann_ivf_pq_trained,
            "params": {"nprobe": 1},
            "oracle_sql": lambda nprobe=1: (
                S._ivf_pq_trained_oracle(nprobe=nprobe)
            ),
        },
        "ann_semantic_decontaminate": {
            "fn": S.ann_semantic_decontaminate,
            "params": {
                "nprobe": S.SEM_DECON_NPROBE,
                "thresh_q": S.SEM_DECON_THRESH_Q,
            },
            "oracle_sql": lambda nprobe=S.SEM_DECON_NPROBE, thresh_q=(
                S.SEM_DECON_THRESH_Q
            ): S._semantic_decontaminate_oracle(
                nprobe=nprobe, thresh_q=thresh_q
            ),
        },
        "stream_near_dedup": {
            "fn": SR.stream_near_dedup,
            "params": {"threshold": D.JACCARD_THRESHOLD},
            "oracle_sql": lambda threshold=D.JACCARD_THRESHOLD: (
                SR._near_dedup_oracle(threshold)
            ),
        },
        "stream_ann_topk": {
            "fn": SR.stream_ann_topk,
            "params": {"nprobe": 1, "top_k": S.TOP_K},
            "oracle_sql": lambda nprobe=1, top_k=S.TOP_K: (
                SR._ann_topk_oracle(nprobe=nprobe, top_k=top_k)
            ),
        },
        "stream_semantic_gate": {
            "fn": SR.stream_semantic_gate,
            "params": {
                "nprobe": S.SEM_DECON_NPROBE,
                "thresh_q": S.SEM_DECON_THRESH_Q,
            },
            "oracle_sql": lambda nprobe=S.SEM_DECON_NPROBE, thresh_q=(
                S.SEM_DECON_THRESH_Q
            ): SR._semantic_gate_oracle(
                nprobe=nprobe, thresh_q=thresh_q
            ),
        },
        "embeddings_top_pcs": {
            "fn": S.embeddings_top_pcs,
            "params": {"n_pc": S.N_PC},
            "oracle_sql": lambda n_pc=S.N_PC: S._top_pcs_oracle(n_pc),
        },
        "embeddings_whiten": {
            "fn": S.embeddings_whiten,
            "params": {"n_pc": S.N_PC},
            "oracle_sql": lambda n_pc=S.N_PC: S._whiten_oracle(n_pc),
        },
        "dedup_cos_threshold_curve": {
            "fn": S.dedup_cos_threshold_curve,
            "params": {"bucket_cap": S.EMB_BUCKET_CAP},
            "oracle_sql": lambda bucket_cap=S.EMB_BUCKET_CAP: (
                S._cos_curve_oracle(bucket_cap)
            ),
        },
        "ann_mrl_rerank": {
            "fn": S.ann_mrl_rerank,
            "params": {"c_short": S.MRL_RERANK_C},
            "oracle_sql": lambda c_short=S.MRL_RERANK_C: (
                S._mrl_rerank_oracle(c_short)
            ),
        },
        "ann_filtered_search": {
            "fn": lambda spark, sf_dir, nprobe=2, top_k=S.TOP_K: (
                S.ann_ivf_search(
                    spark,
                    sf_dir,
                    nprobe=nprobe,
                    top_k=top_k,
                    corpus_filter="c.label % 2 = 0",
                )
            ),
            "params": {"nprobe": 2, "top_k": S.TOP_K},
            "oracle_sql": lambda nprobe=2, top_k=S.TOP_K: (
                S._ivf_search_oracle(
                    nprobe=nprobe,
                    top_k=top_k,
                    corpus_filter="c.label % 2 = 0",
                )
            ),
        },
    }


# ---------------------------------------------------------------------------
# DuckDB oracles.  One WITH-block re-deriving every hub in ANSI SQL; each
# oracle selects from it.  DuckDB prunes unreferenced CTEs.
#
# Dialect alignment notes:
# - DuckDB CAST(double AS BIGINT) rounds, Spark truncates -> trunc()
# - DuckDB year()/row_number() return BIGINT, Spark int -> CAST AS INTEGER
# - strftime(ts,'%Y%m') == date_format(ts,'yyyyMM')
# - money arithmetic is decimal-exact on both engines (hash-stable)
# ---------------------------------------------------------------------------

_CTES = """
region_h AS (
  SELECT r_regionkey, r_name FROM region
),
nation_h AS (
  SELECT n.n_nationkey, n.n_name, n.n_regionkey, r.r_name AS region_name
  FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
),
supplier_h AS (
  SELECT s.s_suppkey, s.s_name, s.s_nationkey, s.s_acctbal,
         CAST(s.s_suppkey AS VARCHAR) AS s_suppkey_str,
         n.n_name AS nation_name,
         (COUNT(*) OVER (PARTITION BY CAST(s.s_suppkey AS VARCHAR))) = 1
           AS s_suppkey_str_uv_flag
  FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
),
orders_h AS (
  SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice,
         o.o_orderdate, o.o_orderpriority,
         strftime(o.o_orderdate, '%Y%m') AS order_year_month,
         CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DECIMAL(38,12))
           AS o_totalprice_dec,
         CASE WHEN o.o_totalprice > 150000 THEN true ELSE false END
           AS high_value,
         CAST(ROW_NUMBER() OVER (PARTITION BY o.o_custkey
              ORDER BY o.o_orderdate, o.o_orderkey) AS INTEGER)
           AS cust_order_rank,
         o.o_totalprice >= 0 AS valid_price,
         CASE WHEN NOT (o.o_totalprice >= 0) THEN 'F' ELSE 'P' END
           AS s_validation_status_code
  FROM orders o
),
customer_h AS (
  SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment,
         nh.n_name AS nation_name,
         nh.region_name,
         og.total_spend,
         COALESCE(og.order_count, 0) AS order_count,
         og.max_order_price,
         CASE WHEN COALESCE(og.order_count, 0) > 0
              THEN CAST(og.total_spend AS DOUBLE) / COALESCE(og.order_count, 0)
         END AS avg_order_price,
         COALESCE(sg.cnt, 0) AS nation_supplier_count,
         og.last_order_status,
         og.median_order_price,
         COALESCE(og.distinct_status_count, 0) AS distinct_status_count,
         list_sort(COALESCE(og.statuses, [])) AS order_statuses,
         CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) AS DECIMAL(38,12))
           AS acctbal_dec,
         c.c_acctbal IS NOT NULL AS acctbal_present,
         CASE WHEN NOT (c.c_acctbal IS NOT NULL) THEN 'W' ELSE 'P' END
           AS s_validation_status_code
  FROM customer c
  LEFT JOIN nation_h nh ON c.c_nationkey = nh.n_nationkey
  LEFT JOIN (
    SELECT o_custkey,
           CAST(SUM(o_totalprice_dec) AS DECIMAL(38,12)) AS total_spend,
           COUNT(o_orderkey) AS order_count,
           MAX(o_totalprice) AS max_order_price,
           max_by(o_orderstatus,
                  CAST(epoch(o_orderdate) AS BIGINT) * 10000000 + o_orderkey)
             AS last_order_status,
           median(o_totalprice) AS median_order_price,
           COUNT(DISTINCT o_orderstatus) AS distinct_status_count,
           list(DISTINCT o_orderstatus) AS statuses
    FROM orders_h GROUP BY o_custkey
  ) og ON c.c_custkey = og.o_custkey
  LEFT JOIN (
    SELECT s_nationkey, COUNT(s_suppkey) AS cnt
    FROM supplier_h GROUP BY s_nationkey
  ) sg ON nh.n_nationkey = sg.s_nationkey
),
lineitem_h AS (
  SELECT l.l_orderkey, l.l_partkey, l.l_suppkey, l.l_linenumber,
         l.l_quantity, l.l_extendedprice, l.l_discount, l.l_tax,
         l.l_returnflag, l.l_linestatus, l.l_shipdate,
         CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
              * CAST(1 - l.l_discount AS DECIMAL(8,4)) AS DECIMAL(38,12))
           AS net_price,
         CAST(trunc((l.l_extendedprice - l.l_tax - l.l_discount) * 100)
              AS BIGINT) AS net_price_int,
         CASE WHEN l.l_returnflag = 'R' THEN CAST(0 AS BIGINT)
              ELSE CAST(trunc((l.l_extendedprice - l.l_tax - l.l_discount)
                             * 100) AS BIGINT)
         END AS net_price_no_returns,
         CAST(year(l.l_shipdate) AS INTEGER) AS ship_year,
         sh.s_name AS supplier_name,
         ch.c_name AS c_name,
         nh.n_name AS cust_nation_name,
         oh.order_year_month AS order_month,
         l.l_quantity >= 0 AS quantity_valid,
         CASE WHEN NOT (l.l_quantity >= 0) THEN 'F' ELSE 'P' END
           AS s_validation_status_code
  FROM lineitem l
  LEFT JOIN supplier_h sh
    ON CAST(l.l_suppkey AS VARCHAR) = sh.s_suppkey_str
   AND sh.s_suppkey_str_uv_flag
  LEFT JOIN orders_h oh ON l.l_orderkey = oh.o_orderkey
  LEFT JOIN customer_h ch ON oh.o_custkey = ch.c_custkey
  LEFT JOIN nation_h nh ON ch.c_nationkey = nh.n_nationkey
),
part_h AS (
  SELECT p.p_partkey, p.p_name, p.p_brand, p.p_type, p.p_size,
         p.p_retailprice,
         lg.qty_sold,
         COALESCE(lg.line_count, 0) AS line_count,
         lg.revenue
  FROM part p
  LEFT JOIN (
    SELECT l_partkey, SUM(l_quantity) AS qty_sold,
           COUNT(l_orderkey) AS line_count,
           CAST(SUM(net_price) AS DECIMAL(38,12)) AS revenue
    FROM lineitem_h GROUP BY l_partkey
  ) lg ON p.p_partkey = lg.l_partkey
)
"""


def _with(select: str) -> str:
    return f"WITH {_CTES} {select}"


def oracle_sql() -> dict[str, str]:
    """Driver-facing oracles — keyset identical to queries()."""
    return all_oracles()


def all_oracles() -> dict[str, str]:
    from dataforge_core_spark.operators import extension_oracles

    o = {
        "hub_region": _with("SELECT * FROM region_h"),
        "hub_nation": _with("SELECT * FROM nation_h"),
        "hub_supplier": _with("SELECT * FROM supplier_h"),
        # DECIMAL(38,12) -> DOUBLE goes through VARCHAR on DuckDB: its direct
        # decimal cast double-rounds (int128 -> double, then / 10^12) once
        # value*10^12 > 2^53, while Spark's BigDecimal -> double and DuckDB's
        # string -> double (fast_float) are both correctly rounded.
        "hub_orders": _with(
            """SELECT * REPLACE (CAST(CAST(o_totalprice_dec AS VARCHAR)
               AS DOUBLE) AS o_totalprice_dec) FROM orders_h"""
        ),
        "hub_customer": _with(
            """SELECT * REPLACE (
                 CAST(CAST(total_spend AS VARCHAR) AS DOUBLE) AS total_spend,
                 CAST(CAST(acctbal_dec AS VARCHAR) AS DOUBLE) AS acctbal_dec,
                 array_to_string(order_statuses, ',') AS order_statuses)
               FROM customer_h"""
        ),
        "hub_lineitem": _with(
            """SELECT * REPLACE (CAST(CAST(net_price AS VARCHAR) AS DOUBLE)
               AS net_price) FROM lineitem_h"""
        ),
        "hub_part": _with(
            """SELECT * REPLACE (CAST(CAST(revenue AS VARCHAR) AS DOUBLE)
               AS revenue) FROM part_h"""
        ),
        "output_feature_customer": _with(
            """
            SELECT l.c_name AS customer,
                   l.cust_nation_name AS nation,
                   CAST(CAST(SUM(l.net_price) AS VARCHAR) AS DOUBLE)
                     AS line_net_total,
                   COUNT(l.l_linenumber) AS line_cnt,
                   COUNT(DISTINCT l.l_orderkey) AS order_cnt
            FROM lineitem_h l
            WHERE l.s_validation_status_code = 'P'
              AND (l.ship_year BETWEEN 1994 AND 1997)
            GROUP BY l.c_name, l.cust_nation_name
            """
        ),
        "output_entity_union": _with(
            """
            SELECT CAST(NULL AS VARCHAR) AS entity,
                   order_year_month AS event_month,
                   o_totalprice AS amount,
                   o_orderstatus AS status
            FROM orders_h WHERE s_validation_status_code = 'P'
            UNION ALL
            SELECT c_name AS entity,
                   CAST(NULL AS VARCHAR) AS event_month,
                   c_acctbal AS amount,
                   CAST(NULL AS VARCHAR) AS status
            FROM customer_h
            WHERE s_validation_status_code = 'P' AND c_acctbal > 0
            """
        ),
    }
    o.update(extension_oracles())
    return o

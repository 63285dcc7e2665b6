"""Cell-size guards in the similarity family: per-cell candidate caps
(kNN graph, IVF search) and hyperplane-bucket salting (embedding dedup)
must bind deterministically and identically on both engines — the
protection against a skewed cell/bucket going quadratic at 100x data."""

from __future__ import annotations

import duckdb

SF = "/root/testdata/sf0.001"


def _con():
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF}/embeddings.parquet')"
    )
    return con


def test_knn_graph_cell_cap_binds_identically(spark):
    from dataforge_core_spark.operators import similarity as S

    cap = 3
    got = {
        (r.src, r.rank, r.dst)
        for r in S.ann_knn_graph(spark, SF, cell_cap=cap).collect()
    }
    want = {
        tuple(r)
        for r in _con().execute(
            f"WITH {S._duck_v_cte()}\n{S._knn_graph_body(cap)}"
        ).fetchall()
    }
    assert got == want and got
    # the candidate set per label is the cap lowest vec_ids: every dst
    # must be one of its label's 3 lowest vec_ids
    v = spark.sql(f"SELECT vec_id, label FROM {S._normed(spark, SF)}")
    lows: dict = {}
    for r in v.collect():
        lows.setdefault(r.label, []).append(r.vec_id)
    allowed = {vid for ids in lows.values() for vid in sorted(ids)[:cap]}
    assert {d for _, _, d in got} <= allowed


def test_dedup_embedding_bucket_salted(spark):
    from dataforge_core_spark.operators import similarity as S

    cap = 5
    got = {
        (r.vec_a, r.vec_b)
        for r in S.dedup_embedding(spark, SF, bucket_cap=cap).collect()
    }
    want = {
        tuple(r)
        for r in _con()
        .execute(S._dedup_embedding_oracle(cap))
        .fetchall()
    }
    assert got == want
    # salting keeps only same-residue pairs inside oversized buckets
    unguarded = {
        (r.vec_a, r.vec_b)
        for r in S.dedup_embedding(spark, SF, bucket_cap=10**9).collect()
    }
    assert got <= unguarded


def test_ivf_cell_cap_in_plan_and_binds(spark, monkeypatch):
    """The IVF assignment index carries cellrn (built once, rides the
    cid repartition) and the search filters on it — with a tiny cap the
    Spark result still matches the identically-capped DuckDB oracle."""
    from dataforge_core_spark.operators import similarity as S

    plan = (
        S.ann_ivf_probe2(spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "cellrn" in plan, "cell-size cap filter missing from IVF search"

    monkeypatch.setattr(S, "IVF_CELL_CAP", 4)
    got = {
        tuple(r) for r in S.ann_ivf_probe2(spark, SF).collect()
    }
    want = {
        tuple(r) for r in _con().execute(S._ivf_probe2_oracle()).fetchall()
    }
    assert got == want and got


def test_literal_probe_top1_matches_stored_assignment(spark):
    """_probe_sorted_expr's nearest cell must equal the stored af.cid
    for EVERY vector — the literal-projection probe (semantic
    decontamination) and the ROW_NUMBER probe (ivf search, oracle) are
    the same argmin bit-for-bit, or probed lanes would silently search
    different cells than the index stores."""
    import dataforge_core_spark.operators.similarity as S

    sf = "/root/testdata/sf0.001"
    af = S._kmeans_assignments(spark, sf)
    cent = S._kmeans_centroids(spark, sf)
    sa = S._probe_sorted_expr(cent, "emb")
    bad = spark.sql(
        f"SELECT COUNT(*) AS n FROM {af} WHERE ({sa})[0].c <> cid"
    ).collect()[0].n
    assert bad == 0


def test_similarity_speaks_one_sql_vocabulary():
    """similarity.py renders its SQL through one vocabulary: a single
    balanced reducer (_tree), and the dialect spellings of row
    enumeration and of the integer type only inside _enum / _int_t."""
    import inspect

    from dataforge_core_spark.operators import similarity as S

    src = inspect.getsource(S)
    assert src.count("while len(terms) > 1") == 1
    assert "while len(terms) > 1" in inspect.getsource(S._tree)
    rest = src
    for helper in (S._enum, S._int_t):
        rest = rest.replace(inspect.getsource(helper), "")
    for spelling in (
        "explode(sequence(0,",
        "unnest(generate_series(0,",
        '"INT" if dialect',
    ):
        assert spelling not in rest, spelling

"""Skew guards in the dedup family: the hot-shingle document-frequency
cap in n-gram Jaccard (mirror of the MinHash MAX_BAND_BUCKET guard) must
drop boilerplate-driven pairs identically on both engines."""

from __future__ import annotations

import duckdb


def _write_docs(spark, tmp_path):
    docs = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta zeta"),
        # five unrelated docs sharing only the boilerplate "click here now"
        *[(10 + i, f"u{i} click here now") for i in range(5)],
    ]
    sf = str(tmp_path)
    spark.createDataFrame(docs, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    return sf


def test_hot_band_bucket_salted(spark, tmp_path):
    """An oversized LSH band bucket is SALTED (pairs within doc_id %
    ceil(n/cap) residue groups) rather than dropped: partial recall is
    kept, the per-key fan-out is capped, and the DuckDB oracle applies
    the identical rule."""
    from dataforge_core_spark.operators import dedup

    # 10 identical docs -> identical signatures -> every band is one
    # 10-doc bucket; plus one near-dup pair in a normal-sized bucket
    docs = [
        *[(i, "red orange yellow green blue indigo violet")
          for i in range(1, 11)],
        # identical pair -> all 4 bands collide deterministically, in a
        # normal-sized (2-doc) bucket
        (21, "one two three four five six"),
        (22, "one two three four five six"),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(docs, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    cap = 4  # nsalt = ceil(10/4) = 3 for the hot bucket
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.dedup_minhash(spark, sf, max_band_bucket=cap)
        .collect()
    }
    # partial recall: exactly the same-residue pairs of the hot bucket
    hot = {(a, b) for (a, b) in got if a <= 10 and b <= 10}
    expect_hot = {
        (a, b)
        for a in range(1, 11)
        for b in range(a + 1, 11)
        if a % 3 == b % 3
    }
    assert hot == expect_hot and len(hot) == 12
    # normal bucket untouched (salt 0): the real near-dup pair survives
    assert (21, 22) in got

    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    want = {
        (a, b): j
        for a, b, j in con.execute(dedup._minhash_oracle(cap)).fetchall()
    }
    assert got == want


def test_hot_shingle_guard(spark, tmp_path):
    from dataforge_core_spark.operators import dedup

    sf = _write_docs(spark, tmp_path)

    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.dedup_ngram_jaccard(
            spark, sf, max_shingle_df=3
        ).collect()
    }
    # the real near-dup pair survives; boilerplate-only pairs are gone
    assert (1, 2) in got
    assert not any(a >= 10 and b >= 10 for a, b in got)

    # the DuckDB oracle applies the identical rule -> engine-identical
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    want = {
        (a, b): j for a, b, j in con.execute(dedup._ngram_oracle(3)).fetchall()
    }
    assert got == want

    # with the cap above the boilerplate's df, the O(d^2) pairs come back
    unguarded = {
        (r.doc_a, r.doc_b)
        for r in dedup.dedup_ngram_jaccard(
            spark, sf, max_shingle_df=100
        ).collect()
    }
    assert any(a >= 10 and b >= 10 for a, b in unguarded)


def test_pointer_doubling_converges_logarithmically(spark):
    """On a path graph of 17 nodes (diameter 16), plain min-label
    propagation needs ~diameter rounds while the pointer-doubling
    variant needs O(log diameter) — both reach the same labels."""
    from dataforge_core_spark.operators.dedup import _cc_min_label

    n = 17
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    # driver_max_edges=0 forces the DISTRIBUTED loop (the default size
    # gate would solve a 16-edge graph with driver union-find)
    plain, r_plain = _cc_min_label(pairs, driver_max_edges=0)
    pd_, r_pd = _cc_min_label(
        pairs, pointer_doubling=True, driver_max_edges=0
    )
    want = {(i, 0) for i in range(n)}
    assert {tuple(r) for r in plain.collect()} == want
    assert {tuple(r) for r in pd_.collect()} == want
    assert r_pd <= 7 < r_plain  # log2(16)+slack vs ~diameter
    # the size-gated driver fast path must produce the identical labels
    uf, r_uf = _cc_min_label(pairs)
    assert r_uf == 0
    assert {tuple(r) for r in uf.collect()} == want


def test_simhash_hot_block_bucket_salted(spark, tmp_path):
    """An oversized simhash block bucket is SALTED exactly like the
    minhash band path: only 4*65536 (bno, blk) buckets exist regardless
    of corpus size, so a hot block must not go quadratic.  Same-residue
    pairs survive (partial recall), normal buckets are untouched, and
    the DuckDB oracle applies the identical rule."""
    from dataforge_core_spark.operators import _store, simhash

    # 10 identical docs -> identical signatures -> all 4 blocks form one
    # 10-doc bucket; plus an identical pair in a normal (2-doc) bucket
    docs = [
        *[(i, "red orange yellow green blue indigo violet")
          for i in range(1, 11)],
        (21, "one two three four five six"),
        (22, "one two three four five six"),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(docs, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    cap = 4  # nsalt = ceil(10/4) = 3 for the hot buckets
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash.dedup_simhash_pairs(
            spark, sf, max_block_bucket=cap
        ).collect()
    }
    hot = {(a, b) for (a, b) in got if a <= 10 and b <= 10}
    expect_hot = {
        (a, b)
        for a in range(1, 11)
        for b in range(a + 1, 11)
        if a % 3 == b % 3
    }
    assert hot == expect_hot and len(hot) == 12
    assert got[(21, 22)] == 0  # normal bucket untouched (salt 0)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    want = {
        (a, b): h
        for a, b, h in con.execute(
            simhash._pairs_sql("duck", cap)
        ).fetchall()
    }
    assert got == want

    # with the cap above the hot bucket's size, all 45 pairs come back
    _store.clear_all(spark)
    unguarded = {
        (r.doc_a, r.doc_b)
        for r in simhash.dedup_simhash_pairs(
            spark, sf, max_block_bucket=100
        ).collect()
    }
    assert len({p for p in unguarded if p[0] <= 10 and p[1] <= 10}) == 45

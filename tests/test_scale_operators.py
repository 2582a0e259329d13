"""Scale-operator tests: salted joins/aggregations match their plain
equivalents, and bucketed tables join without a shuffle (verified on
the physical plan, not just the result).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_lake_skyfit_spark.operators import scale


@pytest.fixture()
def skewed_events(spark):
    # 10k rows, 90% on one hot key — the shape that melts a plain shuffle.
    return spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 100).alias("k"),
        (F.col("id") * 3).alias("v"),
    )


@pytest.fixture()
def dim(spark):
    return spark.range(100).select(
        F.col("id").alias("k"), F.concat(F.lit("name-"), F.col("id")).alias("name")
    )


def test_salted_join_matches_plain_join(spark, skewed_events, dim):
    plain = skewed_events.join(dim, "k").agg(
        F.count(F.lit(1)), F.sum("v"), F.countDistinct("name")
    ).collect()[0]
    salted = scale.salted_join(skewed_events, dim, ["k"], buckets=8).agg(
        F.count(F.lit(1)), F.sum("v"), F.countDistinct("name")
    ).collect()[0]
    assert salted == plain


def test_salted_join_left_outer(spark, skewed_events, dim):
    sparse_dim = dim.filter(F.col("k") < 50)
    plain = (
        skewed_events.join(sparse_dim, "k", "left")
        .agg(F.count(F.lit(1)), F.count("name"))
        .collect()[0]
    )
    salted = (
        scale.salted_join(skewed_events, sparse_dim, ["k"], buckets=4, how="left")
        .agg(F.count(F.lit(1)), F.count("name"))
        .collect()[0]
    )
    assert salted == plain


def test_salted_count_distinct(spark, skewed_events):
    exact = {
        r["k"]: r["n"]
        for r in skewed_events.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()
    }
    salted = {
        r["k"]: r["n_distinct"]
        for r in scale.salted_count_distinct(skewed_events, ["k"], "v").collect()
    }
    assert salted == exact


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    facts = spark.range(5_000).select(
        (F.col("id") % 500).alias("k"), F.col("id").alias("v")
    )
    dims = spark.range(500).select(
        F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("name")
    )
    scale.write_bucketed(facts, "t_facts_b", ["k"], buckets=8, path=str(tmp_path / "f"))
    scale.write_bucketed(dims, "t_dims_b", ["k"], buckets=8, path=str(tmp_path / "d"))
    try:
        f, d = spark.table("t_facts_b"), spark.table("t_dims_b")
        # disable broadcast so the join would otherwise shuffle both sides
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = f.join(d, "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 5_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS t_facts_b")
        spark.sql("DROP TABLE IF EXISTS t_dims_b")


def test_salted_join_zipf_stress_splits_straggler(spark):
    """Skew stress evidence (VERDICT r2 #6): a geometric/zipf key
    distribution (hot key ≈ 50% of all rows) through a plain shuffle
    join lands the hot key's entire fan-in on ONE task; salted_join
    must spread it across the salt buckets. Proven on actual post-join
    partition row counts with AQE skew-splitting and broadcast joins
    disabled, so the raw shuffle topology is what's measured; result
    equality is asserted on full aggregates.
    """
    n = 400_000
    confs = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # The session defaults shuffle partitions to the core count; at
        # 4 cores no partition could hold under 1/4 of the rows.
        "spark.sql.shuffle.partitions": "32",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # key j holds ~n/2^(j+1) rows: key 0 ≈ 50%, key 1 ≈ 25%, ...
        fact = spark.range(n).select(
            F.floor(-F.log2((F.col("id") + 1) / F.lit(float(n))))
            .cast("long")
            .alias("k"),
            (F.col("id") % 1000).alias("v"),
        )
        dim = spark.range(64).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("w")
        )

        def partition_fracs(df):
            rows = (
                df.withColumn("pid", F.spark_partition_id())
                .groupBy("pid")
                .count()
                .collect()
            )
            total = sum(r["count"] for r in rows)
            return max(r["count"] for r in rows) / total

        plain = fact.join(dim, "k")
        salted = scale.salted_join(fact, dim, ["k"], buckets=32)

        # identical results…
        agg = lambda df: df.agg(  # noqa: E731
            F.count(F.lit(1)), F.sum("v"), F.sum("w"), F.countDistinct("k")
        ).collect()[0]
        assert agg(salted) == agg(plain)

        # …different physics: plain concentrates ≥ half the rows in one
        # task; salted caps any task near 1/buckets of the hot key.
        plain_max = partition_fracs(plain)
        salted_max = partition_fracs(salted)
        assert plain_max >= 0.45, f"fixture not skewed enough: {plain_max:.2f}"
        assert salted_max <= 0.10, f"salt failed to split hot key: {salted_max:.2f}"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_inflate_documents_preserves_dup_density(spark):
    """inflate_documents multiplies corpus SIZE, not near-dup structure:
    the LSH pair count scales exactly ×factor (each Caesar-rotated copy
    reproduces the original corpus's internal pairs under a disjoint
    shingle alphabet, no cross-copy pairs)."""
    from data_lake_skyfit_spark.llm.dedup import minhash_lsh_pairs
    from data_lake_skyfit_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "text"
    )
    base = minhash_lsh_pairs(docs, threshold=0.8).count()
    x4 = minhash_lsh_pairs(
        scale.inflate_documents(docs, 4), threshold=0.8
    ).count()
    assert base > 0
    assert x4 == 4 * base


def test_lsh_scale_curve_x8_is_subquadratic(spark):
    """VERDICT r3 #3 'done' condition: the ×8 wall-time point of the
    MinHash-LSH path must stay well under 12× the ×1 point (quadratic
    scaling would be ≥64×). Both points timed after an untimed warmup
    so codegen compile doesn't inflate ×1; generous bound — this pins
    the complexity class, not the scheduler's mood."""
    import time

    from data_lake_skyfit_spark.llm.dedup import minhash_lsh_pairs
    from data_lake_skyfit_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "text"
    )
    d1 = docs.localCheckpoint()  # materialized: timing excludes the scan
    d8 = scale.inflate_documents(docs, 8).localCheckpoint()
    minhash_lsh_pairs(d1, threshold=0.8).count()  # warmup (compile)

    t0 = time.time()
    n1 = minhash_lsh_pairs(d1, threshold=0.8).count()
    t1 = time.time() - t0
    t0 = time.time()
    n8 = minhash_lsh_pairs(d8, threshold=0.8).count()
    t8 = time.time() - t0
    assert n8 == 8 * n1
    assert t8 < 12 * max(t1, 0.5), f"x8 {t8:.2f}s vs x1 {t1:.2f}s"


def test_inflate_embeddings_copies_are_distinct(spark):
    """r4b regression pin: the per-copy offset must actually vary by
    copy — a two-parameter default-arg lambda in the transform made
    PySpark bind the 'copy index' to the ELEMENT index, producing
    exact duplicate vectors across copies (degenerate top-k ties in
    the scale curve). Copy i's component j must equal base_j + 0.0017·i
    exactly (float64 add of an exact constant both ways)."""
    from data_lake_skyfit_spark.operators.scale import (
        _ID_STRIDE,
        inflate_embeddings,
    )

    base = spark.createDataFrame(
        [(7, [0.25, -0.5, 1.0])], "vec_id long, embedding array<double>"
    )
    rows = {
        r["vec_id"]: list(r["embedding"])
        for r in inflate_embeddings(base, 3).collect()
    }
    assert rows[7] == [0.25, -0.5, 1.0]
    assert rows[7 + _ID_STRIDE] == [0.25 + 0.0017, -0.5 + 0.0017, 1.0 + 0.0017]
    assert rows[7 + 2 * _ID_STRIDE] == [
        0.25 + 2 * 0.0017,
        -0.5 + 2 * 0.0017,
        1.0 + 2 * 0.0017,
    ]


def test_with_zorder_morton_golden(spark):
    """bits=2 over x,y in 0..3 makes the bucket map the identity
    (width 0.75: floor(v/0.75) = v for 0..2, least pins 3), so the key
    must equal the classic textbook Morton interleave."""
    pts = [(x, y) for x in range(4) for y in range(4)]
    df = spark.createDataFrame(pts, "x long, y long")
    out = {
        (r["x"], r["y"]): r["__z"]
        for r in scale.with_zorder(df, ["x", "y"], bits=2).collect()
    }

    def morton(x, y):
        return sum(
            (((x >> j) & 1) << (2 * j)) + (((y >> j) & 1) << (2 * j + 1))
            for j in range(2)
        )

    assert out == {(x, y): morton(x, y) for x, y in pts}
    assert out[(3, 0)] == 0b0101 and out[(0, 3)] == 0b1010 and out[(3, 3)] == 15


def test_with_zorder_null_lands_in_bucket_zero(spark):
    """F.least SKIPS nulls, so without the explicit guard a NULL value
    would land in the TOP bucket (n-1) instead of bucket 0 — the exact
    opposite of the sort-low contract the docstring promises."""
    df = spark.createDataFrame(
        [(0, 0), (3, 3), (None, 3)], "x long, y long"
    )
    out = scale.with_zorder(df, ["x", "y"], bits=2, keep_buckets=True)
    rows = {(r["x"], r["y"]): r for r in out.collect()}
    assert rows[(None, 3)]["__zb_x"] == 0
    # x contributes nothing; z = y-only interleave of bucket 3
    assert rows[(None, 3)]["__z"] == 0b1010
    assert rows[(3, 3)]["__zb_x"] == 3


def test_with_zorder_keep_buckets_columns(spark):
    df = spark.createDataFrame([(1, 10), (2, 20)], "a long, b long")
    out = scale.with_zorder(df, ["a", "b"], bits=4, keep_buckets=True)
    assert set(out.columns) == {"a", "b", "__z", "__zb_a", "__zb_b"}
    plain = scale.with_zorder(df, ["a", "b"], bits=4)
    assert set(plain.columns) == {"a", "b", "__z"}


def test_heavy_hitters_equals_groupby_on_skewed_data(spark):
    """MG candidates + exact recount must EQUAL the naive
    GROUP BY ... HAVING on a skewed corpus spread over many partitions
    (the per-partition summary guarantee is the thing under test), and
    boundary counts (cnt*k == n) must be excluded — strict >."""
    from data_lake_skyfit_spark.operators.scale import heavy_hitters

    rows = (
        [("hot",)] * 400
        + [("warm",)] * 80
        + [(f"cold{i}",) for i in range(520)]  # n=1000, k=16 → cnt > 62.5
    )
    df = spark.createDataFrame(rows, "item string").repartition(13)
    got = {(r["item"], r["cnt"]) for r in heavy_hitters(df, "item", k=16).collect()}
    assert got == {("hot", 400), ("warm", 80)}
    # exact boundary: value at exactly n/k must NOT appear
    rows2 = [("edge",)] * 50 + [(f"x{i}",) for i in range(750)]  # n=800, k=16: 50*16 == 800
    df2 = spark.createDataFrame(rows2, "item string").repartition(7)
    assert heavy_hitters(df2, "item", k=16).collect() == []


def test_heavy_hitters_int_items_nulls_and_bad_k(spark):
    import pytest as _pytest

    from data_lake_skyfit_spark.operators.scale import heavy_hitters

    df = spark.createDataFrame(
        [(7,)] * 30 + [(None,)] * 40 + [(100 + i,) for i in range(30)],
        "item int",
    ).repartition(5)
    # nulls are ignored (they never equi-join; SQL callers wanting the
    # NULL group must count it separately) — n here counts ALL rows,
    # so 7 needs 30*4 > 100: true
    got = heavy_hitters(df, "item", k=4).collect()
    assert [(r["item"], r["cnt"]) for r in got] == [(7, 30)]
    with _pytest.raises(ValueError):
        heavy_hitters(df, "item", k=1)


def test_containment_scale_curve_x8_is_subquadratic(spark):
    """VERDICT r4 #5 'done' condition: the asymmetric-containment
    SSJoin's ×8 point must stay well under 12× the ×1 point (a naive
    all-pairs verify would be ≥64×), with output cardinality pinned to
    the planted snippet-in-parent pairs (∝ factor) — hash-varied
    snippet lengths, no closed-form lattice."""
    import time

    from pyspark.sql import functions as F

    from data_lake_skyfit_spark.llm.dedup import containment_pairs
    from data_lake_skyfit_spark.llm.text import tokens_expr
    from data_lake_skyfit_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "text"
    )

    def with_snippets(d):
        snip = d.select(
            (F.col("doc_id") + F.lit(1 << 50)).alias("doc_id"),
            F.array_join(
                F.slice(
                    tokens_expr("text"),
                    F.lit(1),
                    (F.pmod(F.xxhash64("doc_id"), F.lit(6)) + 6).cast("int"),
                ),
                " ",
            ).alias("text"),
        )
        return d.select("doc_id", "text").unionByName(snip)

    d1 = with_snippets(docs).localCheckpoint()
    d8 = with_snippets(scale.inflate_documents(docs, 8)).localCheckpoint()
    containment_pairs(d1, threshold_num=4, threshold_den=5).count()  # warmup

    n_docs = docs.count()
    t0 = time.time()
    n1 = containment_pairs(d1, threshold_num=4, threshold_den=5).count()
    t1 = time.time() - t0
    t0 = time.time()
    n8 = containment_pairs(d8, threshold_num=4, threshold_den=5).count()
    t8 = time.time() - t0
    # every snippet is >= 4/5 contained in its parent: output >= n per
    # copy. Accidental pairs are NOT exactly ∝ factor (snippet lengths
    # hash on the copy-shifted id, so each copy draws different
    # accidents) — pin a tight band around 8×, with the planted 8·n
    # floor exact.
    assert n1 >= n_docs
    assert 8 * n_docs <= n8 <= 8.2 * n1, (n1, n8)
    assert t8 < 12 * max(t1, 0.5), f"x8 {t8:.2f}s vs x1 {t1:.2f}s"


def test_inflate_documents_hash_tier_preserves_density(spark):
    """Copies >= 78 (the r6 ×512 tier) translate through hash-seeded
    alphabet permutations — still exactly ×factor LSH pairs, no
    cross-copy twins (the injectivity property the Caesar tiers can
    only give up to 78)."""
    from data_lake_skyfit_spark.llm.dedup import minhash_lsh_pairs
    from data_lake_skyfit_spark.tables import load_table

    docs = (
        load_table(spark, "/root/testdata/sf0.01", "documents")
        .select("doc_id", "text")
        .filter("doc_id < 300")
    )
    base = minhash_lsh_pairs(docs, threshold=0.8).count()
    x80 = minhash_lsh_pairs(
        scale.inflate_documents(docs, 80), threshold=0.8
    ).count()
    assert base > 0
    assert x80 == 80 * base


def test_copy_alphabets_unique_at_512():
    transforms = scale._copy_alphabets(512)
    assert len(transforms) == 512
    assert len(set(transforms)) == 512
    # every alphabet is a permutation of the same symbol set
    import string

    ref = sorted(string.ascii_lowercase + string.ascii_uppercase + string.digits)
    for a, _rev in transforms:
        assert sorted(a) == ref

"""Focused tests for the round-8 optimization rewrites: each changed
operator keeps its exact semantics under the new plan shape."""

import sys
import os

import pytest
from pyspark.sql import functions as F, Window

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_repetition_single_window_plan_and_tail_line(spark):
    """The unified gram/line stream computes all n-gram and line stats
    from ONE lead window (the old shape ran the window subtree once per
    n), and the null-skipping concat_ws line entries reproduce the short
    tail segment exactly."""
    from pyogrio_spark.functions.text import repetition_scores

    # 10 tokens, line_words=4 -> lines "a b c d" / "a b c d" / "e f"
    docs = spark.createDataFrame(
        [(1, "a b c d a b c d e f")], "doc_id bigint, text string"
    )
    out = repetition_scores(docs, line_words=4)
    r = out.collect()[0]
    assert r.n_words == 10
    # 2 of 3 line occurrences duplicated; char mass 14 of 17
    # (lines "a b c d" x2 at 7 chars each + tail "e f" at 3 chars)
    assert r.dup_line_frac == round(2 / 3, 6)
    assert r.dup_line_char_frac == round(14 / 17, 6)
    import re

    # AdaptiveSparkPlan.toString prints Final AND Initial plans; assert
    # on the final section only
    plan = out._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert len(re.findall(r"\bWindow \[", plan)) == 1, plan[:1500]
    assert "Union" not in plan, plan[:1500]


def test_repetition_matches_r7_shape_on_corpus(spark):
    """Golden invariance: the single-pass rework returns the identical
    frame the old four-branch + five-join shape returned (rebuilt here
    inline) on a real corpus slice."""
    from pyogrio_spark.functions.text import repetition_scores

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    new = repetition_scores(docs, line_words=8).orderBy("doc_id").toPandas()

    # old formulation, reduced: nw / per-n stats via union + joins
    toks = docs.select("doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("i", "w")).filter(F.length("w") > 0)
    nw = toks.groupBy("doc_id").agg(F.count("*").alias("n_words"))
    w = Window.partitionBy("doc_id").orderBy("i")
    led = toks.select("doc_id", "w", *[F.lead("w", k).over(w).alias(f"_w{k}") for k in range(1, 5)])
    grams = None
    for n in (2, 3, 4, 5):
        parts = [F.col("w")] + [F.col(f"_w{k}") for k in range(1, n)]
        g = led.filter(F.col(f"_w{n-1}").isNotNull()).select(
            "doc_id", F.lit(n).alias("_n"), F.concat_ws(" ", *parts).alias("_g"))
        grams = g if grams is None else grams.unionByName(g)
    per = (grams.groupBy("doc_id", "_n", "_g").agg(F.count("*").alias("_c"))
           .groupBy("doc_id", "_n")
           .agg(F.max("_c").alias("_mx"), F.sum("_c").alias("_tot"),
                F.sum(F.when(F.col("_c") > 1, F.col("_c")).otherwise(F.lit(0))).alias("_dup")))
    old = nw
    for n in (2, 3, 4):
        old = old.join(per.filter(F.col("_n") == n).select("doc_id", F.col("_mx").alias(f"_mx{n}")), "doc_id", "left")
    dup = per.filter(F.col("_n") == 5).select(
        "doc_id", F.round(F.col("_dup") / F.col("_tot").cast("double"), 6).alias("dup5_frac"))
    lines = toks.groupBy("doc_id", (F.col("i") / F.lit(8)).cast("bigint").alias("_li")).agg(
        F.array_join(F.transform(F.array_sort(F.collect_list(F.struct("i", "w"))), lambda s: s.w), " ").alias("_line"))
    lstats = (lines.groupBy("doc_id", "_line").agg(F.count("*").alias("_c"), F.length("_line").alias("_len"))
              .groupBy("doc_id")
              .agg(F.round(F.sum(F.when(F.col("_c") > 1, F.col("_c")).otherwise(F.lit(0))) / F.sum("_c").cast("double"), 6).alias("dup_line_frac"),
                   F.round(F.sum(F.when(F.col("_c") > 1, F.col("_c") * F.col("_len")).otherwise(F.lit(0))) / F.sum(F.col("_c") * F.col("_len")).cast("double"), 6).alias("dup_line_char_frac")))
    old = (old.join(dup, "doc_id", "left")
           .select("doc_id", "n_words",
                   *[F.coalesce(F.round(F.col(f"_mx{n}") * F.lit(n) / F.col("n_words").cast("double"), 6), F.lit(0.0)).alias(f"top{n}_frac") for n in (2, 3, 4)],
                   F.coalesce(F.col("dup5_frac"), F.lit(0.0)).alias("dup5_frac"))
           .join(lstats, "doc_id", "left")).orderBy("doc_id").toPandas()
    assert list(new.columns) == list(old.columns)
    assert new.equals(old)


def test_minhash_pairs_match_self_join_formulation(spark):
    """The collect_list bucket pair generation returns exactly the pair
    set of the old cap-window + self-join shape (rebuilt inline),
    including the max_bucket cap on a hot bucket."""
    from pyogrio_spark.operators.dedup import minhash_lsh_pairs, minhash_signature

    rows = [(i, "the quick brown fox jumps over the lazy dog") for i in range(10)]
    rows += [(100 + i, f"unique document number {i} with its own words entirely") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = minhash_lsh_pairs(docs, n_hashes=16, bands=4, threshold=0.5, max_bucket=4)

    # old formulation
    n_hashes, bands, max_bucket = 16, 4, 4
    nrows = n_hashes // bands
    sigd = minhash_signature(docs.select("doc_id", "text"), "text", n_hashes, 3, "doc_id")
    banded = sigd.select(
        "doc_id", "sig",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.md5(F.concat_ws(",", *[F.element_at("sig", b * nrows + r + 1) for r in range(nrows)])).alias("band_key"))
            for b in range(bands)])).alias("bk"),
    ).select("doc_id", "sig", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))
    w = Window.partitionBy("band", "band_key").orderBy("doc_id")
    banded = banded.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= max_bucket).drop("_rn")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.band_key") == F.col("b.band_key")) & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
                     F.col("a.sig").alias("sig_a"), F.col("b.sig").alias("sig_b"))
             .dropDuplicates(["doc_a", "doc_b"]))
    est = (F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)) / F.lit(16.0)).alias("est_jaccard")
    want = pairs.select("doc_a", "doc_b", est).filter(F.col("est_jaccard") >= 0.5)
    assert got.orderBy("doc_a", "doc_b").collect() == want.orderBy("doc_a", "doc_b").collect()


def test_fingerprint_pairs_cap_equivalence(spark):
    """fingerprint_overlap_pairs' bucket-list cap keeps the same members
    as the old row_number cap: with max_bucket=3 and 5 identical docs,
    only pairs among the 3 lowest doc_ids survive."""
    from pyogrio_spark.operators.dedup import fingerprint_overlap_pairs

    text = "abcdefghijklmnopqrstuvwxyz0123456789 the same long document body"
    docs = spark.createDataFrame([(i, text) for i in (5, 1, 9, 3, 7)], "doc_id bigint, text string")
    out = fingerprint_overlap_pairs(docs, min_shared=1, max_bucket=3).collect()
    seen = {(r.doc_a, r.doc_b) for r in out}
    assert seen == {(1, 3), (1, 5), (3, 5)}


def test_write_table_footer_count_partitioned(tmp_path, spark):
    """write_table's manifest row count (parquet-footer walk, no second
    job) is exact for plain AND partitioned layouts."""
    from pyogrio_spark.io.writer import current_snapshot, write_table

    df = spark.range(1000).select(F.col("id"), (F.col("id") % 7).alias("p"))
    write_table(df, str(tmp_path / "t1"), mode="overwrite")
    assert current_snapshot(str(tmp_path / "t1"))["row_count"] == 1000
    write_table(df, str(tmp_path / "t2"), mode="overwrite", partition_by=["p"])
    assert current_snapshot(str(tmp_path / "t2"))["row_count"] == 1000


def test_read_spread_splits_single_row_group_scan(spark):
    """_read_spread widens a sub-parallelism scan toward the session's
    default parallelism (the test corpora are one parquet row group —
    unsplittable below one task without it), sized at ~256 KB of
    encoded parquet per task so smoke-scale tables don't dissolve into
    near-empty tasks."""
    import math
    import os

    from pyogrio_spark.queries import _read_spread

    path = "/root/testdata/sf0.01/documents.parquet"
    df = _read_spread(spark, path)
    expect = max(2, min(
        spark.sparkContext.defaultParallelism,
        math.ceil(os.path.getsize(path) / (256 * 1024)),
    ))
    assert df.rdd.getNumPartitions() == expect
    assert expect >= 2


def test_bigram_zip_handles_empty_tokens(spark):
    """The slices+arrays_zip bigram stream matches the definitional
    (w1=t[i], w2=t[i+1]) pairs even with empty tokens from repeated
    separators — the exact multiset the old lead-window form produced."""
    from pyogrio_spark.functions.text import bigram_lm_scores

    docs = spark.createDataFrame(
        [(1, "a  b a  b"), (2, "x y x y")], "doc_id bigint, text string"
    )
    out = {r.doc_id: (r.n_bigrams, r.lm_score) for r in bigram_lm_scores(docs).collect()}
    # doc 1 tokens: [a, '', b, a, '', b] -> 5 bigrams; doc 2: 3 bigrams
    assert out[1][0] == 5
    assert out[2][0] == 3

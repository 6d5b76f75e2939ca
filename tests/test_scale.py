"""Scale-utility tests: salting preserves join semantics; bucketing
eliminates the join shuffle (plan-verified)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from drugbankner_spark.operators import scale as SC  # noqa: E402
from drugbankner_spark.plans import explain as X  # noqa: E402
from drugbankner_spark.tables import load_table  # noqa: E402

SF = "/root/testdata/sf0.001"


def test_salted_join_matches_plain_join(spark):
    cust = load_table(spark, SF, "customer")
    nation = load_table(spark, SF, "nation").withColumnRenamed(
        "n_nationkey", "c_nationkey"
    )
    plain = cust.join(nation, "c_nationkey").select("c_custkey", "n_name")
    salted = SC.salted_join(cust, nation, "c_nationkey", salt_buckets=4).select(
        "c_custkey", "n_name"
    )
    a = sorted((r["c_custkey"], r["n_name"]) for r in plain.collect())
    b = sorted((r["c_custkey"], r["n_name"]) for r in salted.collect())
    assert a == b


def test_salted_join_spreads_hot_key(spark):
    """The point of salting: a planted hot key (90% of fact rows) must
    receive MORE THAN ONE distinct salt value, so its rows land on
    multiple reducers. Round 1's key-derived salt failed exactly this."""
    hot = spark.range(900).select(F.lit("protein").alias("k"))
    cold = spark.range(100).select(
        F.concat(F.lit("rare_"), F.col("id")).cast("string").alias("k")
    )
    fact = hot.unionByName(cold)
    salted = fact.withColumn("_salt", SC.fact_salt_expr(8))
    hot_salts = (
        salted.filter(F.col("k") == "protein").select("_salt").distinct().count()
    )
    assert hot_salts > 1, "hot key collapsed onto a single salt bucket"
    # and every salt value the fact side can produce is in [0, buckets)
    rng = salted.agg(F.min("_salt"), F.max("_salt")).first()
    assert rng[0] >= 0 and rng[1] < 8


def test_bucketed_join_has_no_shuffle(spark):
    orders = load_table(spark, SF, "orders").withColumnRenamed(
        "o_orderkey", "k"
    )
    items = load_table(spark, SF, "lineitem").withColumnRenamed(
        "l_orderkey", "k"
    )
    SC.write_bucketed(orders.select("k", "o_totalprice"), "t_orders_b", "k", 4)
    SC.write_bucketed(items.select("k", "l_quantity"), "t_items_b", "k", 4)
    joined = SC.bucketed_join(spark, "t_orders_b", "t_items_b", "k")
    # co-located buckets: no Exchange on either join side
    assert X.count_shuffles(joined) == 0, X.plan_string(joined, "simple")
    # and the join still returns the right row count
    plain = orders.select("k").join(items.select("k"), "k")
    assert joined.count() == plain.count()


def test_key_skew_profile_flags_hot_key(spark):
    hot = spark.range(900).select(F.lit("protein").alias("k"))
    cold = spark.range(100).select(
        F.concat(F.lit("rare_"), F.col("id")).cast("string").alias("k")
    )
    prof = SC.key_skew_profile(hot.unionByName(cold), "k", top_n=5).collect()
    assert prof[0]["k"] == "protein"
    assert prof[0]["n_rows"] == 900
    assert abs(prof[0]["share"] - 0.9) < 1e-6
    assert prof[0]["is_hot"]
    # rare keys (share 0.1%) are not hot at the 1% default threshold
    assert all(not r["is_hot"] for r in prof[1:])


def test_write_partitioned_one_file_per_value(spark, tmp_path):
    docs = load_table(spark, SF, "documents").select("doc_id", "text", "lang")
    out = str(tmp_path / "docs_by_lang")
    SC.write_partitioned(docs, out, ["lang"])
    import glob

    part_dirs = glob.glob(os.path.join(out, "lang=*"))
    assert part_dirs, "no hive partition directories written"
    for d in part_dirs:
        files = glob.glob(os.path.join(d, "*.parquet"))
        assert len(files) == 1, f"{d}: expected 1 file, got {len(files)}"
    assert spark.read.parquet(out).count() == docs.count()


def test_compact_small_files_reduces_file_count(spark, tmp_path):
    import glob

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    out = str(tmp_path / "fragmented")
    docs.repartition(16).write.parquet(out)
    before = len(glob.glob(os.path.join(out, "*.parquet")))
    assert before == 16
    n_rows = docs.count()
    written = SC.compact_small_files(spark, out)  # tiny table -> 1 file
    after = len(glob.glob(os.path.join(out, "*.parquet")))
    assert written == 1 and after == 1
    assert spark.read.parquet(out).count() == n_rows


def test_compact_small_files_via_hadoop_fs_uri(spark, tmp_path):
    # VERDICT r02 wrong #2: maintenance must run through the Hadoop
    # FileSystem API, not shutil/glob/os. An explicit file:// URI never
    # resolves through Python's os-path layer — if the implementation
    # regressed to local-only calls, this path would crash.
    import pyspark.sql.functions as F

    src = spark.range(500).withColumn("v", F.col("id") * 2)
    local = str(tmp_path / "t_uri")
    src.repartition(10).write.parquet(local)
    uri = "file://" + local
    written = SC.compact_small_files(spark, uri, target_file_bytes=1 << 30)
    assert written == 1
    back = spark.read.parquet(uri)
    assert back.count() == 500
    assert {r["v"] for r in back.collect()} == {2 * i for i in range(500)}


def test_recommended_join_strategy_decision_logic(spark):
    # SURVEY hard-part #4 / VERDICT r04 next #6: the profile→strategy
    # decision picks correctly on the Zipfian hot key.
    hot = spark.range(900).select(F.lit("protein").alias("k"))
    cold = spark.range(100).select(
        F.concat(F.lit("rare_"), F.col("id")).cast("string").alias("k")
    )
    skewed_prof = SC.key_skew_profile(hot.unionByName(cold), "k", top_n=5)
    uniform_prof = SC.key_skew_profile(
        spark.range(1000).select(F.col("id").cast("string").alias("k")), "k"
    )
    # small dim always broadcasts, skew or not
    assert SC.recommended_join_strategy(skewed_prof, dim_rows=10_000) == \
        "broadcast"
    # big dim + hot key → salt the fact side
    assert SC.recommended_join_strategy(
        skewed_prof, dim_rows=50_000_000) == "salted"
    # big dim, no hot key → plain shuffle join (AQE handles residue)
    assert SC.recommended_join_strategy(
        uniform_prof, dim_rows=50_000_000) == "plain"


def test_zorder_key_matches_python_morton(spark):
    # bit-exact vs an independent Python Morton interleave
    def morton(vals, bits, n):
        out = 0
        for i in range(bits):
            for j, v in enumerate(vals):
                out |= ((v >> i) & 1) << (i * n + j)
        return out

    df = spark.createDataFrame(
        [(x, y) for x in range(8) for y in range(8)], "x long, y long"
    )
    rows = df.select("x", "y", SC.zorder_key(["x", "y"], bits=4).alias("z")
                     ).collect()
    for r in rows:
        assert r["z"] == morton([r["x"], r["y"]], 4, 2), (r["x"], r["y"])


def test_zorder_write_clusters_both_columns(spark, tmp_path):
    # after a z-ordered write, each file's min-max span on EITHER
    # column is far narrower than the global span — the property that
    # makes row-group stats prune multi-column predicates
    import glob

    import pyarrow.parquet as pq

    n = 64
    df = spark.createDataFrame(
        [(x, y, x * n + y) for x in range(n) for y in range(n)],
        "x long, y long, v long",
    ).repartition(16)  # scrambled input
    out = str(tmp_path / "z")
    SC.zorder_write(df, out, ["x", "y"], bits=6,
                    max_records_per_file=256)
    files = glob.glob(out + "/*.parquet")
    assert len(files) >= 4
    spans_x, spans_y = [], []
    for f in files:
        t = pq.read_table(f)
        xs, ys = t["x"].to_pylist(), t["y"].to_pylist()
        spans_x.append(max(xs) - min(xs))
        spans_y.append(max(ys) - min(ys))
    # average per-file span well under the global span on BOTH dims
    # (a single-column sort would leave the other dim's span ~global)
    assert sum(spans_x) / len(spans_x) < n * 0.6
    assert sum(spans_y) / len(spans_y) < n * 0.6
    # no data loss
    assert spark.read.parquet(out).count() == n * n


def test_upsert_partitions_touches_only_changed(spark, tmp_path):
    # dynamic partition overwrite: re-running one partition's batch
    # replaces exactly that partition; all other files byte-untouched.
    import glob

    base = spark.range(1000).select(
        F.col("id"), (F.col("id") % 10).alias("day")
    )
    path = str(tmp_path / "t_upsert")
    base.write.mode("overwrite").partitionBy("day").parquet(path)
    before = {p: sorted(glob.glob(p + "/*.parquet"))
              for p in glob.glob(path + "/day=*")}
    redo = spark.range(7).select(
        (F.col("id") + 50_000).alias("id"), F.lit(3).alias("day")
    )
    SC.upsert_partitions(redo, path, ["day"])
    after = {p: sorted(glob.glob(p + "/*.parquet"))
             for p in glob.glob(path + "/day=*")}
    changed = [p for p in before if before[p] != after.get(p)]
    assert [p.rsplit("=", 1)[-1] for p in changed] == ["3"]
    got = spark.read.parquet(path)
    assert got.filter("day = 3").count() == 7      # replaced, not appended
    assert got.filter("day != 3").count() == 900   # untouched


def test_bloom_filter_write_adds_filters_and_reads_back(spark, tmp_path):
    # pyarrow here doesn't expose bloom offsets, so assert behaviorally:
    # the bloom-enabled file is strictly larger on identical data (the
    # filter bytes), and point lookups read back correctly.
    import glob
    import os as _os

    df = spark.range(100_000).select("id")
    plain, bloomed = str(tmp_path / "nb"), str(tmp_path / "wb")
    df.coalesce(1).write.mode("overwrite").parquet(plain)
    SC.write_with_bloom_filters(
        df.coalesce(1), bloomed, {"id": 100_000}
    )
    sz = lambda d: sum(_os.path.getsize(f)
                       for f in glob.glob(d + "/*.parquet"))
    assert sz(bloomed) > sz(plain) + 50_000  # filter bytes present
    assert spark.read.parquet(bloomed).filter("id = 43210").count() == 1


def test_snapshot_manifest_and_diff(spark, tmp_path):
    from drugbankner_spark.operators.scale import (
        manifest_diff, snapshot_manifest,
    )

    d = str(tmp_path / "ds")
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    df.repartition(2).write.parquet(d)
    m1 = snapshot_manifest(spark, d)
    rows = m1.collect()
    assert len(rows) == 2
    assert all(r["rel_path"].endswith(".parquet")
               and "/" not in r["rel_path"].strip("/")
               and not r["rel_path"].startswith("file:")
               for r in rows)
    assert all(len(r["content_sha256"]) == 64 and r["n_bytes"] > 0
               for r in rows)
    # identical snapshot → empty diff
    assert manifest_diff(m1, snapshot_manifest(spark, d)).count() == 0
    # append a file → 'added'; the original files are untouched
    m1_frozen = spark.createDataFrame(m1.collect(), m1.schema)
    spark.range(5).withColumn("v", F.lit(0).cast("long")) \
        .coalesce(1).write.mode("append").parquet(d)
    spark.catalog.refreshByPath(d)
    diff = manifest_diff(m1_frozen, snapshot_manifest(spark, d)).collect()
    assert [r["change"] for r in diff] == ["added"]


def test_describe_parquet_layout_stats(spark, tmp_path):
    from drugbankner_spark.operators.scale import describe_parquet_layout

    d = str(tmp_path / "layout")
    spark.range(10_000).withColumn("v", F.col("id") % 97) \
        .repartition(3).write.parquet(d)
    audit = describe_parquet_layout(spark, d).collect()
    assert len(audit) >= 3  # ≥1 row group per file
    assert sum(r["n_rows"] for r in audit) == 10_000
    for r in audit:
        assert r["n_columns"] == 2
        assert r["n_cols_with_minmax"] == 2  # plain longs carry min/max
        assert r["total_byte_size"] > 0


def test_snapshot_manifest_scheme_qualified_path(spark, tmp_path):
    # ADVICE r05: a scheme-qualified input path ('file:/data/x') must
    # slice rel_path identically to the bare path form.
    from drugbankner_spark.operators.scale import snapshot_manifest

    d = str(tmp_path / "schemed")
    spark.range(10).repartition(1).write.parquet(d)
    bare = sorted(r["rel_path"]
                  for r in snapshot_manifest(spark, d).collect())
    schemed = sorted(r["rel_path"]
                     for r in snapshot_manifest(spark, "file://" + d).collect())
    assert bare == schemed
    assert all(p.endswith(".parquet") and not p.startswith("/")
               for p in bare)


def test_sharded_topk_equals_single_window(spark):
    # Round 12 (ADVICE r11): the two-phase top-k must return EXACTLY
    # the single-window rows and ranks — including on a hot group
    # holding most rows, on ties (broken by the unique tiebreaker),
    # and on groups smaller than k.
    from pyspark.sql import Window

    from drugbankner_spark.operators.scale import sharded_topk

    rows = []
    # hot group: 5000 rows, many tied weights
    for i in range(5000):
        rows.append(("hot", f"id{i:05d}", float(i % 37)))
    # small groups, one BELOW k
    for i in range(40):
        rows.append(("warm", f"id{i:05d}", float(i)))
    rows.append(("tiny", "id00000", 1.0))
    df = spark.createDataFrame(rows, "grp string, uid string, w double")

    for k, shards in [(1, 4), (7, 3), (25, 16)]:
        order = [F.desc("w"), F.asc("uid")]
        got = sharded_topk(df, ["grp"], order, k, shards=shards) \
            .orderBy("grp", "rank").collect()
        w = Window.partitionBy("grp").orderBy(*order)
        want = (
            df.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .orderBy("grp", "rank").collect()
        )
        assert [tuple(r) for r in got] == [tuple(r) for r in want], \
            (k, shards)
    # the plan really is two-phase: two Window nodes, the first over
    # (grp, _shard) — no single corpus-wide partition for a hot group
    plan = sharded_topk(df, ["grp"], [F.desc("w"), F.asc("uid")], 5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") >= 2
    assert "_shard" in plan


def test_sharded_row_number_equals_single_window(spark):
    # Round 12: the two-phase FULL rank (no truncation) must equal the
    # single-window row_number on every row — hot group dominating the
    # input, tie-heavy weights, a group below any partition size, and
    # both rank directions exercised via the desc/asc order.
    from pyspark.sql import Window

    from drugbankner_spark.operators.scale import sharded_row_number

    rows = []
    for i in range(4000):
        rows.append(("hot", f"id{i:05d}", float(i % 23)))
    for i in range(60):
        rows.append(("warm", f"id{i:05d}", float(i)))
    rows.append(("tiny", "id00000", 5.0))
    df = spark.createDataFrame(rows, "grp string, uid string, w double")

    order = [F.desc("w"), F.asc("uid")]
    for np_ in (None, 7):
        got = sharded_row_number(
            df, ["grp"], order, out_col="rank", num_partitions=np_
        ).orderBy("grp", "rank").collect()
        w = Window.partitionBy("grp").orderBy(*order)
        want = df.withColumn("rank", F.row_number().over(w)) \
            .orderBy("grp", "rank").collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want], np_

    # the plan ranks within (partition-id, group): no Window node
    # partitioned by the bare group over the full input
    plan = sharded_row_number(df, ["grp"], order)._jdf \
        .queryExecution().executedPlan().toString()
    assert "_pid" in plan


def test_sharded_row_number_rank_method_equals_percent_rank(spark):
    # method='rank' must reproduce SQL rank() (ties share, gaps
    # follow) so percent_rank rebuilt as (rank-1)/(n-1) matches the
    # built-in bit for bit — including on a heavily tied column and
    # with NULLs ordered last.
    from pyspark.sql import Window

    from drugbankner_spark.operators.scale import sharded_row_number

    rows = [("g", f"id{i:04d}", float(i % 5)) for i in range(1000)]
    rows += [("g", f"nul{i}", None) for i in range(3)]
    rows += [("h", "only", 9.0)]
    df = spark.createDataFrame(rows, "grp string, uid string, v double")

    order = [F.col("v").asc_nulls_last()]
    got = sharded_row_number(
        df, ["grp"], order, out_col="rk", method="rank", num_partitions=5
    )
    w = Window.partitionBy("grp").orderBy(*order)
    want = df.withColumn("rk", F.rank().over(w))
    ga = sorted(tuple(r) for r in got.collect())
    wa = sorted(tuple(r) for r in want.collect())
    assert ga == wa


def test_sharded_rank_keeps_null_group_keys(spark):
    # ADVICE r12 (medium): the broadcast offsets join used the
    # list-form equi-join, whose `=` is never true for NULL = NULL —
    # rows in a NULL-keyed group (e.g. the NULL-language bucket of
    # zipf_slope(group_col=...)) silently vanished. Both methods must
    # return every input row, with ranks equal to the window form,
    # which treats NULL as an ordinary group.
    from pyspark.sql import Window

    from drugbankner_spark.operators.scale import (
        sharded_row_number,
        sharded_topk,
    )

    rows = [(None, f"n{i:03d}", float(i % 7)) for i in range(50)]
    rows += [("en", f"e{i:03d}", float(i)) for i in range(30)]
    rows += [(None, "extra", 99.0)]
    df = spark.createDataFrame(rows, "grp string, uid string, w double")
    order = [F.desc("w"), F.asc("uid")]
    w = Window.partitionBy("grp").orderBy(*order)

    for method in ("row_number", "rank"):
        got = sharded_row_number(
            df, ["grp"], order, out_col="rank", method=method,
            num_partitions=5,
        )
        assert got.count() == df.count(), method
        fn = F.row_number() if method == "row_number" else F.rank()
        want = df.withColumn("rank", fn.over(w))
        nkey = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
        ga = sorted((tuple(r) for r in got.collect()), key=nkey)
        wa = sorted((tuple(r) for r in want.collect()), key=nkey)
        assert ga == wa, method

    got = sharded_topk(df, ["grp"], order, 5, shards=4) \
        .orderBy("grp", "rank").collect()
    want = (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5).orderBy("grp", "rank").collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_sharded_primitives_reject_helper_column_collisions(spark):
    # ADVICE r12: an input already carrying a reserved helper name
    # (_shard/_pid/...) was silently clobbered and dropped; now raises.
    import pytest as _pytest

    from drugbankner_spark.operators.scale import (
        sharded_row_number,
        sharded_topk,
    )

    order = [F.desc("v"), F.asc("uid")]
    for bad in ("_shard", "_pid", "_mid", "_base"):
        df = spark.createDataFrame(
            [("g", "a", 1.0, 0)], f"grp string, uid string, v double, {bad} int"
        )
        with _pytest.raises(ValueError, match="helper"):
            sharded_topk(df, ["grp"], order, 5)
        with _pytest.raises(ValueError, match="helper"):
            sharded_row_number(df, ["grp"], order)


def test_sharded_primitives_validate_args(spark):
    import pytest as _pytest

    from drugbankner_spark.operators.scale import (
        sharded_row_number,
        sharded_topk,
    )

    df = spark.createDataFrame([("g", "a", 1.0)],
                               "grp string, uid string, v double")
    order = [F.desc("v"), F.asc("uid")]
    with _pytest.raises(ValueError, match="sharded_topk"):
        sharded_topk(df, ["grp"], order, 0)
    with _pytest.raises(ValueError, match="sharded_topk"):
        sharded_topk(df, ["grp"], order, 5, shards=0)
    with _pytest.raises(ValueError, match="method"):
        sharded_row_number(df, ["grp"], order, method="dense")


def test_local_df_keeps_int64_exact_next_to_none(spark):
    # A nullable long column must round-trip bit-exactly: 2**62 + 1 is
    # not representable as float64, so any float detour shows up here.
    from drugbankner_spark.tables import local_df

    rows = [(2**62 + 1, "a"), (None, "b")]
    df = local_df(spark, rows, "v long, s string")
    assert [tuple(r) for r in df.collect()] == rows
    # the Arrow batch becomes a LocalRelation, not a Python-RDD scan
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan, plan


def test_load_table_cache_serves_only_its_own_session(spark):
    # The memo lives on the session object: a new session of the same
    # application gets, and keeps, DataFrames bound to itself.
    other = spark.newSession()
    df = load_table(spark, SF, "region")
    odf = load_table(other, SF, "region")
    assert df.sparkSession is spark and odf.sparkSession is other
    assert load_table(spark, SF, "region") is df
    assert load_table(other, SF, "region") is odf

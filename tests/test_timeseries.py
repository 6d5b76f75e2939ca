"""Time-series resample/gapfill/EWMA/anomaly goldens (round 6).

Hand-computed fixtures on a tiny series; the cross-engine hash oracles
live in __spark_entry__ (t_resample_gapfill / t_ewma / t_anomaly)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from drugbankner_spark.operators.timeseries import (
    detect_anomalies,
    ewma_grid,
    resample_gapfill,
)

BASE = dt.datetime(2024, 1, 1, 0, 0, 0)
STEP = 60  # 1-minute buckets keep the arithmetic readable


def _series(spark, points):
    # points: list of (minutes_offset, value) in one key 'k'
    return spark.createDataFrame(
        [("k", BASE + dt.timedelta(minutes=m), float(v)) for m, v in points],
        "key string, ts timestamp, value double",
    )


def test_cusum_closed_form_equals_textbook_recursion(spark):
    # Round 9: the window-function closed form
    # C_i = cum_i - min(0, min_{j<=i} cum_j) must equal the textbook
    # recursion C_i = max(0, C_{i-1} + d_i) on a series with a planted
    # level shift — and the shift must flag while the stable head
    # doesn't.
    from drugbankner_spark.operators.timeseries import cusum_changepoints

    vals = [10.0] * 6 + [14.0] * 6          # mean shift at i=6
    df = _series(spark, list(enumerate(vals)))
    rows = sorted(
        cusum_changepoints(df, ["key"], step_seconds=STEP,
                           threshold_permille=400).collect(),
        key=lambda r: r["bucket_start"],
    )
    # textbook recursion in exact integer micro*n units
    s = [int(v * 1_000_000) for v in vals]
    n, S = len(s), sum(s)
    cp = cn = 0
    exp_pos, exp_neg = [], []
    for si in s:
        cp = max(0, cp + (si * n - S))
        cn = max(0, cn + (S - si * n))
        exp_pos.append(cp)
        exp_neg.append(cn)
    assert [r["cusum_pos"] for r in rows] == exp_pos
    assert [r["cusum_neg"] for r in rows] == exp_neg
    # scale-free flag: stable head quiet, accumulated shift fires
    assert rows[0]["is_change"] is False
    assert rows[-1]["is_change"] is True


def test_cusum_two_keys_and_null_values(spark):
    # keys are independent; NULL values drop out of the bucket sums
    from drugbankner_spark.operators.timeseries import cusum_changepoints

    rows = [("a", BASE + dt.timedelta(minutes=m), float(m)) for m in range(4)]
    rows += [("b", BASE + dt.timedelta(minutes=m), 5.0) for m in range(4)]
    df = spark.createDataFrame(
        rows + [("b", BASE + dt.timedelta(minutes=1), None)],
        "key string, ts timestamp, value double",
    )
    got = {(r["key"], r["bucket_start"]): r
           for r in cusum_changepoints(df, ["key"],
                                       step_seconds=STEP).collect()}
    base_epoch = int(BASE.replace(tzinfo=dt.timezone.utc).timestamp())
    # constant series: all deviations 0, cusum identically 0, no flags
    for m in range(4):
        r = got[("b", base_epoch + 60 * m)]
        assert r["cusum_pos"] == 0 and r["cusum_neg"] == 0
        assert r["is_change"] is False
    # the NULL contributes to no sum; bucket 1 of 'b' still has its 5.0
    assert got[("b", base_epoch + 60)]["s_micro"] == 5_000_000
    # ramp series on 'a' accumulates on both sides across the run
    assert got[("a", base_epoch + 180)]["cusum_pos"] > 0


def test_gapfill_locf_and_linear_interpolation(spark):
    # observed at minutes 0 (v=10), 1 (v=20), 4 (v=50): gaps at 2, 3.
    df = _series(spark, [(0, 10), (1, 20), (4, 50)])
    rows = {
        r["bucket_start"]: r
        for r in resample_gapfill(df, ["key"], step_seconds=STEP).collect()
    }
    base_epoch = int(BASE.replace(tzinfo=dt.timezone.utc).timestamp())
    assert sorted(rows) == [base_epoch + 60 * i for i in range(5)]
    gap2, gap3 = rows[base_epoch + 120], rows[base_epoch + 180]
    assert gap2["n_obs"] == 0 and gap2["value_avg"] is None
    assert gap2["locf"] == 20.0 and gap3["locf"] == 20.0
    # linear: 20 + (50-20) * (m-1)/3
    assert gap2["interp"] == 30.0 and gap3["interp"] == 40.0
    assert rows[base_epoch]["interp"] == 10.0  # observed passes through


def test_gapfill_edges_fall_back_to_nearest(spark):
    # key with a single observed bucket in the middle of nothing: the
    # grid is one row; another key spans the full range — per-key grids
    # are independent.
    df = _series(spark, [(0, 1), (3, 7)]).union(
        _series(spark, [(1, 99)]).withColumn("key", F.lit("solo"))
    )
    out = resample_gapfill(df, ["key"], step_seconds=STEP)
    assert out.filter("key = 'solo'").count() == 1
    assert out.filter("key = 'k'").count() == 4


def test_ewma_matches_hand_rollup(spark):
    # alpha=0.5, span=3: weights 1, .5, .25 over the trailing window.
    df = _series(spark, [(0, 8), (1, 4), (2, 2)])
    rows = {
        r["bucket_start"]: r["ewma"]
        for r in ewma_grid(
            df, ["key"], step_seconds=STEP, alpha=0.5, span=3
        ).collect()
    }
    base_epoch = int(BASE.replace(tzinfo=dt.timezone.utc).timestamp())
    assert rows[base_epoch] == 8.0
    assert rows[base_epoch + 60] == round((4 + 0.5 * 8) / 1.5, 6)
    assert rows[base_epoch + 120] == round(
        (2 + 0.5 * 4 + 0.25 * 8) / 1.75, 6
    )


def test_ewma_gap_skips_missing_buckets(spark):
    # observed at 0 and 2 with span=2: bucket 2's window covers buckets
    # 1-2, bucket 1 is missing -> ewma(2) = x(2) alone. Bucket 1 gets
    # only the carried contribution of x(0).
    df = _series(spark, [(0, 10), (2, 6)])
    rows = {
        r["bucket_start"]: r["ewma"]
        for r in ewma_grid(
            df, ["key"], step_seconds=STEP, alpha=0.5, span=2
        ).collect()
    }
    base_epoch = int(BASE.replace(tzinfo=dt.timezone.utc).timestamp())
    assert rows[base_epoch + 120] == 6.0
    assert rows[base_epoch + 60] == 10.0  # only the decayed x(0) term


def test_null_values_do_not_bias_bucket_avg_or_ewma(spark):
    # ADVICE r06: value_avg averages only NON-NULL values; an all-NULL
    # bucket is a gap for EWMA (contributes neither numerator nor
    # denominator, pandas ewm(ignore_na=True)) but still counts n_obs.
    rows = [
        ("k", BASE + dt.timedelta(minutes=0), 10.0),
        ("k", BASE + dt.timedelta(minutes=0), None),   # mixed bucket
        ("k", BASE + dt.timedelta(minutes=1), None),   # all-NULL bucket
        ("k", BASE + dt.timedelta(minutes=2), 6.0),
    ]
    df = spark.createDataFrame(
        rows, "key string, ts timestamp, value double"
    )
    base_epoch = int(BASE.replace(tzinfo=dt.timezone.utc).timestamp())
    got = {
        r["bucket_start"]: r
        for r in resample_gapfill(df, ["key"], step_seconds=STEP).collect()
    }
    b0, b1 = got[base_epoch], got[base_epoch + 60]
    assert b0["n_obs"] == 2 and b0["value_avg"] == 10.0  # not 5.0
    assert b1["n_obs"] == 1 and b1["value_avg"] is None  # a gap
    assert b1["locf"] == 10.0 and b1["interp"] == 8.0
    ew = {
        r["bucket_start"]: r["ewma"]
        for r in ewma_grid(
            df, ["key"], step_seconds=STEP, alpha=0.5, span=2
        ).collect()
    }
    # bucket 1: only the decayed x(0) term — the all-NULL bucket must
    # not park weight in the denominator (which would halve this).
    assert ew[base_epoch + 60] == 10.0
    assert ew[base_epoch + 120] == 6.0


def test_anomaly_flags_planted_spike(spark):
    flat = [(m, 10 + (m % 2)) for m in range(8)]        # mean~10.5, sd~.5
    df = _series(spark, flat + [(8, 500)])
    out = {r["bucket_start"]: r for r in detect_anomalies(
        df, ["key"], step_seconds=STEP, lookback=8, z_threshold=3.0
    ).collect()}
    base_epoch = int(BASE.replace(tzinfo=dt.timezone.utc).timestamp())
    spike = out[base_epoch + 480]
    assert spike["is_anomaly"] and spike["zscore"] > 3
    assert sum(r["is_anomaly"] for r in out.values()) == 1
    # first bucket: no trailing history -> NULL score, not flagged
    assert out[base_epoch]["zscore"] is None
    assert not out[base_epoch]["is_anomaly"]


def test_streaming_anomalies_equal_batch(spark, tmp_path):
    # round 6: epoch-partitioned bucket partials maintained through
    # readStream + foreachBatch, scored at read == the batch operator.
    from drugbankner_spark.operators.timeseries import (
        read_anomalies,
        stream_bucket_partials,
    )

    src = str(tmp_path / "events_src")
    state = str(tmp_path / "anomaly_state")
    flat = [(m, 10 + (m % 2)) for m in range(8)]
    late = [(8, 500), (0, 12)]   # (0, 12) lands in epoch-0's bucket
    ev = _series(spark, flat + late)
    # two files -> two micro-batches (maxFilesPerTrigger=1); minute-0's
    # bucket gets partials in BOTH epochs, so merge-on-read is genuine
    _series(spark, flat).coalesce(1).write.mode("overwrite").parquet(src)
    _series(spark, late).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(
        "key string, ts timestamp, value double"
    ).parquet(src)
    stream_bucket_partials(stream, state, ["key"], step_seconds=STEP)

    got = sorted(map(tuple, read_anomalies(
        spark, state, ["key"], lookback=8, z_threshold=3.0
    ).collect()))
    from drugbankner_spark.operators.timeseries import detect_anomalies
    want = sorted(map(tuple, detect_anomalies(
        ev, ["key"], step_seconds=STEP, lookback=8, z_threshold=3.0
    ).collect()))
    assert got == want and len(got) == 9
    # round 15: the bucket partials joined the sum-family compaction
    # protocol — fold every epoch into a generation base, reads equal
    # across the boundary, re-firing the same boundary is a no-op
    from drugbankner_spark.operators.sketches import _epoch_manifest
    from drugbankner_spark.operators.timeseries import (
        compact_bucket_state,
    )

    epochs = sorted(r["_epoch"] for r in spark.read.parquet(state)
                    .select("_epoch").distinct().collect())
    assert compact_bucket_state(spark, state, ["key"],
                                epochs[-1]) == len(epochs)
    spark.catalog.refreshByPath(state)
    after = sorted(map(tuple, read_anomalies(
        spark, state, ["key"], lookback=8, z_threshold=3.0
    ).collect()))
    assert after == want
    assert _epoch_manifest(spark, state) == (1, epochs[-1])
    assert compact_bucket_state(spark, state, ["key"], epochs[-1]) == 0


def test_seasonal_decompose_recovers_planted_components(spark):
    # round 7: linear trend + exact period-4 offsets, one obs/bucket.
    # The classical decomposition must return trend ~= the line,
    # seasonal == the centered offsets, resid ~= 0; edges NULL.
    from drugbankner_spark.operators.timeseries import seasonal_decompose

    offs = [3.0, -1.0, -4.0, 2.0]          # sums to 0 (already centered)
    rows = [
        ("k", BASE + dt.timedelta(minutes=m), 10.0 + 0.5 * m + offs[m % 4])
        for m in range(16)
    ]
    df = spark.createDataFrame(
        rows, "key string, ts timestamp, value double"
    )
    got = {r["phase"]: r for r in seasonal_decompose(
        df, ["key"], step_seconds=STEP, period=4
    ).collect() if r["trend"] is not None}
    out = seasonal_decompose(df, ["key"], step_seconds=STEP, period=4)
    rows_all = out.orderBy("bucket_start").collect()
    # edges: first and last period//2 buckets have no trend
    assert rows_all[0]["trend"] is None and rows_all[1]["trend"] is None
    assert rows_all[-1]["trend"] is None and rows_all[-2]["trend"] is None
    mid = [r for r in rows_all if r["trend"] is not None]
    assert len(mid) == 12
    for r in mid:
        m = (r["bucket_start"] - rows_all[0]["bucket_start"]) // STEP
        assert abs(r["trend"] - (10.0 + 0.5 * m)) < 1e-3, r
        assert abs(r["resid"]) < 1e-3, r
    # per-phase seasonal equals the planted (already-centered) offsets
    seas = {r["phase"]: r["seasonal"] for r in rows_all}
    for p in range(4):
        assert abs(seas[p] - offs[p]) < 1e-3, (p, seas[p])
    # seasonal offsets sum to ~0 (the re-centering contract)
    assert abs(sum(seas[p] for p in range(4))) < 1e-3
    assert got  # trend-bearing rows exist


def test_seasonal_decompose_interp_aligns_windows_across_gaps(spark):
    # a missing bucket must NOT shift the phase/window alignment: the
    # gap is interp-filled before decomposition.
    from drugbankner_spark.operators.timeseries import seasonal_decompose

    offs = [3.0, -1.0, -4.0, 2.0]
    rows = [
        ("k", BASE + dt.timedelta(minutes=m), 10.0 + offs[m % 4])
        for m in range(12) if m != 5                    # hole at m=5
    ]
    df = spark.createDataFrame(
        rows, "key string, ts timestamp, value double"
    )
    out = {r["bucket_start"]: r for r in seasonal_decompose(
        df, ["key"], step_seconds=STEP, period=4
    ).collect()}
    base_epoch = int(BASE.replace(tzinfo=dt.timezone.utc).timestamp())
    # the gap bucket exists on the grid with an interpolated value
    assert base_epoch + 5 * STEP in out
    assert len(out) == 12                   # full grid, no phase shift
    assert out[base_epoch + 5 * STEP]["phase"] == 1


def test_holt_linear_matches_python_recursion_bitwise(spark):
    # Round 9: the F.aggregate fold must equal the textbook Holt
    # recursion BIT-FOR-BIT (same IEEE ops in the same order) — that
    # is the whole cross-engine determinism contract.
    from drugbankner_spark.operators.timeseries import holt_linear

    vals = [10.0, 12.0, 11.0, 15.0, 14.0, 18.0, 13.5]
    df = _series(spark, list(enumerate(vals)))
    r = holt_linear(df, ["key"], step_seconds=STEP,
                    alpha=0.5, beta=0.2).collect()[0]
    a, b = 0.5, 0.2
    l, tr = vals[0], vals[1] - vals[0]
    for x in vals[2:]:
        lnew = a * x + (1 - a) * (l + tr)
        tr = b * (lnew - l) + (1 - b) * tr
        l = lnew
    assert r["level"] == l and r["trend"] == tr
    assert r["forecast_3"] == l + 3.0 * tr
    assert r["n_buckets"] == len(vals)


def test_holt_linear_short_series_edges(spark):
    # singleton: level = x1, trend = 0; two points: trend = x2 - x1
    from drugbankner_spark.operators.timeseries import holt_linear

    one = _series(spark, [(0, 42.0)])
    r1 = holt_linear(one, ["key"], step_seconds=STEP).collect()[0]
    assert (r1["level"], r1["trend"]) == (42.0, 0.0)
    two = _series(spark, [(0, 10.0), (1, 14.0)])
    r2 = holt_linear(two, ["key"], step_seconds=STEP).collect()[0]
    assert (r2["level"], r2["trend"]) == (10.0, 4.0)
    assert r2["forecast_1"] == 14.0


def test_acf_matches_python_reference(spark):
    # Round 10: the n^2-cleared integer ACF equals the classic float
    # estimator computed in Python on the same integer series (one
    # value per bucket, so the centi-unit floor-div mean is the value
    # itself).
    from drugbankner_spark.operators.timeseries import autocorrelation

    vals = [3.0, 5.0, 4.0, 6.0, 5.0, 7.0, 6.0, 8.0, 7.0, 9.0]
    df = _series(spark, list(enumerate(vals)))
    got = {
        r["lag"]: r
        for r in autocorrelation(
            df, ["key"], step_seconds=STEP, max_lag=3
        ).collect()
    }
    xs = [int(v * 100) for v in vals]  # centi-units, exact here
    n = len(xs)
    mean = sum(xs) / n
    den = sum((x - mean) ** 2 for x in xs)
    for k in range(1, 4):
        num = sum(
            (xs[t] - mean) * (xs[t + k] - mean) for t in range(n - k)
        )
        r = got[k]
        assert r["n_buckets"] == n
        # the integer identity: acf_num/acf_den == num/den exactly
        assert abs(r["acf"] - num / den) < 1e-12, (k, r["acf"], num / den)
        # n^2*Q - n*S^2 == n^2 * sum((x - mean)^2)
        assert r["acf_den"] == round(den * n * n)
    # alternating series: strong negative lag-1 autocorrelation
    alt = _series(spark, list(enumerate([1.0, 9.0] * 6)))
    a1 = {
        r["lag"]: r["acf"]
        for r in autocorrelation(
            alt, ["key"], step_seconds=STEP, max_lag=2
        ).collect()
    }
    assert a1[1] < -0.8 and a1[2] > 0.6


def test_acf_constant_series_zero_denominator(spark):
    # constant series: den = 0 -> acf defined 0.0, no division error
    from drugbankner_spark.operators.timeseries import autocorrelation

    df = _series(spark, [(i, 5.0) for i in range(6)])
    rows = autocorrelation(df, ["key"], step_seconds=STEP,
                           max_lag=2).collect()
    assert {r["acf"] for r in rows} == {0.0}
    assert {r["acf_den"] for r in rows} == {0}


def test_acf_short_series_emits_only_valid_lags(spark):
    # n=3 with max_lag=6: only lags 1..2 can be estimated (n > k)
    from drugbankner_spark.operators.timeseries import autocorrelation

    df = _series(spark, [(0, 1.0), (1, 2.0), (2, 4.0)])
    rows = autocorrelation(df, ["key"], step_seconds=STEP,
                           max_lag=6).collect()
    assert sorted(r["lag"] for r in rows) == [1, 2]


def test_acf_overflow_bound_raises_instead_of_wrapping(spark):
    # VERDICT r10 next #2: the docstring's BIGINT bound
    # (4*n^3*max|x|^2 < 2^63) is now ENFORCED — a series past it must
    # raise at the action, naming n and max|x|, instead of silently
    # wrapping the integer num/den into a wrong acf.
    import pytest

    from drugbankner_spark.operators.timeseries import autocorrelation

    # n=4 buckets, values ~1e7 -> centi-units ~1e9:
    # 4 * 4^3 * (4e9)^2 >> 2^63. The eager pre-check raises at CALL
    # time, before any BIGINT term is built.
    big = _series(spark, [(i, 1.0e7 * (i + 1)) for i in range(4)])
    with pytest.raises(ValueError, match="overflow bound"):
        autocorrelation(big, ["key"], step_seconds=STEP, max_lag=2)
    # the guard is a bound check, not a blanket nerf: a series with
    # large-ish values INSIDE the bound still computes normally
    ok = _series(spark, [(i, 1000.0 + i) for i in range(10)])
    rows = autocorrelation(
        ok, ["key"], step_seconds=STEP, max_lag=2
    ).collect()
    assert sorted(r["lag"] for r in rows) == [1, 2]
    assert all(abs(r["acf"]) <= 1.0 + 1e-9 for r in rows)


def test_acf_overflow_check_memoized_per_plan(spark):
    # Round 12 (VERDICT r11 next #7): a serving driver calling
    # autocorrelation repeatedly over the SAME source pays the eager
    # check job ONCE per session — the memo keys on the bucketed
    # series' semantic plan hash. Failures are never cached (every
    # violating call raises); check_overflow="always" re-verifies.
    import pytest

    from drugbankner_spark.caching import session_memo
    from drugbankner_spark.operators import timeseries as ts

    def memo_size():
        return len(session_memo(spark).get("acf_checked", ()))

    src = _series(spark, [(i, 10.0 + i) for i in range(12)])
    before = memo_size()
    ts.autocorrelation(src, ["key"], step_seconds=STEP, max_lag=2) \
        .collect()
    after_first = memo_size()
    assert after_first == before + 1
    ts.autocorrelation(src, ["key"], step_seconds=STEP, max_lag=2) \
        .collect()
    assert memo_size() == after_first  # memo hit, no growth
    # different params -> different bucketed plan -> fresh check
    ts.autocorrelation(src, ["key"], step_seconds=STEP * 2, max_lag=2) \
        .collect()
    assert memo_size() == after_first + 1
    # failures never cache: the same bad series raises on BOTH calls
    big = _series(spark, [(i, 1.0e7 * (i + 1)) for i in range(4)])
    for _ in range(2):
        with pytest.raises(ValueError, match="overflow bound"):
            ts.autocorrelation(big, ["key"], step_seconds=STEP,
                               max_lag=2)
    # "always" re-runs the check even on a memoized plan (no error,
    # just a fresh job) — the growing-source escape hatch
    ts.autocorrelation(src, ["key"], step_seconds=STEP, max_lag=2,
                       check_overflow="always").collect()


def test_acf_memo_invalidated_by_source_growth(spark, tmp_path):
    # Round 13 (VERDICT r12 next #3): the semantic plan hash of a
    # file-backed scan does not change when files are APPENDED to the
    # directory, so the r12 memo could re-use a pass verdict the data
    # had outgrown — failing later as the opaque ANSI overflow. The
    # memo now folds the source-file snapshot into its key: pass ->
    # append rows violating the bound -> the NEXT call raises the
    # actionable ValueError again (default settings, no "always").
    import datetime as dt

    import pytest

    from drugbankner_spark.operators import timeseries as ts

    src = str(tmp_path / "grow_acf")
    base = dt.datetime(2024, 1, 1)
    ok_rows = [("k", base + dt.timedelta(minutes=90 * i), 10.0 + i)
               for i in range(12)]
    schema = "key string, ts timestamp, value double"
    spark.createDataFrame(ok_rows, schema).write.parquet(src)
    events = spark.read.parquet(src)
    ts.autocorrelation(events, ["key"], step_seconds=STEP,
                       max_lag=2).collect()  # passes, memoized
    # append a key whose values blow the centi-scale BIGINT bound
    bad_rows = [("boom", base + dt.timedelta(minutes=90 * i),
                 1.0e7 * (i + 1)) for i in range(4)]
    spark.createDataFrame(bad_rows, schema) \
        .write.mode("append").parquet(src)
    spark.catalog.refreshByPath(src)
    grown = spark.read.parquet(src)
    with pytest.raises(ValueError, match="overflow bound"):
        ts.autocorrelation(grown, ["key"], step_seconds=STEP,
                           max_lag=2)

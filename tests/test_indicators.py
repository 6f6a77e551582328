"""Financial indicators (operators/indicators.py) and the ordered
conversion funnel (operators/funnel.py): hand-built fixtures with
known closed-form answers, plus plan pins for the one-shuffle shapes.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from crypto_price_tracker_with_etl_dashboard_spark.operators.funnel import funnel
from crypto_price_tracker_with_etl_dashboard_spark.operators.indicators import (
    bollinger,
    max_drawdown,
    pairwise_corr,
    rsi,
    stochastic,
    vwap,
)


def ts(h: int, m: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, 1, h, m)


# ---- VWAP -------------------------------------------------------------------

def test_vwap_weighted_mean_per_hour(spark):
    rows = [
        # symbol, price, volume, ts — hour 0: vwap = (10*1 + 20*3)/4
        ("a", 10.0, 1.0, ts(0, 5)),
        ("a", 20.0, 3.0, ts(0, 30)),
        # hour 1: single tick -> vwap = price
        ("a", 50.0, 2.0, ts(1, 0)),
        # zero/negative volume rows are excluded
        ("a", 999.0, 0.0, ts(0, 10)),
        ("b", 7.0, -1.0, ts(0, 10)),
    ]
    df = spark.createDataFrame(rows, ["symbol", "price", "vol", "t"])
    out = {
        (r["symbol"], r["bucket"].hour): (r["vwap"], r["n_ticks"])
        for r in vwap(df, "symbol", "t", "price", "vol").collect()
    }
    assert out == {("a", 0): (17.5, 2), ("a", 1): (50.0, 1)}


# ---- RSI --------------------------------------------------------------------

def _series(spark, prices: list[float]):
    rows = [("a", p, ts(0, i), i) for i, p in enumerate(prices)]
    return spark.createDataFrame(rows, ["symbol", "price", "t", "event_id"])


def test_rsi_all_gains_is_100(spark):
    df = _series(spark, [float(i) for i in range(1, 17)])  # 15 rising deltas
    out = rsi(df, "symbol", ["t", "event_id"], "price", period=14).collect()
    assert len(out) == 2  # deltas 14 and 15 have full windows
    assert all(r["rsi"] == 100.0 for r in out)


def test_rsi_flat_is_50(spark):
    df = _series(spark, [5.0] * 16)
    out = rsi(df, "symbol", ["t", "event_id"], "price", period=14).collect()
    assert len(out) == 2
    assert all(r["rsi"] == 50.0 for r in out)


def test_rsi_balanced_alternation_is_50(spark):
    # +1/-1 alternating: equal gain and loss mass in any 14-window
    df = _series(spark, [10.0 + (i % 2) for i in range(16)])
    out = rsi(df, "symbol", ["t", "event_id"], "price", period=14).collect()
    assert all(r["rsi"] == 50.0 for r in out)


def test_rsi_known_value(spark):
    # 14 deltas: ten +1 gains, four -1 losses -> RS = 10/4, RSI = 100*10/14
    deltas = [1.0] * 10 + [-1.0] * 4
    prices, p = [100.0], 100.0
    for d in deltas:
        p += d
        prices.append(p)
    df = _series(spark, prices)
    out = rsi(df, "symbol", ["t", "event_id"], "price", period=14).collect()
    assert len(out) == 1
    assert out[0]["rsi"] == pytest.approx(100.0 * 10.0 / 14.0, abs=1e-6)


def test_rsi_emits_only_full_windows(spark):
    df = _series(spark, [1.0, 2.0, 3.0])
    assert rsi(df, "symbol", ["t", "event_id"], "price", period=14).count() == 0


# ---- Max drawdown -----------------------------------------------------------

def test_max_drawdown_peak_to_trough(spark):
    # peak 100 then trough 60 -> dd 0.4; later peak 120 trough 90 -> 0.25
    df = _series(spark, [50.0, 100.0, 80.0, 60.0, 120.0, 90.0])
    out = max_drawdown(df, "symbol", ["t", "event_id"], "price").collect()
    assert len(out) == 1
    assert out[0]["max_drawdown"] == 0.4
    assert out[0]["n_ticks"] == 6


def test_max_drawdown_monotone_rise_is_zero(spark):
    df = _series(spark, [1.0, 2.0, 3.0])
    out = max_drawdown(df, "symbol", ["t", "event_id"], "price").collect()
    assert out[0]["max_drawdown"] == 0.0


# ---- Funnel -----------------------------------------------------------------

def _events(spark, rows):
    return spark.createDataFrame(rows, ["user_id", "event_type", "ts"])


def test_funnel_strict_order(spark):
    rows = [
        # u1 completes in order
        (1, "signup", ts(0)), (1, "view", ts(1)), (1, "click", ts(2)),
        # u2 views BEFORE signup -> stalls at signup unless a later view
        (2, "view", ts(0)), (2, "signup", ts(1)), (2, "click", ts(2)),
        # u3 never signs up
        (3, "view", ts(0)), (3, "click", ts(1)),
    ]
    out = {
        r["stage"]: r["n_users"]
        for r in funnel(_events(spark, rows), ["signup", "view", "click"]).collect()
    }
    assert out == {"signup": 2, "view": 1, "click": 1}


def test_funnel_same_timestamp_does_not_advance(spark):
    rows = [(1, "signup", ts(0)), (1, "view", ts(0))]
    out = {
        r["stage"]: r["n_users"]
        for r in funnel(_events(spark, rows), ["signup", "view"]).collect()
    }
    assert out == {"signup": 1, "view": 0}


def test_funnel_conversion_window(spark):
    rows = [
        (1, "signup", ts(0)), (1, "view", ts(1)),          # inside 2h
        (2, "signup", ts(0)), (2, "view", ts(5)),          # outside 2h
        # u3: first view outside, but window binds to the FIRST signup
        (3, "signup", ts(0)), (3, "view", ts(3)), (3, "signup", ts(2)),
    ]
    out = {
        r["stage"]: r["n_users"]
        for r in funnel(
            _events(spark, rows), ["signup", "view"], within_hours=2
        ).collect()
    }
    assert out == {"signup": 3, "view": 1}


def test_funnel_uses_first_qualifying_chain(spark):
    # stage time = FIRST qualifying ts: u1's later extra signup must
    # not reopen the window
    rows = [
        (1, "signup", ts(0)), (1, "signup", ts(4)), (1, "view", ts(5)),
    ]
    out = {
        r["stage"]: r["n_users"]
        for r in funnel(
            _events(spark, rows), ["signup", "view"], within_hours=2
        ).collect()
    }
    assert out == {"signup": 1, "view": 0}


# ---- Plan pins --------------------------------------------------------------

def test_funnel_single_shuffle(spark):
    from tests.test_plans import plan_of

    rows = [(1, "signup", ts(0)), (1, "view", ts(1))]
    plan = plan_of(funnel(_events(spark, rows), ["signup", "view", "click"]))
    # all stage windows share one user-partitioned exchange; the only
    # other exchanges are the O(stages) aggregate/sort tails
    assert plan.count("hashpartitioning(user_id") == 1


def test_rsi_single_shuffle(spark):
    from tests.test_plans import plan_of

    df = _series(spark, [1.0, 2.0, 3.0])
    plan = plan_of(rsi(df, "symbol", ["t", "event_id"], "price"))
    assert plan.count("Exchange hashpartitioning") == 1


# ---- EMA / MACD -------------------------------------------------------------

def test_ema_macd_closed_form(spark):
    """fast=2 (a=2/3), slow=4 (a=2/5) over [10, 20]: seeds are the
    first price; step 2 is the integer round-half-up recursion."""
    from crypto_price_tracker_with_etl_dashboard_spark.operators.indicators import (
        ema_macd,
    )

    df = _series(spark, [10.0, 20.0])
    out = {
        r["rn"]: (r["ema_fast"], r["ema_slow"], r["macd"])
        for r in ema_macd(
            df, "symbol", ["t", "event_id"], "price", fast=2, slow=4
        ).collect()
    }
    assert out[1] == (10.0, 10.0, 0.0)
    # ef = (2*200000 + 1*100000 + 1) // 3 = 166667; es = 700002 // 5 = 140000
    assert out[2] == (16.6667, 14.0, 2.6667)


def test_ema_macd_tracks_float_recurrence_and_is_partition_invariant(spark):
    """The integer recursion approximates the classic float EMA to
    within SCALE quantization (< 1e-3 after dozens of steps), and the
    result is identical under different input partitioning — the
    whole point of the integer formulation."""
    from crypto_price_tracker_with_etl_dashboard_spark.operators.indicators import (
        ema_macd,
    )

    prices = [100.0 + ((i * 37) % 50) / 3.0 for i in range(60)]
    df = _series(spark, prices)
    out = ema_macd(df, "symbol", ["t", "event_id"], "price", fast=12, slow=26)
    got = {r["rn"]: (r["ema_fast"], r["ema_slow"]) for r in out.collect()}

    ef = es = prices[0]
    af, as_ = 2 / 13, 2 / 27
    for i, p in enumerate(prices):
        if i:
            ef = af * p + (1 - af) * ef
            es = as_ * p + (1 - as_) * es
        assert abs(got[i + 1][0] - ef) < 1e-3, (i, got[i + 1][0], ef)
        assert abs(got[i + 1][1] - es) < 1e-3

    got_rep = {
        r["rn"]: (r["ema_fast"], r["ema_slow"])
        for r in ema_macd(
            df.repartition(7), "symbol", ["t", "event_id"], "price",
            fast=12, slow=26,
        ).collect()
    }
    assert got == got_rep


def test_ema_macd_rejects_bad_periods(spark):
    from crypto_price_tracker_with_etl_dashboard_spark.operators.indicators import (
        ema_macd,
    )

    df = _series(spark, [1.0])
    with pytest.raises(ValueError, match="fast < slow"):
        ema_macd(df, "symbol", ["t"], "price", fast=26, slow=12)


# ---- OLS trend --------------------------------------------------------------

def test_ols_trend_recovers_exact_line(spark):
    """A perfectly linear series recovers its slope/intercept with
    R^2 = 1; a constant series is dropped (degenerate variance)."""
    from crypto_price_tracker_with_etl_dashboard_spark.operators.indicators import (
        ols_trend,
    )

    rows = [("lin", 10.0 + 2.5 * i, ts(0, i), i) for i in range(10)]
    rows += [("flat", 7.0, ts(0, i), 100 + i) for i in range(5)]
    df = spark.createDataFrame(rows, ["symbol", "price", "t", "event_id"])
    out = {
        r["symbol"]: r
        for r in ols_trend(df, "symbol", ["t", "event_id"], "price").collect()
    }
    assert set(out) == {"lin"}  # flat: var_y == 0, dropped
    lin = out["lin"]
    # y = 10 + 2.5*i with x = i+1  ->  y = 7.5 + 2.5*x
    assert (lin["slope"], lin["intercept"], lin["r2"]) == (2.5, 7.5, 1.0)


def test_ols_trend_partition_invariant(spark):
    from crypto_price_tracker_with_etl_dashboard_spark.operators.indicators import (
        ols_trend,
    )

    rows = [("a", 5.0 + ((i * 13) % 7) / 3.0, ts(0, i), i) for i in range(40)]
    df = spark.createDataFrame(rows, ["symbol", "price", "t", "event_id"])
    one = sorted(map(tuple, ols_trend(df, "symbol", ["t", "event_id"], "price").collect()))
    two = sorted(map(tuple, ols_trend(df.repartition(9), "symbol", ["t", "event_id"], "price").collect()))
    assert one == two


# ---- Bollinger bands --------------------------------------------------------

def test_bollinger_constant_series_zero_width(spark):
    df = _series(spark, [10.0] * 6)
    out = bollinger(df, "symbol", ["t", "event_id"], "price", period=4).collect()
    # rows 4..6 have a full 4-tick frame; constant series -> zero std
    assert len(out) == 3
    for r in out:
        assert (r["sma"], r["band_lo"], r["band_hi"]) == (10.0, 10.0, 10.0)


def test_bollinger_known_variance(spark):
    # frame [1, 2, 3, 4]: mean 2.5, pop var 1.25
    df = _series(spark, [1.0, 2.0, 3.0, 4.0])
    out = bollinger(df, "symbol", ["t", "event_id"], "price", period=4).collect()
    assert len(out) == 1
    r = out[0]
    std = 1.25 ** 0.5
    assert r["sma"] == 2.5
    assert r["band_lo"] == round(2.5 - 2 * std, 6)
    assert r["band_hi"] == round(2.5 + 2 * std, 6)


def test_bollinger_requires_full_frame(spark):
    df = _series(spark, [1.0, 2.0, 3.0])
    assert bollinger(df, "symbol", ["t", "event_id"], "price", period=4).count() == 0


# ---- Stochastic oscillator --------------------------------------------------

def test_stochastic_k_locates_price_in_envelope(spark):
    # k_period=3, d_period=1 (so stoch_d == stoch_k):
    # frames: [1,2,3]->K=100, [2,3,2]->(2-2)/(3-2)=0, [3,2,4]->(4-2)/2=100
    df = _series(spark, [1.0, 2.0, 3.0, 2.0, 4.0])
    out = stochastic(
        df, "symbol", ["t", "event_id"], "price", k_period=3, d_period=1
    ).collect()
    assert [r["stoch_k"] for r in out] == [100.0, 0.0, 100.0]
    assert [r["stoch_d"] for r in out] == [100.0, 0.0, 100.0]


def test_stochastic_flat_frame_convention_50(spark):
    df = _series(spark, [5.0, 5.0, 5.0])
    out = stochastic(
        df, "symbol", ["t", "event_id"], "price", k_period=3, d_period=1
    ).collect()
    assert [r["stoch_k"] for r in out] == [50.0]


def test_stochastic_d_averages_k(spark):
    # K values as above: [100, 0, 100]; %D-3 over them = 66.666667
    df = _series(spark, [1.0, 2.0, 3.0, 2.0, 4.0])
    out = stochastic(
        df, "symbol", ["t", "event_id"], "price", k_period=3, d_period=3
    ).collect()
    assert len(out) == 1
    assert out[0]["stoch_d"] == round(200000000 / 3 / 1e6, 6)


# ---- Pairwise return correlation --------------------------------------------

def _ticks(spark, series: dict[str, list[float]]):
    rows = []
    for sym, prices in series.items():
        for day, p in enumerate(prices):
            rows.append((sym, p, dt.datetime(2024, 1, 1 + day, 12), day))
    return spark.createDataFrame(rows, ["symbol", "price", "t", "event_id"])


def test_pairwise_corr_perfect_pos_and_neg(spark):
    # b moves with a (corr +1); c is a's mirror image around 20
    # (returns are not exactly -1 of a's, but monotone-opposed)
    a = [10.0, 11.0, 12.0, 11.0, 13.0, 14.0, 13.0, 15.0]
    b = [p * 2 for p in a]
    df = _ticks(spark, {"a": a, "b": b})
    out = pairwise_corr(
        df, key="symbol", ts_col="t", price="price", tiebreak="event_id",
        top_n=5, min_obs=3, bucket="day",
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["s1"], r["s2"], r["n_obs"]) == ("a", "b", 7)
    assert r["corr"] == 1.0


def test_pairwise_corr_last_tick_of_bucket_wins(spark):
    # two ticks same day: close = later ts (tiebreak event_id)
    rows = [
        ("a", 10.0, dt.datetime(2024, 1, 1, 9), 0),
        ("a", 99.0, dt.datetime(2024, 1, 1, 18), 1),  # the close
        ("a", 20.0, dt.datetime(2024, 1, 2, 12), 2),
        ("b", 1.0, dt.datetime(2024, 1, 1, 12), 3),
        ("b", 2.0, dt.datetime(2024, 1, 2, 12), 4),
    ]
    df = spark.createDataFrame(rows, ["symbol", "price", "t", "event_id"])
    out = pairwise_corr(
        df, key="symbol", ts_col="t", price="price", tiebreak="event_id",
        top_n=5, min_obs=1, bucket="day",
    ).collect()
    # single return each -> zero variance -> dropped; proves the
    # close selection ran without error and variance guard holds
    assert out == []


def test_pairwise_corr_top_n_cut_is_deterministic(spark):
    # three symbols, top_n=2 keeps the two most-ticked (a, b)
    a = [10.0, 11.0, 12.0, 11.0, 13.0]
    df = _ticks(spark, {"a": a, "b": [p + 1 for p in a], "c": a[:2]})
    out = pairwise_corr(
        df, key="symbol", ts_col="t", price="price", tiebreak="event_id",
        top_n=2, min_obs=2, bucket="day",
    ).collect()
    assert {(r["s1"], r["s2"]) for r in out} == {("a", "b")}


# ---- Heikin-Ashi -----------------------------------------------------------

def test_heikin_ashi_recursion_matches_sequential(spark):
    from crypto_price_tracker_with_etl_dashboard_spark.operators.indicators import (
        heikin_ashi,
    )

    candles = [
        ("a", ts(0), 10.0, 12.0, 9.0, 11.0),
        ("a", ts(1), 11.0, 13.0, 10.5, 12.5),
        ("a", ts(2), 12.5, 12.6, 8.0, 9.0),
    ]
    df = spark.createDataFrame(
        candles, ["symbol", "window_start", "open", "high", "low", "close"]
    )
    out = {
        r["rn"]: r
        for r in heikin_ashi(df, "symbol", "window_start").collect()
    }
    # sequential reference in exact fixed-point ints (SCALE=1e4)
    S = 10000
    ho = hc = None
    for rn, (_, _, o, h, l, c) in enumerate(candles, start=1):
        ou, hu, lu, cu = (round(v * S) for v in (o, h, l, c))
        hc_new = (ou + hu + lu + cu + 2) // 4
        ho = (ou + cu + 1) // 2 if rn == 1 else (ho + hc + 1) // 2
        hc = hc_new
        r = out[rn]
        assert r["ha_open"] == ho / S and r["ha_close"] == hc / S
        assert r["ha_high"] == max(hu, ho, hc) / S
        assert r["ha_low"] == min(lu, ho, hc) / S


def test_heikin_ashi_keys_independent(spark):
    from crypto_price_tracker_with_etl_dashboard_spark.operators.indicators import (
        heikin_ashi,
    )

    rows = [
        ("a", ts(0), 10.0, 10.0, 10.0, 10.0),
        ("b", ts(0), 99.0, 99.0, 99.0, 99.0),
        ("a", ts(1), 10.0, 10.0, 10.0, 10.0),
    ]
    df = spark.createDataFrame(
        rows, ["symbol", "window_start", "open", "high", "low", "close"]
    )
    out = heikin_ashi(df, "symbol", "window_start").collect()
    by = {(r["symbol"], r["rn"]): r["ha_open"] for r in out}
    assert by[("a", 1)] == 10.0 and by[("a", 2)] == 10.0
    assert by[("b", 1)] == 99.0  # b's seed untouched by a's stream


# ---- Holt smoothing ---------------------------------------------------------

def test_holt_matches_sequential_reference(spark):
    from crypto_price_tracker_with_etl_dashboard_spark.operators.indicators import (
        holt_smooth,
    )

    vals = [10.0, 12.0, 9.0, 15.0, 14.0, 3.0]
    df = spark.createDataFrame(
        [("a", ts(0, i), v) for i, v in enumerate(vals)],
        ["k", "t", "v"],
    )
    out = {r["rn"]: r for r in holt_smooth(df, "k", "t", "v").collect()}
    S, a, g = 10000, 4, 4

    def tdiv(num, den):
        return num // den if num >= 0 else -((-num) // den)

    l = b = None
    for rn, v in enumerate(vals, start=1):
        xu = round(v * S)
        if rn == 1:
            l, b = xu, 0
        else:
            l_new = tdiv(xu + (a - 1) * (l + b) + a // 2, a)
            b = tdiv((l_new - l) + (g - 1) * b + g // 2, g)
            l = l_new
        r = out[rn]
        assert (r["level"], r["trend"]) == (l / S, b / S), rn
        assert r["forecast_next"] == (l + b) / S


def test_holt_linear_series_learns_the_slope(spark):
    from crypto_price_tracker_with_etl_dashboard_spark.operators.indicators import (
        holt_smooth,
    )

    # x_t = 10 + 5t: trend state must converge toward 5
    df = spark.createDataFrame(
        [("a", ts(0, i), 10.0 + 5.0 * i) for i in range(40)],
        ["k", "t", "v"],
    )
    last = holt_smooth(df, "k", "t", "v").orderBy("rn").collect()[-1]
    assert abs(last["trend"] - 5.0) < 0.5
    assert abs(last["forecast_next"] - (10.0 + 5.0 * 40)) < 3.0


# ---- keyed folds: a NULL key is one key on both engines ---------------------

_FOLD_COLS = ["k", "t", "i", "open", "high", "low", "close"]
# one NULL key and one normal key, 7 ticks each (interleaved), so each
# key's run spans several 3-row Arrow batches
_FOLD_ROWS = [
    (k, ts(0, i), i, c - 1.5, c + 2.25, c - 3.0, c)
    for i in range(7)
    for k, c in ((None, 50.0 + 3.5 * ((i * 5) % 7)), ("btc", 100.0 + 7.25 * ((i * 3) % 5)))
]


def _fold_cases():
    from crypto_price_tracker_with_etl_dashboard_spark.operators import indicators as ind

    candles = "candles AS (SELECT * FROM t)"
    return {
        "ema_macd": (
            lambda df: ind.ema_macd(df, "k", ["t", "i"], "close", fast=3, slow=5),
            ind.sql_ema_macd("t", "k", ["t", "i"], "close", fast=3, slow=5),
        ),
        "heikin_ashi": (
            lambda df: ind.heikin_ashi(df, "k", "t"),
            ind.sql_heikin_ashi(candles, "k", "t"),
        ),
        "holt_smooth": (
            lambda df: ind.holt_smooth(df, "k", "t", "close"),
            ind.sql_holt_smooth("series AS (SELECT k, t, close AS value FROM t)", "k", "t"),
        ),
        "atr": (
            lambda df: ind.atr(df, "k", "t", n=3),
            ind.sql_atr(candles, "k", "t", n=3),
        ),
        "garch_vol": (
            lambda df: ind.garch_vol(df, "k", ["t", "i"], "close"),
            ind.sql_garch_vol("t", "k", ["t", "i"], "close"),
        ),
    }


@pytest.mark.parametrize(
    "op", ["ema_macd", "heikin_ashi", "holt_smooth", "atr", "garch_vol"]
)
def test_keyed_fold_null_key_matches_duckdb_across_batches(spark, op):
    """A NULL key's recursion continues across Arrow batches and the
    DuckDB twin folds it as one key: exact equality at 3 rows per
    batch, both keys in one shuffle partition."""
    import duckdb
    import pandas as pd

    fold, sql = _fold_cases()[op]
    df = spark.createDataFrame(
        _FOLD_ROWS,
        "k string, t timestamp, i long, open double, high double, "
        "low double, close double",
    )
    conf = {
        "spark.sql.execution.arrow.maxRecordsPerBatch": "3",
        "spark.sql.shuffle.partitions": "1",
    }
    saved = {c: spark.conf.get(c) for c in conf}
    try:
        for c, v in conf.items():
            spark.conf.set(c, v)
        got_df = fold(df)
        got = [tuple(r) for r in got_df.collect()]
    finally:
        for c, v in saved.items():
            spark.conf.set(c, v)
    con = duckdb.connect()
    con.register("t", pd.DataFrame(_FOLD_ROWS, columns=_FOLD_COLS))
    want = con.execute(f"SELECT {', '.join(got_df.columns)} FROM ({sql})").fetchall()

    def order(r):
        return (r[0] is not None, r[0] or "", r[1:])

    assert len(got) == len(want) and {r[0] for r in got} == {None, "btc"}
    assert sorted(got, key=order) == sorted(want, key=order)


def test_garch_sub_unit_price_matches_duckdb(spark):
    """A positive price under half a fixed-point unit (0.00004 rounds
    to 0 units) is filtered on both engines instead of becoming a
    zero divisor: the fold emits the one return of 0.0012 -> 0.0013,
    as the DuckDB twin does."""
    import duckdb
    import pandas as pd

    from crypto_price_tracker_with_etl_dashboard_spark.operators.indicators import (
        garch_vol,
        sql_garch_vol,
    )

    rows = [("a", ts(0, i), i, p) for i, p in enumerate((0.00004, 0.0012, 0.0013))]
    got_df = garch_vol(
        spark.createDataFrame(rows, "k string, t timestamp, i long, close double"),
        "k", ["t", "i"], "close",
    )
    got = sorted(tuple(r) for r in got_df.collect())
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["k", "t", "i", "close"]))
    sql = sql_garch_vol("t", "k", ["t", "i"], "close")
    want = sorted(con.execute(f"SELECT {', '.join(got_df.columns)} FROM ({sql})").fetchall())
    assert got == want == [("a", 1, 83333, 83333 ** 2, 83333)]

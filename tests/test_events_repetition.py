"""Round-5 additions: repetition/boilerplate document signals and the
event-analytics operators (sessionize, as-of join, skew profile,
typed rollup). Planted micro-corpora with hand-computed expectations,
plus DuckDB parity at sf0.001 for every new driver query."""

from __future__ import annotations

import datetime

import pytest

SF = "/root/testdata/sf0.001"


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ------------------------------------------------------------- repetition

def test_word_repetition_planted(spark):
    from cuda_selection_criteria_spark.functions import word_repetition_scores

    df = _docs_df(
        spark,
        [
            (1, "a a a a"),          # 4 words, 1 distinct, top 4
            (2, "a b c d"),          # no repetition
            (3, ""),                 # empty -> all zeros
            (4, "x  y"),             # double space: empty token dropped
        ],
    )
    got = {r["doc_id"]: r.asDict() for r in word_repetition_scores(df).collect()}
    assert got[1]["n_words"] == 4
    assert got[1]["n_distinct_words"] == 1
    assert got[1]["top_word_n"] == 4
    assert got[1]["dup_word_frac_x1000"] == 750  # 3/4 repeats
    assert got[1]["top_word_frac_x1000"] == 1000
    assert got[2]["dup_word_frac_x1000"] == 0
    assert got[2]["top_word_frac_x1000"] == 250
    assert got[3] == {
        "doc_id": 3,
        "n_words": 0,
        "n_distinct_words": 0,
        "top_word_n": 0,
        "dup_word_frac_x1000": 0,
        "top_word_frac_x1000": 0,
    }
    assert got[4]["n_words"] == 2


def test_boilerplate_ngrams_planted(spark):
    from cuda_selection_criteria_spark.functions import boilerplate_ngrams

    # "boilr" appears in 3 docs, "uniqu" in 1
    df = _docs_df(
        spark,
        [(1, "boilr one"), (2, "boilr two"), (3, "boilr three"), (4, "uniqu")],
    )
    rows = boilerplate_ngrams(df, k=5, top_n=3).collect()
    # "boilr" and "oilr " are in all 3 docs (tie broken ascending);
    # "ilr t" in docs 2+3 ("two"/"three" both start with 't')
    assert [(r["s"], r["df"]) for r in rows] == [
        ("boilr", 3),
        ("oilr ", 3),
        ("ilr t", 2),
    ]


def test_boilerplate_short_doc_excluded(spark):
    from cuda_selection_criteria_spark.functions import boilerplate_ngrams

    df = _docs_df(spark, [(1, "abcd"), (2, "abcde")])  # len<5 -> no shingles
    rows = boilerplate_ngrams(df, k=5, top_n=10).collect()
    assert [(r["s"], r["df"]) for r in rows] == [("abcde", 1)]


# --------------------------------------------------------------- sessions

def _events_df(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


def _ts(minute, second=0):
    return datetime.datetime(2024, 1, 1, minute // 60, minute % 60, second)


def test_sessionize_gap_boundaries(spark):
    from cuda_selection_criteria_spark.functions import sessionize

    # user 1: events at t=0m, 29m (same session), 60m (gap 31m -> new)
    # user 2: single event
    df = _events_df(
        spark,
        [
            (1, _ts(0), 1, "view", 0.0),
            (2, _ts(29), 1, "view", 0.0),
            (3, _ts(60), 1, "view", 0.0),
            (4, _ts(5), 2, "view", 0.0),
        ],
    )
    got = {
        (r["user_id"], r["session_idx"]): r.asDict()
        for r in sessionize(df, gap_seconds=1800).collect()
    }
    assert got[(1, 1)]["n_events"] == 2
    assert got[(1, 2)]["n_events"] == 1
    assert got[(2, 1)]["n_events"] == 1
    # exactly-at-gap is NOT a new session (strict >)
    df2 = _events_df(spark, [(1, _ts(0), 1, "view", 0.0), (2, _ts(30), 1, "view", 0.0)])
    assert sessionize(df2, gap_seconds=1800).count() == 1


def test_sessionize_tie_on_ts(spark):
    from cuda_selection_criteria_spark.functions import sessionize

    # two events at the identical timestamp: one session, deterministic
    df = _events_df(spark, [(2, _ts(0), 1, "view", 0.0), (1, _ts(0), 1, "view", 0.0)])
    rows = sessionize(df, gap_seconds=1800).collect()
    assert len(rows) == 1 and rows[0]["n_events"] == 2


def test_asof_join_semantics(spark):
    from cuda_selection_criteria_spark.functions import events_asof_clicks

    df = _events_df(
        spark,
        [
            (1, _ts(0), 1, "click", 1.25),
            (2, _ts(10), 1, "error", 0.0),   # -> 125
            (3, _ts(20), 1, "click", 2.50),
            (4, _ts(30), 1, "error", 0.0),   # -> 250 (most recent wins)
            (5, _ts(1), 2, "error", 0.0),    # no prior click -> NULL
            (6, _ts(2), 2, "click", 9.99),
            (7, _ts(3), 2, "error", 0.0),    # -> 999
        ],
    )
    got = {r["event_id"]: r["last_click_value_cents"] for r in events_asof_clicks(df).collect()}
    assert got == {2: 125, 4: 250, 5: None, 7: 999}


def test_asof_join_same_ts_click_counts(spark):
    from cuda_selection_criteria_spark.functions import events_asof_clicks

    # click and error share ts; click has the LOWER event_id -> counts
    df = _events_df(
        spark, [(1, _ts(0), 1, "click", 5.00), (2, _ts(0), 1, "error", 0.0)]
    )
    assert events_asof_clicks(df).collect()[0]["last_click_value_cents"] == 500
    # click with HIGHER event_id at same ts -> does NOT count
    df2 = _events_df(
        spark, [(2, _ts(0), 1, "click", 5.00), (1, _ts(0), 1, "error", 0.0)]
    )
    assert events_asof_clicks(df2).collect()[0]["last_click_value_cents"] is None


def test_key_skew_profile_flags_heavy(spark):
    from cuda_selection_criteria_spark.functions import key_skew_profile

    # 10 rows over 3 keys: key 1 holds 8 (heavy: 8*3 > 2*10), others 1
    rows = [(i, _ts(i), 1 if i < 8 else i - 6, "view", 0.0) for i in range(10)]
    df = _events_df(spark, rows)
    got = {r["user_id"]: (r["n_rows"], r["is_heavy"]) for r in key_skew_profile(df, "user_id").collect()}
    assert got[1] == (8, 1)
    assert got[2] == (1, 0)
    assert got[3] == (1, 0)


def test_event_type_stats_integer_exact(spark):
    from cuda_selection_criteria_spark.functions import event_type_stats

    df = _events_df(
        spark,
        [
            (1, _ts(0), 1, "click", 1.10),
            (2, _ts(1), 2, "click", 2.25),
            (3, _ts(2), 1, "view", 0.40),
        ],
    )
    got = {r["event_type"]: r.asDict() for r in event_type_stats(df).collect()}
    assert got["click"]["n_events"] == 2
    assert got["click"]["n_users"] == 2
    assert got["click"]["sum_value_cents"] == 335
    assert got["click"]["min_value_cents"] == 110
    assert got["click"]["max_value_cents"] == 225
    assert got["view"]["sum_value_cents"] == 40


# ------------------------------------------------- DuckDB parity (sf0.001)

NEW_QUERIES = [
    "word_repetition_scores",
    "boilerplate_ngrams",
    "events_sessionized",
    "events_asof_clicks",
    "user_skew_profile",
    "event_type_stats",
]


@pytest.mark.parametrize("name", NEW_QUERIES)
def test_duckdb_parity_sf0001(spark, name):
    import duckdb
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry

    sdf = entry.queries()[name](spark, SF).toPandas()
    con = duckdb.connect()
    for t in ("documents", "events"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'"
        )
    odf = con.execute(entry.oracle_sql()[name]).fetchdf()
    assert sorted(sdf.columns) == sorted(odf.columns)
    cols = sorted(sdf.columns)
    a = sdf[cols].sort_values(cols, na_position="first").reset_index(drop=True)
    b = odf[cols].sort_values(cols, na_position="first").reset_index(drop=True)
    assert len(a) == len(b), f"{name}: {len(a)} vs {len(b)} rows"
    for c in cols:
        av, bv = a[c].tolist(), b[c].tolist()
        assert av == bv or all(
            (x == y) or (x is None and y is None) or (x != x and y != y)
            for x, y in zip(av, bv)
        ), f"{name}.{c} mismatch"


def test_asof_join_rejects_reserved_column_clash(spark):
    from cuda_selection_criteria_spark.functions import asof_join

    left = spark.createDataFrame(
        [(1, 10, 5)], "user_id long, ts long, _side long"
    )
    right = spark.createDataFrame([(1, 9, 2.0)], "user_id long, ts long, value double")
    with pytest.raises(ValueError, match="reserves"):
        asof_join(left, right, on=["user_id"], order_by=["ts"], payload="value")


def test_asof_join_right_payload_may_share_out_col_name(spark):
    """The right payload is aliased before the union, so a payload
    column named like ``out_col`` is no clash."""
    from cuda_selection_criteria_spark.functions import asof_join

    left = spark.createDataFrame([(1, 10), (1, 3)], "user_id long, ts long")
    right = spark.createDataFrame(
        [(1, 5, 2.0), (1, 9, 4.0)], "user_id long, ts long, asof_value double"
    )
    got = asof_join(
        left, right, on=["user_id"], order_by=["ts"], payload="asof_value"
    ).collect()
    assert sorted((r.ts, r.asof_value) for r in got) == [(3, None), (10, 4.0)]

"""Behavioral tests for gap_fill (operators.timeseries) and the
char_entropy / compression_ratio text-quality signals (operators.text)."""

import datetime as dt
import math

import pytest

from facolos_data_pipelines_spark.operators.text import (
    char_entropy,
    compression_ratio,
)
from facolos_data_pipelines_spark.operators.timeseries import gap_fill


def _events(spark, rows):
    # rows: (key, iso_ts, value)
    return spark.createDataFrame(
        [(k, dt.datetime.fromisoformat(t), float(v)) for k, t, v in rows],
        "k string, ts timestamp, v double",
    )


class TestGapFill:
    def test_holes_densified_and_ffilled(self, spark):
        df = _events(
            spark,
            [
                ("a", "2024-01-01T10:00", 1.0),
                ("a", "2024-01-01T11:00", 2.0),  # day 1 sums to 3
                ("a", "2024-01-04T09:00", 7.0),  # days 2-3 are holes
            ],
        )
        out = gap_fill(df, ["k"], "ts", ["v"]).orderBy("bucket").collect()
        assert len(out) == 4  # contiguous daily spine Jan 1..4
        assert [r["n_rows"] for r in out] == [2, 0, 0, 1]
        assert [r["v"] for r in out] == [3.0, 3.0, 3.0, 7.0]  # ffill carries

    def test_zero_and_null_fill_policies(self, spark):
        df = _events(
            spark,
            [("a", "2024-01-01T00:00", 5.0), ("a", "2024-01-03T00:00", 1.0)],
        )
        zero = gap_fill(df, ["k"], "ts", ["v"], fill="zero").orderBy("bucket")
        assert [r["v"] for r in zero.collect()] == [5.0, 0.0, 1.0]
        null = gap_fill(df, ["k"], "ts", ["v"], fill="null").orderBy("bucket")
        assert [r["v"] for r in null.collect()] == [5.0, None, 1.0]

    def test_spans_are_per_key_not_global(self, spark):
        df = _events(
            spark,
            [
                ("a", "2024-01-01T00:00", 1.0),
                ("a", "2024-01-02T00:00", 1.0),
                ("b", "2024-03-10T00:00", 1.0),  # disjoint, later span
            ],
        )
        out = gap_fill(df, ["k"], "ts", ["v"]).collect()
        # b must NOT be back-filled to a's January span
        assert sorted((r["k"], str(r["bucket"].date())) for r in out) == [
            ("a", "2024-01-01"),
            ("a", "2024-01-02"),
            ("b", "2024-03-10"),
        ]

    def test_hour_freq_and_avg_agg(self, spark):
        df = _events(
            spark,
            [
                ("a", "2024-01-01T10:05", 2.0),
                ("a", "2024-01-01T10:40", 4.0),  # hour 10 avg -> 3.0
                ("a", "2024-01-01T13:00", 9.0),  # hours 11-12 holes
            ],
        )
        out = (
            gap_fill(df, ["k"], "ts", ["v"], freq="hour", agg="avg")
            .orderBy("bucket")
            .collect()
        )
        assert len(out) == 4
        assert [r["v"] for r in out] == [3.0, 3.0, 3.0, 9.0]

    def test_null_ts_dropped_null_key_kept(self, spark):
        df = spark.createDataFrame(
            [
                (None, dt.datetime(2024, 1, 1), 1.0),
                ("a", None, 9.0),
                ("a", dt.datetime(2024, 1, 1), 2.0),
            ],
            "k string, ts timestamp, v double",
        )
        out = gap_fill(df, ["k"], "ts", ["v"]).collect()
        keys = sorted((r["k"] or "<null>") for r in out)
        assert keys == ["<null>", "a"]  # null key is a series; null ts gone
        assert all(r["n_rows"] == 1 for r in out)

    def test_bad_args_raise(self, spark):
        df = _events(spark, [("a", "2024-01-01T00:00", 1.0)])
        with pytest.raises(ValueError, match="freq"):
            gap_fill(df, ["k"], "ts", ["v"], freq="fortnight")
        with pytest.raises(ValueError, match="fill"):
            gap_fill(df, ["k"], "ts", ["v"], fill="interpolate")
        with pytest.raises(ValueError, match="key_cols"):
            gap_fill(df, [], "ts", ["v"])


class TestCharEntropy:
    def _docs(self, spark, texts):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )

    def test_known_values(self, spark):
        rows = {
            r["doc_id"]: r
            for r in char_entropy(
                self._docs(spark, ["aaaa", "abab", "abcd", "", None])
            ).collect()
        }
        assert rows[0]["entropy"] == pytest.approx(0.0, abs=1e-9)  # 1 symbol
        assert rows[1]["entropy"] == pytest.approx(1.0, abs=1e-3)  # 2 @ 50%
        assert rows[2]["entropy"] == pytest.approx(2.0, abs=1e-3)  # 4 @ 25%
        assert rows[3]["n_chars"] == 0 and rows[3]["entropy"] == 0.0
        assert rows[4]["n_chars"] == 0 and rows[4]["entropy"] == 0.0
        assert rows[2]["n_distinct_chars"] == 4

    def test_separates_prose_from_junk(self, spark):
        import random

        rng = random.Random(3)
        prose = "the quick brown fox jumps over the lazy dog " * 10
        noise = "".join(
            rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/")
            for _ in range(400)
        )
        rows = {
            r["doc_id"]: r["entropy"]
            for r in char_entropy(
                self._docs(spark, [prose, noise, "zzzzzzzz" * 50])
            ).collect()
        }
        assert rows[2] < 1.0 < rows[0] < rows[1]  # repetition < prose < noise
        assert rows[1] > 5.0

    def test_truncation_bounds_cost(self, spark):
        long = "ab" * 50_000  # 100k chars, truncated to 20k
        row = char_entropy(self._docs(spark, [long])).collect()[0]
        assert row["n_chars"] == 20_000
        assert row["entropy"] == pytest.approx(1.0, abs=1e-3)


class TestCompressionRatio:
    def _docs(self, spark, texts):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )

    def test_repetition_vs_noise(self, spark):
        import random

        rng = random.Random(11)
        noise = "".join(chr(rng.randrange(0x20, 0x2FF)) for _ in range(2000))
        rows = {
            r["doc_id"]: r
            for r in compression_ratio(
                self._docs(spark, ["spam " * 500, noise, "", None])
            ).collect()
        }
        assert rows[0]["ratio"] < 0.05  # pure repetition collapses
        assert rows[1]["ratio"] > 0.7  # noise barely compresses
        for i in (2, 3):  # empty/NULL: neutral 1.0, zero bytes
            assert rows[i]["n_bytes"] == 0 and rows[i]["ratio"] == 1.0

    def test_byte_accounting_utf8(self, spark):
        row = compression_ratio(self._docs(spark, ["héllo"])).collect()[0]
        assert row["n_bytes"] == len("héllo".encode("utf-8"))
        assert row["ratio"] == pytest.approx(
            row["n_compressed"] / row["n_bytes"], abs=1e-9
        )

    def test_string_ids_pass_through(self, spark):
        df = spark.createDataFrame(
            [("x1", "hello world")], "doc_id string, text string"
        )
        row = compression_ratio(df).collect()[0]
        assert row["doc_id"] == "x1" and row["n_bytes"] == 11

    def test_bad_level_raises(self, spark):
        with pytest.raises(ValueError, match="level"):
            compression_ratio(self._docs(spark, ["x"]), level=99)


def test_entropy_compression_agree_on_ranking(spark):
    """The two quality signals must order (repetitive, prose, noise)
    consistently — entropy ascending implies ratio ascending here."""
    import random

    rng = random.Random(5)
    texts = [
        "tick " * 300,
        "a modest amount of ordinary english text with common words " * 5,
        "".join(rng.choice("qwertyuiopasdfghjklzxcvbnm1234567890") for _ in range(800)),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    ent = {r["doc_id"]: r["entropy"] for r in char_entropy(df).collect()}
    rat = {r["doc_id"]: r["ratio"] for r in compression_ratio(df).collect()}
    order_e = sorted(ent, key=ent.get)
    order_r = sorted(rat, key=rat.get)
    assert order_e == order_r == [0, 1, 2]


class TestRollingFeatures:
    def test_partial_prefix_and_trailing_math(self, spark):
        from facolos_data_pipelines_spark.operators.timeseries import (
            rolling_features,
        )

        df = spark.createDataFrame(
            [("a", i, float(v)) for i, v in enumerate([2, 4, 6, 8])],
            "k string, i long, v double",
        )
        out = (
            rolling_features(df, ["k"], "i", "v", windows=[3], stats=("avg", "sum"))
            .orderBy("i")
            .collect()
        )
        assert [r["v_sum_3"] for r in out] == [2.0, 6.0, 12.0, 18.0]
        assert [r["v_avg_3"] for r in out] == [2.0, 3.0, 4.0, 6.0]

    def test_windows_do_not_cross_keys(self, spark):
        from facolos_data_pipelines_spark.operators.timeseries import (
            rolling_features,
        )

        df = spark.createDataFrame(
            [("a", 0, 10.0), ("a", 1, 10.0), ("b", 0, 99.0)],
            "k string, i long, v double",
        )
        rows = {
            (r["k"], r["i"]): r["v_sum_2"]
            for r in rolling_features(
                df, ["k"], "i", "v", windows=[2], stats=("sum",)
            ).collect()
        }
        assert rows[("a", 1)] == 20.0
        assert rows[("b", 0)] == 99.0  # b's frame never sees a's rows

    def test_composes_with_gap_fill_calendar_correctness(self, spark):
        """The whole point: a quiet key's 3-day average must dilute over
        the empty days, not skip them."""
        import datetime as dt

        from facolos_data_pipelines_spark.operators.timeseries import (
            gap_fill,
            rolling_features,
        )

        df = spark.createDataFrame(
            [
                ("a", dt.datetime(2024, 1, 1), 9.0),
                ("a", dt.datetime(2024, 1, 3), 3.0),  # Jan 2 is a hole
            ],
            "k string, ts timestamp, v double",
        )
        series = gap_fill(df, ["k"], "ts", ["v"], fill="zero")
        out = (
            rolling_features(series, ["k"], "bucket", "v", windows=[3], stats=("avg",))
            .orderBy("bucket")
            .collect()
        )
        # Jan 3 window = (9 + 0 + 3) / 3, NOT (9 + 3) / 2
        assert out[-1]["v_avg_3"] == pytest.approx(4.0, abs=1e-9)

    def test_bad_args_raise(self, spark):
        from facolos_data_pipelines_spark.operators.timeseries import (
            rolling_features,
        )

        df = spark.createDataFrame([("a", 0, 1.0)], "k string, i long, v double")
        with pytest.raises(ValueError, match="unknown stats"):
            rolling_features(df, ["k"], "i", "v", stats=("median",))
        with pytest.raises(ValueError, match="windows"):
            rolling_features(df, ["k"], "i", "v", windows=[0])


def test_char_entropy_arrow_expr_parity(spark):
    """The numpy bincount path must reproduce a plain-Python
    ``Counter``/``log2`` entropy per doc, rounded to 4 digits, over
    empty, NULL, repetitive, random and non-ASCII texts."""
    import math
    import random
    from collections import Counter

    rng = random.Random(9)
    texts = [
        "", None, "aaaa", "abab", "the quick brown fox " * 20,
        "".join(rng.choice("abcdefghij0123456789 .,!") for _ in range(500)),
        "héllo wörld ünïcode " * 10,
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    from facolos_data_pipelines_spark.operators.text import char_entropy

    got = {r["doc_id"]: r for r in char_entropy(df).collect()}
    assert set(got) == set(range(len(texts)))
    for i, t in enumerate(texts):
        counts = Counter(t or "")
        n = sum(counts.values())
        ent = -sum(c / n * math.log2(c / n) for c in counts.values()) if n else 0.0
        assert got[i]["n_chars"] == n
        assert got[i]["n_distinct_chars"] == len(counts)
        assert got[i]["entropy"] == pytest.approx(round(ent, 4), abs=2e-4)


class TestReviewHardening:
    def test_gap_fill_value_col_collision_raises(self, spark):
        import datetime as dt

        from facolos_data_pipelines_spark.operators.timeseries import gap_fill

        df = spark.createDataFrame(
            [("a", dt.datetime(2024, 1, 1), 1.0)],
            "k string, ts timestamp, n_rows double",
        )
        with pytest.raises(ValueError, match="collide"):
            gap_fill(df, ["k"], "ts", ["n_rows"])

    def test_rolling_duplicate_windows_raise(self, spark):
        from facolos_data_pipelines_spark.operators.timeseries import (
            rolling_features,
        )

        df = spark.createDataFrame([("a", 0, 1.0)], "k string, i long, v double")
        with pytest.raises(ValueError, match="duplicate window"):
            rolling_features(df, ["k"], "i", "v", windows=[7, 7])


def test_bm25_punctuated_query_terms_match(spark):
    """A phrase-like query term must match its constituent corpus
    tokens, not silently match nothing."""
    from facolos_data_pipelines_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [(0, "state of the art results"), (1, "unrelated text")],
        "doc_id long, text string",
    )
    rows = bm25_topk(docs, ["state-of-the-art"], k=5).collect()
    assert rows and rows[0]["doc_id"] == 0
    assert rows[0]["n_terms_matched"] == 4  # state, of, the, art
    with pytest.raises(ValueError, match="no letter/digit"):
        bm25_topk(docs, ["!!!"], k=5)


def test_embedding_outliers_empty_input_raises(spark):
    from facolos_data_pipelines_spark.operators.similarity import (
        embedding_outliers,
    )

    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty input"):
        embedding_outliers(df, dim=4)


class TestScriptProfile:
    def _docs(self, spark, texts):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )

    def test_script_fractions_and_dominant(self, spark):
        from facolos_data_pipelines_spark.operators.text import script_profile

        rows = {
            r["doc_id"]: r
            for r in script_profile(
                self._docs(
                    spark,
                    [
                        "hello plain english",          # pure latin
                        "Привет мир",                   # cyrillic
                        "你好世界",                      # han
                        "abc 123 !!!",                  # latin + digits + punct
                        "",                             # empty
                        None,                           # null
                    ],
                )
            ).collect()
        }
        assert rows[0]["dominant_script"] == "latin"
        assert rows[0]["latin_frac"] == pytest.approx(1.0, abs=1e-4)
        assert rows[1]["dominant_script"] == "cyrillic"
        assert rows[2]["dominant_script"] == "han"
        assert rows[2]["han_frac"] == pytest.approx(1.0, abs=1e-4)
        r3 = rows[3]  # 'abc123!!!' -> 9 non-space chars
        assert r3["latin_frac"] == pytest.approx(3 / 9, abs=1e-4)
        assert r3["digit_frac"] == pytest.approx(3 / 9, abs=1e-4)
        assert r3["other_frac"] == pytest.approx(3 / 9, abs=1e-4)
        for i in (4, 5):
            assert rows[i]["n_chars"] == 0
            assert rows[i]["dominant_script"] == "none"
            assert rows[i]["is_mixed"] is False

    def test_mixed_script_flag(self, spark):
        from facolos_data_pipelines_spark.operators.text import script_profile

        rows = {
            r["doc_id"]: r
            for r in script_profile(
                self._docs(
                    spark,
                    [
                        "english Привет english Привет",  # heavy mixing
                        "english text with one ё char",   # trace second script
                    ],
                )
            ).collect()
        }
        assert rows[0]["is_mixed"] is True
        assert rows[1]["is_mixed"] is False
        assert rows[1]["dominant_script"] == "latin"

    def test_tie_prefers_priority_order(self, spark):
        from facolos_data_pipelines_spark.operators.text import script_profile

        row = script_profile(self._docs(spark, ["ab яж"])).collect()[0]
        # 2 latin vs 2 cyrillic: latin wins the fixed priority order
        assert row["dominant_script"] == "latin"

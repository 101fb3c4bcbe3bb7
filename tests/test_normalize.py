"""Unit tests for the normalization layer (SURVEY §2.8 F1-F14), driven by
the edge-case corpus in FIXTURES.md §5."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from real_estate_bigdata_spark.functions import normalize as N
from real_estate_bigdata_spark.schema import LISTING_SCHEMA, RAW_LISTING_SCHEMA


def one_col(spark, value, fn):
    df = spark.createDataFrame([Row(x=value)], "x string")
    return df.select(fn(F.col("x")).alias("y")).first()["y"]


TODAY = datetime.date.today()


class TestParsePostDate:
    @pytest.mark.parametrize(
        "raw,expected",
        [
            ("hôm nay", TODAY),
            ("Hôm Nay ", TODAY),
            ("Hôm Qua", TODAY - datetime.timedelta(days=1)),
            ("24/04/2025", datetime.date(2025, 4, 24)),
            ("05/01/2024", datetime.date(2024, 1, 5)),
            ("n/a", TODAY),  # fallback (alonhadat.py:28-29)
            ("", TODAY),
        ],
    )
    def test_cases(self, spark, raw, expected):
        assert one_col(spark, raw, N.parse_post_date) == expected


class TestAddress:
    def test_split_and_strip(self, spark):
        df = spark.createDataFrame(
            [Row(d="Đường Láng, Phường Láng Thượng, Quận Đống Đa, Hà Nội")]
        )
        s, w, dt, c = N.split_address(F.col("d"))
        row = df.select(
            s.alias("s"), w.alias("w"), dt.alias("dt"), c.alias("c")
        ).first()
        assert (row.s, row.w, row.dt, row.c) == (
            "Láng",
            "Láng Thượng",
            "Đống Đa",
            "Hà Nội",
        )

    def test_no_prefix_passthrough(self, spark):
        assert (
            one_col(
                spark, "Nguyễn Trãi", lambda c: N.strip_admin_prefix(c, ("Đường ", "Phố "))
            )
            == "Nguyễn Trãi"
        )

    def test_pho_prefix(self, spark):
        assert (
            one_col(
                spark, "Phố Huế", lambda c: N.strip_admin_prefix(c, ("Đường ", "Phố "))
            )
            == "Huế"
        )

    def test_prefixes_removed_one_after_the_other(self, spark):
        """Prefixes are replaced in order, like the reference's
        in-check-then-replace chain: removing "Đường " here exposes
        "Phố ", which the next replace removes too (a single-pass
        alternation would stop at "Phố 1")."""
        assert (
            one_col(
                spark, "PhĐường ố 1", lambda c: N.strip_admin_prefix(c, ("Đường ", "Phố "))
            )
            == "1"
        )

    def test_prefix_is_literal_not_regex(self, spark):
        assert one_col(spark, "a.b a+b", lambda c: N.strip_admin_prefix(c, ("a.", "+"))) == "b ab"


class TestPrice:
    @pytest.mark.parametrize(
        "raw,value,status",
        [
            ("giá 1,5 tỷ", 1.5, "listed"),
            ("12.3 tỷ", 12.3, "listed"),
            ("800 triệu", 0.8, "listed"),
            ("Thỏa thuận", None, "negotiable"),
            ("", None, "unknown"),
            ("call me", None, "unknown"),
        ],
    )
    def test_cases(self, spark, raw, value, status):
        got_v = one_col(spark, raw, N.parse_price)
        got_s = one_col(spark, raw, N.price_status)
        if value is None:
            assert got_v is None
        else:
            assert got_v == pytest.approx(value)
        assert got_s == status


class TestAreaAndDims:
    @pytest.mark.parametrize(
        "raw,expected",
        [("45,5 m2", 45.5), ("100 m", 100.0), ("", None), ("abc", None)],
    )
    def test_area(self, spark, raw, expected):
        got = one_col(spark, raw, N.parse_area)
        assert got == (pytest.approx(expected) if expected is not None else None)

    @pytest.mark.parametrize(
        "raw,w,d",
        [
            ("Kích thước: 4,5x20m", 4.5, 20.0),
            ("---", None, None),
            ("", None, None),
            ("Kích thước: 5 x 18,5m", 5.0, 18.5),
        ],
    )
    def test_dims(self, spark, raw, w, d):
        df = spark.createDataFrame([Row(x=raw)], "x string")
        wc, dc = N.parse_dimensions(F.col("x"))
        row = df.select(wc.alias("w"), dc.alias("d")).first()
        assert row.w == (pytest.approx(w) if w is not None else None)
        assert row.d == (pytest.approx(d) if d is not None else None)


class TestSuffixesAndFlags:
    def test_road_width(self, spark):
        assert one_col(
            spark, "5m", lambda c: N.strip_suffix_to_double(c, "m")
        ) == pytest.approx(5.0)

    def test_floors(self, spark):
        assert one_col(spark, "3 lầu", lambda c: N.strip_suffix_to_int(c, " lầu")) == 3

    def test_bedrooms(self, spark):
        assert (
            one_col(
                spark, "4 phòng ngủ", lambda c: N.strip_suffix_to_int(c, " phòng ngủ")
            )
            == 4
        )

    def test_parking(self, spark):
        assert one_col(spark, "Có", N.parse_parking_flag) is True
        df = spark.createDataFrame([Row(x=None)], "x string")
        assert df.select(N.parse_parking_flag(F.col("x")).alias("y")).first().y is False

    def test_valid_district(self, spark):
        df = spark.createDataFrame(
            [("Gò Vấp",), ("  ",), ("",), (None,)], "quan_huyen string"
        )
        kept = df.filter(N.valid_district(F.col("quan_huyen"))).collect()
        assert [r.quan_huyen for r in kept] == ["Gò Vấp"]


class TestNormalizeListings:
    def test_schema_and_values(self, spark):
        raw = spark.createDataFrame(
            [
                (
                    "hôm nay",
                    "Đường Láng",
                    "Phường Láng Thượng",
                    "Quận Đống Đa",
                    "Hà Nội",
                    "Nhà đất",
                    "1,5 tỷ",
                    "45,5 m2",
                    "Kích thước: 4,5x20m",
                    "5m",
                    "3 lầu",
                    "4 phòng ngủ",
                    "Có",
                    "alonhadat",
                    None,
                    None,
                ),
                (
                    "24/04/2025",
                    "Phố Huế",
                    "Xã Tân Triều",
                    "Huyện Thanh Trì",
                    "Hà Nội",
                    "Nhà đất",
                    "Thỏa thuận",
                    "abc",
                    "---",
                    None,
                    None,
                    None,
                    None,
                    "alonhadat",
                    None,
                    None,
                ),
            ],
            RAW_LISTING_SCHEMA,
        )
        out = N.normalize_listings(raw)
        # Compare names + types; nullability legitimately differs (e.g.
        # cho_de_xe/ingest_date are provably non-null expressions).
        assert [(f.name, f.dataType) for f in out.schema.fields] == [
            (f.name, f.dataType) for f in LISTING_SCHEMA.fields
        ]
        rows = {r.quan_huyen: r for r in out.collect()}
        r1 = rows["Đống Đa"]
        assert r1.post_date == TODAY
        assert r1.duong_pho == "Láng"
        assert r1.area == pytest.approx(45.5)
        assert (r1.chieu_ngang, r1.chieu_dai) == (4.5, 20.0)
        assert r1.duong_truoc_nha == 5.0
        assert (r1.so_tang, r1.so_phong_ngu) == (3, 4)
        assert r1.cho_de_xe is True
        assert r1.price_ty == pytest.approx(1.5)
        assert r1.price_status == "listed"
        r2 = rows["Thanh Trì"]
        assert r2.post_date == datetime.date(2025, 4, 24)
        assert r2.duong_pho == "Huế"
        assert r2.phuong_xa == "Tân Triều"
        assert r2.area is None
        assert r2.chieu_ngang is None
        assert r2.price_status == "negotiable"
        assert r2.cho_de_xe is False

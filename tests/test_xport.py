"""Pure-Python SAS XPORT (TS-140) decoder tests: IBM-double round-trip,
writer→parser round-trip, encoding fallback, and the Spark read_xport /
DataSource paths end-to-end — the decoder body executes here even though
pyreadstat is absent from the container (reference converter.py:96-127)."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from scripts_toolkit_spark.io.xport import (
    decode_xport,
    ibm_to_ieee,
    ieee_to_ibm,
    parse_xport,
    write_xport,
)


@pytest.mark.parametrize(
    "x",
    [0.0, 1.0, -1.0, 0.5, 3.141592653589793, -2.718281828459045e10, 1.5e-5, 123456.789, 7.0],
)
def test_ibm_double_roundtrip_exact(x):
    assert ibm_to_ieee(ieee_to_ibm(x)) == x


def test_ibm_exponent_range_edges():
    # IBM hex float tops out near 16^63 ≈ 7.2e75: overflow must raise, not
    # silently corrupt the sign byte; extreme underflow encodes clean zero
    big_ok = 16.0**62
    assert ibm_to_ieee(ieee_to_ibm(big_ok)) == big_ok
    with pytest.raises(OverflowError):
        ieee_to_ibm(1e76)
    with pytest.raises(OverflowError):
        ieee_to_ibm(-1e76)
    assert ieee_to_ibm(1e-100) == b"\x00" * 8
    assert ibm_to_ieee(ieee_to_ibm(1e-100)) == 0.0


def test_write_xport_mixed_case_columns():
    df = pd.DataFrame({"Rssd": [10.0, 20.0], "BankName": ["a", "b"]})
    frames = parse_xport(write_xport(df, member_name="MIX"))
    got = frames["MIX"]
    assert list(got.columns) == ["RSSD", "BANKNAME"]
    assert got["RSSD"].tolist() == [10.0, 20.0]
    assert got["BANKNAME"].tolist() == ["a", "b"]


def test_ibm_missing_sentinels():
    assert math.isnan(ibm_to_ieee(b"\x2e" + b"\x00" * 7))  # '.'
    assert math.isnan(ibm_to_ieee(b"\x41" + b"\x00" * 7))  # '.A'
    assert math.isnan(ibm_to_ieee(ieee_to_ibm(float("nan"))))


def _fixture_frame() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "ID": [1.0, 2.0, 3.0, 4.0],
            "VALUE": [1.25, -17.5, float("nan"), 123456.789],
            "NAME": ["alpha", "beta", "", "delta"],
        }
    )


def test_write_parse_roundtrip():
    blob = write_xport(_fixture_frame(), member_name="QTR1")
    assert len(blob) % 80 == 0
    frames = parse_xport(blob)
    assert list(frames) == ["QTR1"]
    got = frames["QTR1"]
    assert list(got.columns) == ["ID", "VALUE", "NAME"]
    assert got["ID"].tolist() == [1.0, 2.0, 3.0, 4.0]
    assert got["VALUE"][0] == 1.25 and got["VALUE"][1] == -17.5
    assert math.isnan(got["VALUE"][2]) and got["VALUE"][3] == 123456.789
    assert got["NAME"].tolist() == ["alpha", "beta", "", "delta"]


def test_encoding_fallback_latin1():
    # 0x90 is undefined in WINDOWS-1252 → the whole-file decode fails and
    # restarts under LATIN1 (no partial yield, no silent empty output)
    df = pd.DataFrame({"ID": [1.0], "TAG": ["x\x90y"]})
    blob = write_xport(df, member_name="ENC", encoding="LATIN1")
    got = decode_xport(blob)
    assert got["TAG"].tolist() == ["x\x90y"]
    with pytest.raises(ValueError, match="undecodable"):
        decode_xport(blob, encodings=("ASCII",))


def test_not_xport_raises():
    with pytest.raises(ValueError, match="library header"):
        parse_xport(b" " * 160)


def test_read_xport_spark_e2e(spark, tmp_path):
    from scripts_toolkit_spark.io.sources import read_xport

    for q, frame in (("Q1", _fixture_frame()), ("Q2", _fixture_frame().assign(ID=[5.0, 6.0, 7.0, 8.0]))):
        (tmp_path / f"{q.lower()}.xpt").write_bytes(write_xport(frame, member_name=q))
    df = read_xport(spark, str(tmp_path / "*.xpt"))
    assert [f.name for f in df.schema.fields] == ["ID", "VALUE", "NAME"]
    rows = df.orderBy("ID").collect()
    assert len(rows) == 8
    assert [r["ID"] for r in rows] == [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]
    assert rows[0]["VALUE"] == 1.25 and rows[0]["NAME"] == "alpha"
    assert rows[2]["VALUE"] is None or math.isnan(rows[2]["VALUE"])


def test_read_xport_decodes_once(spark, tmp_path):
    """read_xport returns the decoded rows behind a materialization
    boundary: no action on the result re-runs the Python decode."""
    from scripts_toolkit_spark.io.sources import read_xport

    (tmp_path / "q1.xpt").write_bytes(write_xport(_fixture_frame(), member_name="Q1"))
    df = read_xport(spark, str(tmp_path / "*.xpt"))
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "MapInPandas" not in plan, plan
    assert df.count() == 4


def test_xport_to_eav_pipeline_e2e(spark, tmp_path):
    """The reference's full converter flow (converter.py:215-280) on REAL
    transport bytes: XPT → distributed decode → quarter extract → type
    profile → typed-EAV melt. Closes the S4 end-to-end gap without
    pyreadstat."""
    from scripts_toolkit_spark.io.sources import read_xport
    from scripts_toolkit_spark.plans.xport import wide_to_eav

    wide = pd.DataFrame(
        {
            "ENTITY": [1001.0, 1002.0],
            "DATE": [20220630.0, 20220630.0],
            "RATEX": [1.5, 2.25],  # fractional → float
            "CNTX": [3.0, 4.0],  # integral → int
            "FLAGX": [1.0, 0.0],  # {0,1} → bool
            "NOTEX": ["yes", "no"],  # char → str
        }
    )
    (tmp_path / "q.xpt").write_bytes(write_xport(wide, member_name="CALL"))
    df = read_xport(spark, str(tmp_path / "*.xpt"))
    eav = wide_to_eav(df, date_col="DATE", entity_col="entity")
    rows = {(r["rssd"], r["mdrm"]): r for r in eav.collect()}
    assert all(r["quarter"] == 20220630 for r in rows.values())
    assert rows[(1001, "ratex")]["data_type"] == "float"
    assert rows[(1001, "ratex")]["float_data"] == 1.5
    assert rows[(1002, "cntx")]["data_type"] == "int" and rows[(1002, "cntx")]["int_data"] == 4
    assert rows[(1001, "flagx")]["data_type"] == "bool" and rows[(1001, "flagx")]["bool_data"] is True
    assert rows[(1002, "notex")]["str_data"] == "no"


def test_xport_datasource_format(spark, tmp_path):
    from scripts_toolkit_spark.io.datasources import register_datasources

    register_datasources(spark)
    (tmp_path / "d.xpt").write_bytes(write_xport(_fixture_frame(), member_name="DS"))
    df = (
        spark.read.format("xport")
        .schema("ID double, VALUE double, NAME string")
        .load(str(tmp_path / "*.xpt"))
    )
    rows = df.orderBy("ID").collect()
    assert len(rows) == 4 and rows[1]["VALUE"] == -17.5 and rows[3]["NAME"] == "delta"

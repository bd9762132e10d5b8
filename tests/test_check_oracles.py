"""tools/check_oracles.py canon(): odd pandas dtypes must canonicalize (or
be left for the dtype-strict compare to judge), never crash the checker."""

import importlib.util
import os

import pandas as pd

_spec = importlib.util.spec_from_file_location(
    "check_oracles",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "check_oracles.py"),
)
check_oracles = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracles)


def test_canon_nullable_int_with_na_keeps_its_dtype():
    df = pd.DataFrame({"n": pd.array([3, None, 1], dtype="Int32")})
    out = check_oracles.canon(df)
    assert str(out["n"].dtype) == "Int32"
    assert out["n"].isna().tolist() == [True, False, False]
    assert out["n"].tolist()[1:] == [1, 3]
    # without NA the column still widens within the integer family
    full = check_oracles.canon(pd.DataFrame({"n": pd.array([2, 1], dtype="Int32")}))
    assert str(full["n"].dtype) == "int64" and full["n"].tolist() == [1, 2]


def test_canon_tz_aware_datetime_becomes_naive_ns():
    ts = pd.to_datetime(["2024-01-02 03:04:05", "2023-12-31 00:00:00"]).tz_localize("UTC")
    out = check_oracles.canon(pd.DataFrame({"t": ts.astype("datetime64[us, UTC]")}))
    assert str(out["t"].dtype) == "datetime64[ns]"
    assert out["t"].tolist() == [
        pd.Timestamp("2023-12-31 00:00:00"), pd.Timestamp("2024-01-02 03:04:05"),
    ]

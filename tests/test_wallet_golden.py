"""Golden end-to-end test: the wallet pipeline must reproduce the
reference's shipped output byte-for-value.

Input:  /root/reference/data/wallet-data.csv   (2,999 rows x 23 cols, raw)
Golden: /root/reference/data/parsed-data.csv   (2,998 rows x 34 cols)

The row-count difference is the reference's pandas ``header=1`` quirk
(SURVEY.md §1.3) — reproduced via ``skip_first_data_row=True``.
These reference files are read-only fixtures; no reference code is used.
"""

from __future__ import annotations

import math
import os

import pandas as pd
import pytest

from cyrela_etl_spark.operators.wallet import wallet_pipeline
from cyrela_etl_spark.schemas import WALLET_FEATURE_COLUMNS
from cyrela_etl_spark.sources import read_wallet_csv

RAW = "/root/reference/data/wallet-data.csv"
GOLDEN = "/root/reference/data/parsed-data.csv"

pytestmark = pytest.mark.skipif(
    not (os.path.exists(RAW) and os.path.exists(GOLDEN)),
    reason="reference golden pair (wallet-data.csv / parsed-data.csv) not present on this host",
)


@pytest.fixture(scope="module")
def result(spark) -> pd.DataFrame:
    raw = read_wallet_csv(spark, RAW, skip_first_data_row=True)
    return wallet_pipeline(raw).toPandas()


@pytest.fixture(scope="module")
def golden() -> pd.DataFrame:
    return pd.read_csv(GOLDEN)


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values(["empresa", "obra", "unidade", "saldo_devedor"]).reset_index(drop=True)


def test_shape_and_columns(result, golden):
    assert list(result.columns) == WALLET_FEATURE_COLUMNS
    assert list(golden.columns) == WALLET_FEATURE_COLUMNS
    assert len(result) == len(golden) == 2998


def test_values_match_golden(result, golden):
    r, g = _sorted(result), _sorted(golden)
    for col in WALLET_FEATURE_COLUMNS:
        rv, gv = r[col], g[col]
        if rv.dtype.kind in "fc" or gv.dtype.kind in "fc":
            rn = rv.astype(float)
            gn = gv.astype(float)
            both_nan = rn.isna() & gn.isna()
            close = pd.Series(
                [
                    (a == b) or (not math.isnan(a) and not math.isnan(b) and math.isclose(a, b, rel_tol=1e-12))
                    for a, b in zip(rn.fillna(0), gn.fillna(0))
                ]
            )
            assert (both_nan | close).all(), f"value mismatch in column {col}"
        else:
            assert rv.astype(str).fillna("").tolist() == gv.astype(str).fillna("").tolist(), (
                f"value mismatch in column {col}"
            )


def test_label_histogram(result):
    # SURVEY.md §5: golden label histogram {0:1314, 1:1188, 2:496}.
    counts = result["p_dias_atraso_category"].value_counts().to_dict()
    assert counts == {0: 1314, 1: 1188, 2: 496}

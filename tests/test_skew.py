"""Hot-key behavior: one conversation turn receiving a flood of
updates must collapse map-side and produce the single correct winner."""

from __future__ import annotations

import numpy as np
import pandas as pd

from neosync_spark.operators.dedup import lww_dedup
from neosync_spark.operators.skew import hot_keys


def _skewed_log(n_hot=100_000, n_cold=10_000):
    n = n_hot + n_cold
    lsn = np.arange(n, dtype=np.int64)
    hot = lsn < n_hot
    conv = np.where(hot, "conv-hot", "conv-" + pd.Series(lsn % 997).astype(str))
    turn = np.where(hot, 0, (lsn % 7)).astype("int32")
    ts = pd.Timestamp("2024-01-01").to_datetime64() + lsn * np.timedelta64(1, "s")
    return pd.DataFrame(
        {
            "lsn": lsn,
            "op": np.where(hot & (lsn == n_hot - 1), "update", "update"),
            "conv_id": conv,
            "turn_idx": turn,
            "text": "v" + pd.Series(lsn).astype(str),
            "ts": ts,
        }
    )


def test_hot_key_lww_correct(spark):
    log = _skewed_log()
    sdf = spark.createDataFrame(log).repartition(16)
    won = lww_dedup(sdf, ["conv_id", "turn_idx"], ["ts", "lsn"]).toPandas()
    hot_row = won[won.conv_id == "conv-hot"]
    assert len(hot_row) == 1
    assert hot_row.iloc[0]["lsn"] == 100_000 - 1  # latest update wins
    assert hot_row.iloc[0]["text"] == "v99999"


def test_hot_keys_diagnostic(spark):
    log = _skewed_log(n_hot=5000, n_cold=2000)
    sdf = spark.createDataFrame(log)
    top = hot_keys(sdf, "conv_id", top_n=1).collect()
    assert top[0]["conv_id"] == "conv-hot"
    assert top[0]["n_events"] == 5000


class TestSubsetMultiRootComposite:
    def test_composite_fk_edge(self, spark):
        from neosync_spark.operators.subset import FkEdge, semijoin_subset

        parent = spark.createDataFrame(
            [(1, "a", "keep"), (1, "b", "drop"), (2, "a", "keep")],
            ["pk1", "pk2", "tag"],
        ).filter("tag = 'keep'")
        child = spark.createDataFrame(
            [(1, "a", 10), (1, "b", 20), (2, "a", 30), (3, "c", 40)],
            ["fk1", "fk2", "v"],
        )
        out = semijoin_subset(child, parent, ("fk1", "fk2"), ("pk1", "pk2"))
        assert sorted(r["v"] for r in out.collect()) == [10, 30]

    def test_composite_arity_mismatch_rejected(self):
        import pytest as _pytest

        from neosync_spark.operators.subset import FkEdge

        with _pytest.raises(ValueError, match="arity"):
            FkEdge("c", ("a", "b"), "p", "x")

    def test_multi_root_intersection(self, spark):
        from neosync_spark.operators.subset import FkEdge, subset_tables

        cust = spark.createDataFrame(
            [(1, "BUILDING"), (2, "AUTO"), (3, "BUILDING")], ["ck", "seg"]
        )
        orders = spark.createDataFrame(
            [(10, 1, "O"), (11, 1, "F"), (12, 2, "O"), (13, 3, "O")],
            ["ok", "ck", "status"],
        )
        items = spark.createDataFrame(
            [(10, 1), (11, 2), (12, 3), (13, 4), (99, 5)], ["ok", "v"]
        )
        sub = subset_tables(
            {"customer": cust, "orders": orders, "lineitem": items},
            [
                FkEdge("orders", "ck", "customer", "ck"),
                FkEdge("lineitem", "ok", "orders", "ok"),
            ],
            roots={"customer": "seg = 'BUILDING'", "orders": "status = 'O'"},
        )
        # orders must satisfy BOTH its own predicate and the customer chain
        assert sorted(r["ok"] for r in sub["orders"].collect()) == [10, 13]
        assert sorted(r["v"] for r in sub["lineitem"].collect()) == [1, 4]

    def test_single_root_legacy_signature(self, spark):
        from neosync_spark.operators.subset import FkEdge, subset_tables

        cust = spark.createDataFrame([(1, "x"), (2, "y")], ["ck", "seg"])
        orders = spark.createDataFrame([(10, 1), (11, 2)], ["ok", "ck"])
        sub = subset_tables(
            {"customer": cust, "orders": orders},
            [FkEdge("orders", "ck", "customer", "ck")],
            "customer",
            "seg = 'x'",
        )
        assert [r["ok"] for r in sub["orders"].collect()] == [10]

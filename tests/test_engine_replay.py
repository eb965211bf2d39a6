"""End-to-end replay: engine final state == independent oracle.

The analog of the reference's workflow integration tests that verify
row-level source↔target equality
(/root/reference/internal/testutil/testdata/verify.go:107-132), with the
per-row invariant from BASELINE.json: per-turn `text` equality under
stable (conv_id, turn_idx) ordering.
"""

from __future__ import annotations

import pandas as pd
import pytest

from neosync_spark.engine import EngineConfig, ReplayEngine
from neosync_spark.functions import transformers as X
from neosync_spark.lakehouse import SnapshotTable
from neosync_spark.schema import KEY_COLS, transcript_schema
from neosync_spark.sources.changelog import ChangeLogSource
from neosync_spark.synth import SynthConfig, expected_final_state, generate_pandas

from .conftest import assert_pdf_equal

CFG = SynthConfig(n_events=10_000, n_convs=400)


@pytest.fixture(scope="module")
def log_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("log") / "changelog")
    spark.createDataFrame(generate_pandas(CFG)).write.parquet(p)
    return p


def _engine(spark, tmp_path, transforms=None, batch=2500):
    t = SnapshotTable.create(
        spark, str(tmp_path / "transcripts"), transcript_schema(),
        key_cols=KEY_COLS, n_buckets=8,
    )
    return ReplayEngine(
        spark, t, transforms=transforms,
        config=EngineConfig(batch_lsn_size=batch),
    )


def test_replay_matches_oracle_plain(spark, tmp_path, log_path):
    eng = _engine(spark, tmp_path)
    src = ChangeLogSource(spark, log_path)
    stats = eng.replay(src)
    assert stats.batches_applied == len(eng.plan_ranges(0, CFG.n_events - 1))

    got = eng.table.read().toPandas()
    exp = expected_final_state(generate_pandas(CFG))
    assert_pdf_equal(got, exp, ["conv_id", "turn_idx"])
    # per-turn text equality under stable ordering (the north-rule check)
    g = got.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    e = exp.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert g["text"].tolist() == e["text"].tolist()


def test_replay_with_transforms_matches_oracle(spark, tmp_path, log_path):
    transforms = {
        "text": X.transform_pii_text(seed=7, deny_words=("lorem",)),
        "tool": X.transform_character_scramble(seed=7, user_provided_regex=r'"q":"[^"]*"'),
    }
    eng = _engine(spark, tmp_path, transforms=transforms)
    stats = eng.replay(ChangeLogSource(spark, log_path))
    assert stats.rows_applied > 0

    got = eng.table.read().toPandas()
    exp = expected_final_state(generate_pandas(CFG), transform=eng.pandas_transform)
    assert_pdf_equal(got, exp, ["conv_id", "turn_idx"])
    # PII must actually be gone from stored text
    joined = " ".join(got["text"].dropna().tolist())
    assert "@example.com" not in joined
    assert "+1-555-" not in joined


def test_replay_row_scoped_transforms(spark, tmp_path, log_path):
    """transform_where scopes a column's transform to matching rows
    only (the masking-policy analog): user turns redacted, other roles
    byte-identical to the untransformed replay; the pandas oracle path
    re-evaluates the same SQL predicate."""
    transforms = {"text": X.transform_pii_text(seed=7)}
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), transcript_schema(),
        key_cols=KEY_COLS, n_buckets=8,
    )
    eng = ReplayEngine(
        spark, t, transforms=transforms,
        transform_where={"text": "role = 'user'"},
        config=EngineConfig(batch_lsn_size=2500),
    )
    eng.replay(ChangeLogSource(spark, log_path))
    got = eng.table.read().toPandas()
    exp = expected_final_state(generate_pandas(CFG), transform=eng.pandas_transform)
    assert_pdf_equal(got, exp, ["conv_id", "turn_idx"])

    plain = expected_final_state(generate_pandas(CFG))
    merged = got.merge(
        plain, on=["conv_id", "turn_idx"], suffixes=("", "_plain")
    )
    users = merged[merged["role"] == "user"]
    others = merged[merged["role"] != "user"]
    assert len(users) and len(others)
    # non-matching rows byte-identical to the untransformed state
    assert (
        others["text"].fillna("") == others["text_plain"].fillna("")
    ).all()
    # the synth log plants PII in every text — user rows must differ
    changed = (users["text"].fillna("") != users["text_plain"].fillna(""))
    assert changed.any()
    joined = " ".join(users["text"].dropna().tolist())
    assert "@example.com" not in joined


def test_replay_batch_size_invariance(spark, tmp_path, log_path):
    """Final state must not depend on micro-batch slicing."""
    small = _engine(spark, tmp_path / "a", batch=700)
    big = _engine(spark, tmp_path / "b", batch=6000)
    src = ChangeLogSource(spark, log_path)
    small.replay(src)
    big.replay(src)
    assert_pdf_equal(
        small.table.read().toPandas(),
        big.table.read().toPandas(),
        ["conv_id", "turn_idx"],
    )


def test_transform_applies_exactly_once_across_bootstrap_and_update(
    spark, tmp_path
):
    """The empty-target merge applies a Python-UDF transform in ONE
    unconditional pass (no duplicated aggregation branch); later
    batches with a live target must still transform only winning
    SOURCE rows. A marking transform pins single application in both
    regimes: every surviving text carries exactly one marker."""
    from pyspark.sql import functions as F

    def mark(values: pd.Series, keys: pd.Series) -> pd.Series:
        return values.map(lambda s: None if s is None else s + "|T")

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), transcript_schema(),
        key_cols=KEY_COLS, n_buckets=4,
    )
    eng = ReplayEngine(
        spark, t, transforms={"text": mark},
        config=EngineConfig(batch_lsn_size=100, lineage=False,
                            prune_buckets=False),
    )

    def ev(rows):
        return spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts double, lsn long, op string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    # batch 1: bootstrap into an EMPTY table (the fast path)
    eng.apply_batch(
        ev([(f"c-{i}", 0, "user", f"a{i}", None, 1.0, i, "insert")
            for i in range(20)]),
        (0, 20),
    )
    got1 = {r["conv_id"]: r["text"] for r in t.read().collect()}
    assert got1 == {f"c-{i}": f"a{i}|T" for i in range(20)}

    # batch 2: live target — updates transform once, survivors NOT
    # re-transformed (the split/conditional path)
    eng.apply_batch(
        ev([(f"c-{i}", 0, "user", f"b{i}", None, 2.0, 100 + i, "update")
            for i in range(5)]),
        (100, 120),
    )
    got2 = {r["conv_id"]: r["text"] for r in t.read().collect()}
    for i in range(5):
        assert got2[f"c-{i}"] == f"b{i}|T"
    for i in range(5, 20):
        assert got2[f"c-{i}"] == f"a{i}|T", "target row re-transformed"


def test_conditional_udf_transform_single_pass(spark, tmp_path, log_path):
    """transform_batch(only_where=...) applies Python-UDF transformers
    in ONE pass over the merge aggregate (NULL-masked UDF input +
    conditional projection) instead of asking the caller to
    filter-split — and the output is row-identical to the filter-split
    construction it replaced."""
    from pyspark.sql import functions as F

    transforms = {
        "text": X.transform_pii_text(seed=7),
        "tool": X.transform_character_scramble(
            seed=7, user_provided_regex=r'"q":"[^"]*"'
        ),
    }
    eng = _engine(spark, tmp_path, transforms=transforms)
    won = (
        ChangeLogSource(spark, log_path)
        .slice(0, CFG.n_events)
        .withColumn("_src", (F.col("lsn") % 2 == 0).cast("int"))
    )
    cond = eng.transform_batch(won, only_where=F.col("_src") == 1)
    # the single-pass conditional plan must exist for UDF transformers
    # (the old contract returned None and forced a second aggregation
    # pass per micro-batch)
    assert cond is not None
    split = eng.transform_batch(won.filter(F.col("_src") == 1)).unionByName(
        won.filter(F.col("_src") != 1)
    )
    key = ["conv_id", "turn_idx", "lsn"]
    assert_pdf_equal(cond.toPandas(), split.toPandas(), key)

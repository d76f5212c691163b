"""Driver-contract smoke + oracle-differential tests at sf0.001."""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

from __spark_entry__ import entry, oracle_sql, queries
from glamira_end_to_end_data_pipeline_spark.testing import (
    compare_frames,
    duckdb_oracle,
)
from tests.conftest import SF_SMALL


def test_entry_smoke(spark):
    df = entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {
        "event_date",
        "event_type",
        "n_events",
        "n_users",
        "total_value",
    }


def test_every_query_has_oracle_or_is_declared():
    qs, os_ = queries(), oracle_sql()
    assert set(os_) <= set(qs), "oracle without query"
    # every oracle-less query must be deliberate (documented non-SQL ops)
    for name in set(qs) - set(os_):
        assert qs[name].__doc__ and "no oracle" in qs[name].__doc__.lower(), name


def test_registry_is_in_registration_order():
    """Both dicts iterate in registration order: the first module
    imported by ``plans`` registers the flagship first, and the oracle
    dict follows the query dict's order."""
    qs, os_ = queries(), oracle_sql()
    assert list(qs)[0] == "flagship_daily_events"
    assert list(os_) == [n for n in qs if n in os_]


def test_readme_entry_count_matches_registry():
    """The layout section of README states the registry's size."""
    import re

    readme = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "README.md"
    )
    with open(readme) as fh:
        counts = re.findall(r"\((\d+) entries, every one with a", fh.read())
    assert counts == [str(len(queries()))]


def test_check_oracle_rejects_unknown_names(monkeypatch, capsys):
    """A misspelled entry name fails the self-check before any Spark
    work instead of being skipped into a clean ``0 failures`` run."""
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "check_oracle.py",
    )
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    check_oracle = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check_oracle)
    argv = ["check_oracle.py", SF_SMALL, "flagship_daily_events", "no_such_entry"]
    monkeypatch.setattr(sys, "argv", argv)
    assert check_oracle.main() == 2
    err = capsys.readouterr().err
    assert "no_such_entry" in err and "flagship_daily_events" not in err


@pytest.mark.parametrize("name", sorted(oracle_sql()))
def test_oracle_has_no_hugeint_columns(duck, name):
    """Driver-hash type parity lint. DuckDB's sum() over INT/BIGINT
    returns HUGEINT (int128); Spark's sum() returns BIGINT. The driver
    hashes VALUES WITH TYPES, so an uncast oracle sum diverges on type
    even when every value matches — this exact bug cost two r8 reds
    (sample_mix_stratified, text_seq_pack_split). Relation type
    inference is plan-only (no execution), so this lints all oracles
    cheaply. House style: CAST(sum(...) AS BIGINT) in the oracle."""
    rel = duck.sql(oracle_sql()[name])
    bad = [
        (c, str(t))
        for c, t in zip(rel.columns, rel.types)
        if str(t).upper() in {"HUGEINT", "UHUGEINT", "INT128", "UINT128"}
    ]
    assert not bad, (
        f"{name}: oracle returns int128 column(s) {bad}; "
        "CAST(sum(...) AS BIGINT) to match Spark's type hash"
    )


@pytest.mark.parametrize("name", sorted(queries()))
def test_query_matches_oracle(spark, duck, name):
    qs, os_ = queries(), oracle_sql()
    sp = qs[name](spark, SF_SMALL).toPandas()
    if name not in os_:
        assert len(sp) >= 0  # rows-only check, mirrors driver's weak gate
        return
    du = duckdb_oracle(duck, os_[name])
    r = compare_frames(name, sp, du)
    assert r.ok, f"{name}: {r.detail} (spark={r.spark_rows}, oracle={r.oracle_rows})"

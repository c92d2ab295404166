"""Unit checks for tools/ab.py, the interleaved A/B runner: spec parsing,
``patch:`` rebinding and its restore, the summary arithmetic, the
changed-results failure, and one small Spark run that must leave the
session conf as it found it."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import ab  # noqa: E402


def test_parse_spec_kinds():
    assert ab.parse_spec("conf:spark.sql.shuffle.partitions=8") == ab.Variant(
        "conf:spark.sql.shuffle.partitions=8", "conf", "spark.sql.shuffle.partitions", "8"
    )
    assert ab.parse_spec("env:A=b=c") == ab.Variant("env:A=b=c", "env", "A", "b=c")
    assert ab.parse_spec("shipped") == ab.Variant("shipped", "shipped")
    lit = ab.parse_spec("patch:pkg.mod.FLAG=False")
    assert (lit.kind, lit.key, lit.value) == ("patch", "pkg.mod.FLAG", False)
    ident = ab.parse_spec("patch:pkg.mod.fn=identity")
    assert ident.value("df", 3, k=1) == "df"


@pytest.mark.parametrize(
    "spec",
    ["", " ", "a=b", "conf:KEY", "conf:=8", "env:", "bogus:a=b", "patch:noattr=identity", "patch:m.a=not_a_literal("],
)
def test_parse_spec_rejects_malformed(spec):
    with pytest.raises(ValueError):
        ab.parse_spec(spec)


def test_patch_rebinds_every_module_binding_and_restores_on_raise():
    import cyrela_etl_spark.queries.round8q as round8q
    import cyrela_etl_spark.queries.textq as textq
    import cyrela_etl_spark.queries.vectorq as vectorq
    import cyrela_etl_spark.queries.walletq as walletq
    import cyrela_etl_spark.sources.parquet as pq_src

    modules = [pq_src, textq, round8q, vectorq, walletq]
    real = pq_src.fan_out
    assert all(m.fan_out is real for m in modules)
    v = ab.parse_spec("patch:cyrela_etl_spark.sources.parquet.fan_out=identity")
    with pytest.raises(RuntimeError):
        with ab.applied(v):
            assert all(m.fan_out is v.value for m in modules)
            raise RuntimeError("timed call failed")
    assert all(m.fan_out is real for m in modules)


def test_patch_literal_touches_only_that_name():
    import cyrela_etl_spark.operators.dedup as dedup

    assert dedup._LOOP_ROUNDS_DISABLE_AQE is True
    others = {n: m.__dict__.copy() for n, m in sys.modules.items() if n.startswith("cyrela_etl_spark.")}
    with ab.applied(ab.parse_spec("patch:cyrela_etl_spark.operators.dedup._LOOP_ROUNDS_DISABLE_AQE=False")):
        assert dedup._LOOP_ROUNDS_DISABLE_AQE is False
        for n, before in others.items():
            changed = {k for k, val in vars(sys.modules[n]).items() if before.get(k, val) is not val}
            assert changed <= {"_LOOP_ROUNDS_DISABLE_AQE"}, (n, changed)
    assert dedup._LOOP_ROUNDS_DISABLE_AQE is True


def test_summarize_median_quartiles_and_wins():
    out = ab.summarize({"a": [1.0, 2.0, 3.0], "b": [2.0, 2.0, 1.0], "c": [5.0, 5.0, 5.0]})
    assert out["a"] == {
        "median": 2.0, "q1": 1.5, "q3": 2.5, "samples": [1.0, 2.0, 3.0], "wins": {"b": 1, "c": 3},
    }
    # the rep-2 tie (2.0 vs 2.0) counts for neither side
    assert out["b"]["wins"] == {"a": 1, "c": 3}
    assert out["c"]["wins"] == {"a": 0, "b": 0}
    one = ab.summarize({"x": [0.25], "y": [0.5]})
    assert (one["x"]["median"], one["x"]["q1"], one["x"]["q3"], one["x"]["wins"]) == (0.25, 0.25, 0.25, {"y": 1})


def _env_measure(seen: list, sig_of):
    def measure():
        val = os.environ["AB_UNIT_X"]
        seen.append(val)
        return 0.1, sig_of(val)

    return measure


def test_run_ab_alternates_and_restores_env(monkeypatch):
    monkeypatch.delenv("AB_UNIT_X", raising=False)
    seen: list = []
    variants = [ab.parse_spec("env:AB_UNIT_X=1"), ab.parse_spec("env:AB_UNIT_X=2")]
    res = ab.run_ab(_env_measure(seen, lambda v: (7, 42)), variants, reps=3)
    # one warm-up each, then the first slot alternates rep by rep
    assert seen == ["1", "2", "1", "2", "2", "1", "1", "2"]
    assert res["identical"] and res["results"] == [[7, 42]]
    assert res["variants"]["env:AB_UNIT_X=1"]["samples"] == [0.1, 0.1, 0.1]
    assert "AB_UNIT_X" not in os.environ


def test_run_ab_flags_a_variant_that_changes_results(monkeypatch):
    monkeypatch.setenv("AB_UNIT_X", "orig")
    variants = [ab.parse_spec("env:AB_UNIT_X=1"), ab.parse_spec("env:AB_UNIT_X=2")]
    res = ab.run_ab(_env_measure([], lambda v: (7, int(v))), variants, reps=1)
    assert not res["identical"]
    assert res["results"] == [[7, 1], [7, 2]]
    assert os.environ["AB_UNIT_X"] == "orig"


def test_main_rejects_fewer_than_two_variants():
    with pytest.raises(SystemExit) as e:
        ab.main(["q01_pricing_summary", "shipped"])
    assert e.value.code == 2


def test_spark_conf_variants_keep_checksums_and_session_conf(spark, sf_dir):
    from cyrela_etl_spark.queries import load_all

    fn = load_all()["q01_pricing_summary"][0]
    before = dict(spark.conf.getAll)
    variants = [
        ab.parse_spec("conf:spark.sql.shuffle.partitions=3"),
        ab.parse_spec("conf:spark.sql.shuffle.partitions=11"),
    ]
    res = ab.run_ab(lambda: ab.timed(spark, fn, sf_dir), variants, reps=1, spark=spark)
    assert res["identical"], res["results"]
    assert res["results"][0][0] > 0
    assert dict(spark.conf.getAll) == before
    # a conf the session never set is unset again, not pinned to its default
    unset = "spark.sql.adaptive.skewJoin.skewedPartitionFactor"
    assert unset not in before
    with ab.applied(ab.parse_spec(f"conf:{unset}=9"), spark):
        assert spark.conf.get(unset) == "9"
    assert dict(spark.conf.getAll) == before

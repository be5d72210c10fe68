"""tools/ab.py: each variant's conf and patches are live during exactly
its own runs, and everything is restored afterwards."""

from __future__ import annotations

import pytest

import bench
from tools import ab

PARTS = "spark.sql.shuffle.partitions"
PROBE = "spark.graft.ab.probe"  # unset before the run: restore must unset it


def test_run_applies_each_variant_only_to_its_own_reps(spark, sf_dir, monkeypatch):
    from data_chunk_compaction_in_duckdb_spark.queries import relational

    orig_load = relational.load_table
    orig_parts = spark.conf.get(PARTS)
    assert spark.conf.get(PROBE, None) is None
    spy_calls = []

    def spy(spark_, sf, name):
        spy_calls.append(name)
        return orig_load(spark_, sf, name)

    seen = []
    orig_timed = bench.timed_run

    def recording_timed_run(spark_, builder, sf):
        seen.append(
            (
                spark_.conf.get(PARTS),
                spark_.conf.get(PROBE, None),
                relational.load_table is spy,
            )
        )
        return orig_timed(spark_, builder, sf)

    monkeypatch.setattr(bench, "timed_run", recording_timed_run)
    new_parts = str(int(orig_parts) + 1)
    variants = {
        "conf": ab.Variant(conf={PARTS: new_parts, PROBE: "on"}),
        "patch": ab.Variant(patches={f"{relational.__name__}.load_table": spy}),
    }
    out = ab.run(spark, ["tpch_q6_forecast_revenue"], variants, 1, sf_dir)

    # one warm-up + one rep per variant, each under its own state only
    assert sorted(seen) == sorted(
        [(orig_parts, None, False)] * 2  # base
        + [(new_parts, "on", False)] * 2  # conf
        + [(orig_parts, None, True)] * 2  # patch
    )
    assert spy_calls  # the patch reached the query's table loads
    assert relational.load_table is orig_load
    assert spark.conf.get(PARTS) == orig_parts
    assert spark.conf.get(PROBE, None) is None
    rec = out["tpch_q6_forecast_revenue"]
    assert set(rec["variants"]) == {"base", "conf", "patch"}
    assert all(s["min"] <= s["med"] <= s["max"] for s in rec["variants"].values())


def test_parse_variant():
    name, v = ab.parse_variant("shj=conf:a.b=false,c.d=64m")
    assert (name, v.conf, v.patches) == ("shj", {"a.b": "false", "c.d": "64m"}, {})
    name, v = ab.parse_variant("auto_compact")
    assert name == "auto_compact" and not v.conf
    assert v.patches and set(v.patches.values()) == {ab._auto_compact_load_table}
    for bad in ("nope", "x=a=1", "x=conf:novalue"):
        with pytest.raises(ValueError):
            ab.parse_variant(bad)

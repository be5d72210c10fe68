#!/usr/bin/env python
"""Interleaved same-process A/B of registry queries under named variants.

A variant is a runtime Spark-conf dict, a set of ``module.attr`` ->
replacement patches, or both.  ``base`` (no conf, no patch) always runs
as the control.  Everything runs in ONE session, so host drift hits every
variant alike:

  - each variant gets one warm-up per query (JIT, Python workers,
    broadcast and page-cache warmth);
  - reps are interleaved, and the variant that runs first rotates from
    rep to rep;
  - a variant's conf and patches are applied before each of its reps
    and restored in ``finally``, and the cache is cleared after every
    rep, so no variant inherits state from another;
  - every rep is timed by ``bench.timed_run``, the headline bench's own
    loop (builder, then the noop sink).

One JSON line per query: median, quartiles, min and max per variant, and
the single-core spin calibration taken before the query's reps (a high
value marks a contended window).

Usage (SF from $SPARK_GRAFT_SF_DIR, as bench.py; queries default to
bench.py's HEADLINE):

  python tools/ab.py [--reps N] [--variant NAME[=conf:k=v,...]] ... [QUERY ...]

  --variant auto_compact          every queries.* module's load_table
                                  wrapped in AutoCompactFrame, i.e.
                                  Engine(auto_compact=True) applied to
                                  the whole registry surface
  --variant shj=conf:spark.sql.join.preferSortMergeJoin=false
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import pkgutil
import statistics
import sys
from typing import Any, NamedTuple

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


class Variant(NamedTuple):
    conf: dict[str, str] = {}
    patches: dict[str, Any] = {}


def auto_compact_patches() -> dict[str, Any]:
    """The ``auto_compact`` variant: Engine(auto_compact=True) applied to
    the registry.  Query modules import ``load_table`` by name, so the
    wrap swaps each queries.* module's global, not the catalog
    function."""
    from data_chunk_compaction_in_duckdb_spark import queries as qpkg

    patches = {}
    for m in pkgutil.iter_modules(qpkg.__path__):
        mod = importlib.import_module(f"{qpkg.__name__}.{m.name}")
        if hasattr(mod, "load_table"):
            patches[f"{mod.__name__}.load_table"] = _auto_compact_load_table
    return patches


def _auto_compact_load_table(spark, sf_dir, name):
    from data_chunk_compaction_in_duckdb_spark.catalog import load_table
    from data_chunk_compaction_in_duckdb_spark.compaction import (
        AutoCompactFrame,
    )

    return AutoCompactFrame(load_table(spark, sf_dir, name))


def parse_variant(spec: str) -> tuple[str, Variant]:
    """``NAME=conf:k=v,...``; the name ``auto_compact`` also brings its
    patches, so it may stand alone."""
    name, _, rest = spec.partition("=")
    conf = {}
    if rest:
        if not rest.startswith("conf:"):
            raise ValueError(f"variant {spec!r}: expected NAME=conf:k=v,...")
        for kv in rest[len("conf:"):].split(","):
            k, eq, v = kv.partition("=")
            if not (k and eq):
                raise ValueError(f"variant {spec!r}: bad conf entry {kv!r}")
            conf[k] = v
    patches = auto_compact_patches() if name == "auto_compact" else {}
    if not (conf or patches):
        raise ValueError(
            f"variant {name!r} sets no conf and is not the built-in "
            "auto_compact"
        )
    return name, Variant(conf, patches)


def _time_under(spark, variant: Variant, builder, sf_dir: str) -> float:
    saved_conf = {k: spark.conf.get(k, None) for k in variant.conf}
    saved_attrs = []
    try:
        for k, v in variant.conf.items():
            spark.conf.set(k, v)
        for path, value in variant.patches.items():
            mod_name, attr = path.rsplit(".", 1)
            mod = importlib.import_module(mod_name)
            saved_attrs.append((mod, attr, getattr(mod, attr)))
            setattr(mod, attr, value)
        return bench.timed_run(spark, builder, sf_dir)
    finally:
        for mod, attr, value in reversed(saved_attrs):
            setattr(mod, attr, value)
        for k, v in saved_conf.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.catalog.clearCache()


def _summary(ts: list[float]) -> dict[str, float]:
    if len(ts) > 1:
        q1, _, q3 = statistics.quantiles(ts, n=4, method="inclusive")
    else:
        q1 = q3 = ts[0]
    return {
        "med": round(statistics.median(ts), 4),
        "q1": round(q1, 4),
        "q3": round(q3, 4),
        "min": round(min(ts), 4),
        "max": round(max(ts), 4),
    }


def run(
    spark,
    queries: list[str],
    variants: dict[str, Variant],
    reps: int,
    sf_dir: str,
) -> dict[str, dict]:
    """Time each query under ``base`` and every variant; print and return
    one record per query."""
    from data_chunk_compaction_in_duckdb_spark.queries import REGISTRY

    if "base" in variants:
        raise ValueError("'base' is the control and always runs")
    variants = {"base": Variant(), **variants}
    order = list(variants)
    out = {}
    for name in queries:
        builder = REGISTRY[name].builder
        for tag in order:
            _time_under(spark, variants[tag], builder, sf_dir)
        spin = bench._spin_calibration()
        times: dict[str, list[float]] = {tag: [] for tag in order}
        for rep in range(reps):
            k = rep % len(order)
            for tag in order[k:] + order[:k]:
                times[tag].append(
                    _time_under(spark, variants[tag], builder, sf_dir)
                )
        out[name] = {
            "query": name,
            "reps": reps,
            "spin_calib_sec": round(spin, 4),
            "variants": {tag: _summary(ts) for tag, ts in times.items()},
        }
        print(json.dumps(out[name]), flush=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="*", help="default: bench.py HEADLINE")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument(
        "--variant",
        action="append",
        default=[],
        metavar="NAME[=conf:k=v,...]",
    )
    args = ap.parse_args()
    try:
        variants = dict(parse_variant(v) for v in args.variant)
    except ValueError as e:
        ap.error(str(e))
    if not variants:
        ap.error("give at least one --variant to compare against base")

    from data_chunk_compaction_in_duckdb_spark.session import get_spark

    spark = get_spark(app_name="ab")
    try:
        run(
            spark,
            args.queries or list(bench.HEADLINE),
            variants,
            args.reps,
            bench.default_sf_dir(),
        )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()

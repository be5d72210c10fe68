#!/usr/bin/env python
"""Headline benchmark harness.

Runs the engine's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], 1 warm-up + 3 timed
runs each (the reference's warm-up convention, imdb_main.cpp:70-76 /
vector_compaction.cpp:96), forcing full execution through the noop sink.
Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: median_sec, ...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "microbench_chained_joins",
    "job_like_deep_join",
    "agg_distinct_multi",
    "win_running_totals",
    "topk_per_group",
    "join_asof_backward",
    "events_sessionization",
    "compaction_filter_join_agg",
    "dedup_minhash_lsh_pairs",
    "sim_topk_bruteforce",
    "text_tokens_quality_fingerprint",
    # round-2 corpus additions
    "job_like_9way_snowflake",
    "job_like_min_agg_star",
    "tpcds_q36_margin_rollup_rank",
    "tpcds_q23_frequent_items",
    "tpcds_q78_channel_ratio",
    "win_frame_range_value",
    "text_chunk_documents",
    "quality_filter_source_quantile",
    "contamination_ngram_overlap",
    "embed_quantize_int8",
    "events_gap_islands",
    "tpcds_q70_rank_pruned_rollup",
    "tpcds_q72_late_fulfillment",
    "job_like_four_dim_roles",
    # late round-2 additions: the completed-DS tranche, a JOB d-variant,
    # and the oracle-replayable bucketed semantic dedup
    "tpcds_q86_geo_rollup_rank",
    "tpcds_q99_latency_month_matrix",
    "job_like_deep_join_d",
    "dedup_semantic_ivf_pairs",
    # this session's corpus additions: one representative per new suite
    "clickbench_q10",        # ClickBench multi-aggregate per region
    "h2o_group_q10",         # H2O.ai six-key sum+count
    "tb_semaphoreneighbor",  # Train Benchmark 7-join neighbor pattern
    "ldbc_bi10",             # LDBC recursive friend BFS + tag rollup
    "dedup_repeated_ngram_spans",  # exact-substring dedup detection
    # round-3 additions: official partsupp TPC-H text + the now
    # oracle-replayed ANN scale paths
    "tpch_q2_official",      # derived partsupp, correlated-MIN
    "tpch_q11_official",     # partsupp inventory value + HAVING total
    "sim_ann_ivf_topk",      # IVF partition-prune ANN
    "sim_ann_pq_adc_topk",   # PQ/ADC compressed-scan ANN
]

REPS = 3
# sub-second medians are dominated by scheduling noise at sf0.1 (the r3
# bench recorded 11 queries ">1.3x r2" that were all 0.1-0.3 s absolute
# deltas); extra reps tighten the median and the recorded spread lets
# the next round separate noise from regression without re-running
EXTRA_REPS_BELOW_SEC = 4


def _spin_calibration() -> float:
    """Noise sentinel (r10, additive key only): wall seconds for a fixed
    single-core integer spin.  The sandbox shares a host — the same
    binary has measured 20-55 s total across runs — so recording how
    fast ONE core runs pure Python at bench time lets a reader discount
    interference-contaminated windows from the artifact itself (a quiet
    box measures ~constant; a contended one inflates this the same way
    it inflates the query timings)."""
    t0 = time.monotonic()
    acc = 0
    for i in range(2_000_000):
        acc += i ^ (i >> 3)
    return time.monotonic() - t0


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def timed_run(spark, builder, sf_dir: str) -> float:
    """Wall seconds to build one query and execute it in full through the
    noop sink.  An auto-compact frame is unwrapped first, which settles
    its pending compaction inside the timed action."""
    from data_chunk_compaction_in_duckdb_spark.compaction import unwrap

    t0 = time.monotonic()
    df = unwrap(builder(spark, sf_dir))
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def main() -> None:
    sf_dir = default_sf_dir()
    m = re.search(r"sf([0-9.]+)", os.path.basename(os.path.normpath(sf_dir)))
    sf = float(m.group(1)) if m else None

    from data_chunk_compaction_in_duckdb_spark.queries import REGISTRY
    from data_chunk_compaction_in_duckdb_spark.session import get_spark

    spark = get_spark(app_name="bench")
    try:
        spin_start = _spin_calibration()
        results: dict[str, float] = {}
        spread: dict[str, dict] = {}
        for name in HEADLINE:
            builder = REGISTRY[name].builder
            timed_run(spark, builder, sf_dir)  # warm-up (JIT, broadcast, page cache)
            times = [timed_run(spark, builder, sf_dir) for _ in range(REPS)]
            if statistics.median(times) < 1.0:
                times += [
                    timed_run(spark, builder, sf_dir)
                    for _ in range(EXTRA_REPS_BELOW_SEC)
                ]
            results[name] = round(statistics.median(times), 4)
            spread[name] = {
                "min": round(min(times), 4),
                "max": round(max(times), 4),
                "reps": len(times),
            }
        total = round(sum(results.values()), 4)
        try:
            loadavg = [round(x, 2) for x in os.getloadavg()]
        except OSError:  # pragma: no cover - platform without getloadavg
            loadavg = None
        print(
            json.dumps(
                {
                    "metric": "headline_queries_total_wall_sec",
                    "value": total,
                    "unit": "sec",
                    "queries": results,
                    "spread": spread,
                    "sf": sf,
                    # noise sentinel (additive keys): single-core spin
                    # calibration at bench start/end + 1/5/15-min load
                    # averages at the end — lets a reader tell a quiet
                    # window from a contended one without re-running
                    "spin_calib_sec": {
                        "start": round(spin_start, 4),
                        "end": round(_spin_calibration(), 4),
                    },
                    "loadavg": loadavg,
                }
            )
        )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()

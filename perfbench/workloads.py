"""The benchmark's two workloads and their output checks.

Each workload is one closed-loop client: ops run one after another on a
single SparkSession.  A pass runs every op of the workload once, in an
order drawn from the workload seed.

- ``registry``: registry headliners executed through the noop sink:
  relational queries (builders, Catalyst, scan/join/agg execution) and
  Python/Arrow kernels (Python workers, Arrow transfer, `fan_out`).
- ``compaction_ingest``: selective filter and join outputs plus one dense
  input go through `compaction.compact` under every strategy and through
  an auto-compacting `Engine`; each result is aggregated and appended to a
  `storage.VersionedTable`.  The last op of each pass deletes the appended
  rows and vacuums, returning the table to its base rows and files.

Registry ops are checked against the DuckDB oracle in the first warm-up
pass.  Compaction ops are checked in every pass: every strategy's
aggregate must equal strategy ``none``'s, the sink must hold exactly the
appended batch rows, and the reset must restore the base state.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_chunk_compaction_in_duckdb_spark.catalog import load_table
from data_chunk_compaction_in_duckdb_spark.compaction import compact
from data_chunk_compaction_in_duckdb_spark.compaction.auto import unwrap
from data_chunk_compaction_in_duckdb_spark.compaction.compact import STRATEGIES
from data_chunk_compaction_in_duckdb_spark.engine import Engine
from data_chunk_compaction_in_duckdb_spark.queries import REGISTRY
from data_chunk_compaction_in_duckdb_spark.storage import VersionedTable

from spans import Tracer

# The registry workload's ops: relational headliners (builders, Catalyst,
# scan/join/agg execution), including a builder that launches jobs before
# the action (tpch_q2_official), and Python/Arrow kernel headliners (exact
# and IVF top-k, MinHash dedup).  On two cores at sf0.1 the kernels take
# 0.45-0.6 s, tpch_q1 and q2 0.75-1.0 s, and the deep join and MinHash
# 1.2-1.5 s: three groups with a third of the samples each, so the median
# op lies inside the middle group and the 90th percentile inside the top
# group, not on the edge of a gap between groups, where a quantile moves
# with host speed.  One steady pass takes about 7 s; the list is as long
# as the run budget allows.
REGISTRY_OPS = (
    "tpch_q1_pricing_summary",
    "tpch_q2_official",
    "job_like_deep_join",
    "sim_topk_bruteforce",
    "sim_ann_ivf_topk",
    "dedup_minhash_lsh_pairs",
)

# compaction_ingest: rows per partition compact() aims for, the value the
# engine's own callers use (queries/compaction_q.py,
# tools/strategy_matrix_bench.py), and the sink's base content (one file).
TARGET_ROWS = 100_000
BASE_ROWS = 1_000


@dataclass
class Ctx:
    spark: SparkSession
    sf_dir: str
    tracer: Tracer
    work_dir: str
    engine: Engine | None = None
    sink: VersionedTable | None = None
    base_files: int = 0


@dataclass
class Op:
    """One op of a pass: ``run(ctx, check)`` raises if the op fails;
    ``check`` asks it to keep its output for the pass's output check.  It
    may return a probe, which the runner calls after the op's timing and
    counters are closed, so that what the probe executes is not counted."""

    name: str
    run: Callable[[Ctx, bool], Callable[[], None] | None]
    # Check run before the op, outside its timing; returns an error or "".
    pre: Callable[[Ctx], str] | None = None


def run_action(ctx: Ctx, df: DataFrame, collect: bool):
    """Execute ``df`` (noop sink, or collect when its rows are checked)."""
    t = ctx.tracer
    t.catalyst_phases(df)
    with t.span("exec.action"), t.jobs(ctx.spark, "exec.jobs"):
        if collect:
            return df.collect()
        df.write.format("noop").mode("overwrite").save()
        return None


# ------------------------------------------------------------ registry


class RegistryWorkload:
    """registry: registry builders plus one action each."""

    def __init__(self, names: tuple[str, ...], oracle: dict) -> None:
        self.names = names
        self.oracle = oracle
        self._collected: dict[str, tuple[list[str], list]] = {}

    def fixtures(self, ctx: Ctx) -> None:
        pass

    def teardown(self, ctx: Ctx) -> None:
        pass

    def pass_ops(self, rng: random.Random, pass_no: int) -> list[Op]:
        names = list(self.names)
        rng.shuffle(names)
        return [Op(n, self._run(n)) for n in names]

    def end_pass(self, ctx: Ctx) -> list[tuple[str, str]]:
        """Compare the rows collected in a checking pass with the oracle
        (row count, sorted columns, sorted-column hash)."""
        from driver_sim import _hash

        failures = []
        for name, (cols, rows) in self._collected.items():
            got = {
                "rows": len(rows),
                "cols": sorted(cols),
                "hash": _hash(cols, [tuple(r) for r in rows]),
            }
            if got != self.oracle[name]:
                failures.append((name, f"oracle mismatch: got {got}, want {self.oracle[name]}"))
        self._collected = {}
        return failures

    def _run(self, name: str):
        def run(ctx: Ctx, check: bool) -> None:
            t = ctx.tracer
            with t.span("queries.builder"), t.jobs(ctx.spark, "queries.builder_jobs"):
                df = REGISTRY[name].builder(ctx.spark, ctx.sf_dir)
            rows = run_action(ctx, df, collect=check)
            if check:
                self._collected[name] = (df.columns, rows)

        return run


# ---------------------------------------------------- compaction_ingest


def _filter_input(table, p: dict):
    """Selective filter over lineitem (about 1% of rows)."""
    return table("lineitem").filter(
        (F.col("l_quantity") <= 3) & (F.col("l_orderkey") % 7 == p["slice"])
    ).select(F.col("l_orderkey").alias("k"), F.col("l_extendedprice").alias("v"))


def _join_input(table, p: dict):
    """Filtered lineitem joined to one order priority of orders."""
    li = table("lineitem").filter(
        (F.col("l_quantity") <= 10) & (F.col("l_orderkey") % 7 == p["slice"])
    )
    od = table("orders").filter(F.col("o_orderpriority") == p["priority"])
    return li.join(od, F.col("l_orderkey") == F.col("o_orderkey")).select(
        F.col("o_orderkey").alias("k"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("v"),
    )


def _dense_input(table, p: dict):
    """All of orders: already compact, so compaction should pass through."""
    return table("orders").select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("v")
    )


INPUTS = {"filter": _filter_input, "join": _join_input, "dense": _dense_input}
MODES = (*STRATEGIES, "auto")  # "auto": Engine(auto_compact=True)
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _summary(df: DataFrame) -> DataFrame:
    """Exact, order-independent summary of a batch (integer cents)."""
    return df.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        F.sum(F.round(F.col("v") * 100).cast("bigint")).alias("sum_cents"),
    )


class CompactionIngestWorkload:
    """compaction_ingest: compact every input under every strategy and an
    auto-compact chain, aggregate, append; reset the sink once a pass."""

    def __init__(self) -> None:
        self._summaries: dict[tuple[str, str], tuple] = {}
        self._appended = 0
        self._params: dict = {}

    def fixtures(self, ctx: Ctx) -> None:
        ctx.engine = Engine(
            ctx.spark, ctx.sf_dir, auto_compact=True, compact_target_rows=TARGET_ROWS
        )
        path = os.path.join(ctx.work_dir, "sink")
        shutil.rmtree(path, ignore_errors=True)
        base = ctx.spark.range(0, BASE_ROWS, 1, numPartitions=1).select(
            F.col("id").alias("k"),
            (F.col("id") * 0.5).alias("v"),
            F.lit(-1).alias("tag"),
        )
        ctx.sink = VersionedTable.create(ctx.spark, path, base)
        ctx.base_files = _live_files(ctx.sink)

    def teardown(self, ctx: Ctx) -> None:
        if ctx.sink is not None:
            shutil.rmtree(ctx.sink.path, ignore_errors=True)

    def pass_ops(self, rng: random.Random, pass_no: int) -> list[Op]:
        self._summaries = {}
        self._appended = 0
        self._params = params = {
            "slice": rng.randrange(7), "priority": rng.choice(PRIORITIES)
        }
        # Each pass runs every mode once and every input twice; mode i
        # meets input (i + pass) mod 3, so any three passes cover the
        # matrix and pass n has the same pairs in every run.
        names = list(INPUTS)
        pairs = [
            (names[(i + pass_no) % len(names)], mode) for i, mode in enumerate(MODES)
        ]
        rng.shuffle(pairs)
        ops = [
            Op(f"{inp}/{strategy}", self._ingest(inp, strategy, params, pass_no * 100 + n))
            for n, (inp, strategy) in enumerate(pairs)
        ]
        return ops + [Op("reset", self._reset, pre=self._check_appended)]

    def _ingest(self, inp: str, strategy: str, params: dict, tag: int):
        build = INPUTS[inp]

        def run(ctx: Ctx, check: bool) -> Callable[[], None] | None:
            t = ctx.tracer
            with t.span("compaction.compact"), t.jobs(ctx.spark, "compaction.probe_jobs"):
                if strategy == "auto":
                    out = unwrap(build(ctx.engine.table, params))
                else:
                    src = build(lambda name: load_table(ctx.spark, ctx.sf_dir, name), params)
                    out = compact(src, target_rows=TARGET_ROWS, strategy=strategy)
            summary = tuple(run_action(ctx, _summary(out), collect=True)[0])
            files_before = _data_files(ctx.sink) if t.enabled else set()
            with t.span("storage.insert"):
                ctx.sink.insert(out.withColumn("tag", F.lit(tag)))
            if t.enabled:
                new = _data_files(ctx.sink) - files_before
                t.add("storage.files_appended", len(new))
                t.add("storage.bytes_appended", sum(map(os.path.getsize, new)))
                t.add("storage.rows_appended", summary[0])
                t.add("storage.appends", 1)
            self._summaries[(inp, strategy)] = summary
            self._appended += summary[0]
            if t.enabled and strategy != "auto":
                return lambda: _count_partitions(t, src, out)
            return None

        return run

    def _check_appended(self, ctx: Ctx) -> str:
        """Before the reset: the sink holds the base rows plus exactly the
        rows of every batch appended this pass."""
        rows = ctx.sink.read().count()
        if rows != BASE_ROWS + self._appended:
            return f"sink has {rows} rows, want {BASE_ROWS} + {self._appended} appended"
        return ""

    def _reset(self, ctx: Ctx, check: bool) -> None:
        t = ctx.tracer
        with t.span("storage.delete"):
            ctx.sink.delete_where(F.col("tag") >= 0)
        with t.span("storage.vacuum"):
            ctx.sink.vacuum(retain_last=1)

    def end_pass(self, ctx: Ctx) -> list[tuple[str, str]]:
        """Failures found after the pass: modes whose aggregate differs
        from strategy none's (computed here, outside the timing, when none
        did not run on that input this pass), a reset that did not restore the
        base rows, and a sink whose rows and live files are not back at
        their base values when the pass ends.

        A delete that empties every affected file still commits one
        schema-only parquet file, so after the reset the sink holds the
        base rows in one more live file than it started with.  That count
        is reported as ``storage.live_files``, and more files than that
        fail the pass; the table's own checkpoint then folds them back to
        the base file count, outside the timing, so every pass starts from
        the same table."""
        failures = []
        for (inp, strategy), got in list(self._summaries.items()):
            want = self._summaries.get((inp, "none"))
            if want is None:
                src = INPUTS[inp](lambda name: load_table(ctx.spark, ctx.sf_dir, name), self._params)
                want = self._summaries[(inp, "none")] = tuple(_summary(src).collect()[0])
            if got != want:
                failures.append((f"{inp}/{strategy}", f"aggregate {got} != none's {want}"))
        sink = ctx.sink
        rows, files = sink.read().count(), _live_files(sink)
        ctx.tracer.add("storage.live_files", files)
        if rows != BASE_ROWS:
            failures.append(("reset", f"{rows} rows after reset, want {BASE_ROWS}"))
        if files > ctx.base_files + 1:
            failures.append(("reset", f"{files} live files after reset, want at "
                             f"most {ctx.base_files + 1}"))
        if files != ctx.base_files:
            sink.checkpoint(n_files=ctx.base_files)
            sink.vacuum(retain_last=1)
            rows, files = sink.read().count(), _live_files(sink)
        if (rows, files) != (BASE_ROWS, ctx.base_files):
            failures.append(("reset", f"pass ends with {rows} rows in {files} files, "
                             f"want {BASE_ROWS} in {ctx.base_files}"))
        return failures


def _partitions(df: DataFrame) -> int:
    return df._jdf.queryExecution().toRdd().getNumPartitions()


def _count_partitions(t: Tracer, src: DataFrame, out: DataFrame) -> None:
    """Partitions into and out of compact(), and their ratio as
    `profiler.chunk_factor` defines it.  Planning the RDDs runs AQE's
    stages again, so the runner calls this outside the op's counters."""
    n_in, n_out = _partitions(src), _partitions(out)
    t.add("compaction.partitions_in", n_in)
    t.add("compaction.partitions_out", n_out)
    t.add("compaction.chunk_factor_sum", n_in / max(1, n_out))
    t.add("compaction.calls", 1)


def _live_files(table: VersionedTable) -> int:
    return table.history()[-1]["n_files"]


def _data_files(table: VersionedTable) -> set[str]:
    """Every parquet file under the table's data directory (each insert
    writes a fresh subdirectory)."""
    return set(glob.glob(os.path.join(table.data_dir, "*", "*.parquet")))

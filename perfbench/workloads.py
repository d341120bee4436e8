"""The benchmark's workloads and the operations they run.

An operation has two timed phases, called from outside the program:

- ``construct``: the plan builder (``plans.QUERIES[name](spark, dir)``,
  or ``sources.rest.events_source`` + ``operators.flatten.flatten_sheet``
  for a tree refresh). Builders may run jobs of their own (size probes,
  driver loops, streaming drains).
- ``execute``: the action that runs the built plan: the noop writer,
  ``toPandas()`` on the run's first pass (whose output is checked), or
  ``sinks.sheets.sheet_append`` for a tree refresh.

Each workload is a fixed subset of the catalog, sized so that one warm
pass takes about five seconds at 4 cores on the ``sf0.1`` tables and a
run fits the benchmark's time budget (see README.md for why each subset
was chosen).
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

from sports_betting_data_pipeline_spark.operators.flatten import flatten_sheet
from sports_betting_data_pipeline_spark.plans import QUERIES
from sports_betting_data_pipeline_spark.sinks.sheets import sheet_append
from sports_betting_data_pipeline_spark.sources.rest import events_source

from check import read_sheet_parts


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    refreshes: int = 0  # tree refresh operations per pass (one per tournament)
    events_per_refresh: int = 0
    # Measured passes. Warm passes keep speeding up for minutes, so runs
    # compare only at an equal count: --seconds is a floor that
    # BENCHMARK.json sets below what these passes take.
    measured_passes: int = 5


WORKLOADS = {
    # Execution-bound SQL: the paper's two-branch union (p03), the reference's
    # filter, join, odds and wager surface, and TPC-H-shaped relational
    # work. Builders run no jobs; no Python workers, no streaming, no
    # source or sink. The control for Python-worker, streaming and
    # source/sink changes.
    "betting_sql": Workload(queries=(
        "p03_two_branch_union", "f01_whitelist_filter", "o03_implied_probability",
        "wg02_cancel_anti_join", "j01_enrichment_join",
        "q03_local_supplier_volume", "q17_nation_trade_volume",
    )),
    # The ingest side: the paper's tree refresh (REST source -> flatten
    # -> sheet sink, whose append runs Python workers), streaming drains
    # that run inside their builders (state store and checkpoint logs in
    # st01, the lake landing in st14), and Arrow/Python UDFs (l16, m01).
    "ingest_llm": Workload(
        queries=(
            "l16_grouped_zscore", "m01_multimodal_features",
            "st01_tumbling_window", "st14_stream_lake_landing",
        ),
        refreshes=1,
        events_per_refresh=400,
        # Four passes keep a run inside the time budget.
        measured_passes=4,
    ),
}


class Spans:
    """Wall-clock spans of one operation, by layer name."""

    def __init__(self) -> None:
        self.seconds: dict[str, float] = {}
        self.counts: dict[str, float] = {}

    def timed(self, layer: str, fn, *args):
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.seconds[layer] = self.seconds.get(layer, 0.0) + time.perf_counter() - t0

    def count(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0.0) + value


class QueryOp:
    """A catalog query: builder call, then an action."""

    def __init__(self, name: str) -> None:
        self.name = name

    def construct(self, spark, inputs, spans: Spans):
        return QUERIES[self.name](spark, inputs.sf_dir)

    def execute(self, df, inputs, spans: Spans, collect: bool):
        """Run the plan; on the collect pass return the result frame."""
        if collect:
            return df.toPandas()
        df.write.format("noop").mode("overwrite").save()
        return None

    def output(self, result, spans: Spans):
        return result

    def check(self, checker, inputs, output) -> tuple[bool, str]:
        return checker.query(self.name, output)


class RefreshOp:
    """One tournament snapshot through REST source -> flatten -> sheet."""

    def __init__(self, index: int) -> None:
        self.index = index
        self.name = f"refresh_t{index}"

    def construct(self, spark, inputs, spans: Spans):
        records = inputs.tree[self.index]
        spans.count("sources.records", len(records))
        events = spans.timed("sources.snapshot_s", events_source, spark, lambda: records)
        return spans.timed("operators.flatten_build_s", flatten_sheet, events)

    def execute(self, sheet, inputs, spans: Spans, collect: bool):
        """Append to the spool; return the landed part files."""
        return sheet_append(sheet, inputs.spool_dir, self.name)

    def output(self, parts: list[str], spans: Spans) -> list[list[str]]:
        """Read back and remove the landed parts (untimed), counting
        sink output; returns the landed rows."""
        rows = read_sheet_parts(parts)
        spans.count("sinks.rows", len(rows))
        spans.count("sinks.parts", len(parts))
        spans.count("sinks.bytes", sum(os.path.getsize(p) for p in parts))
        if parts:
            shutil.rmtree(os.path.dirname(parts[0]), ignore_errors=True)
        return rows

    def check(self, checker, inputs, output) -> tuple[bool, str]:
        return checker.refresh(inputs.tree[self.index], output)


def operations(name: str) -> list:
    spec = WORKLOADS[name]
    return [QueryOp(q) for q in spec.queries] + [RefreshOp(i) for i in range(spec.refreshes)]

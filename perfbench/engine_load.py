"""The query and store layers, measured in traced runs: one pass of
the comparable-21 set and the five incremental-store queries, each
consumed with bench.py's full-row hash, on tables generated at sf0.01
from a fixed seed.

The tables do not vary with the run's seed, so every result is checked
against the hash pinned in ``engine_pins.json`` by ``pin_engine.py``,
which first checks every query against its DuckDB oracle
(``dmds_spark.oracle``) on the same tables. The pass runs after the
World phases, so the JVM is warm but each query's own plan is not: one
pass is what fits a traced run (see README.md).
"""

from __future__ import annotations

import json
import os

from spans import Tracer, dir_diff, dir_files, span_metrics
from tables import write_tables

SF = 0.01
TABLE_SEED = 42
PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "engine_pins.json")
STORES = [
    "rollup_incremental_clusters",
    "dedup_incremental_minhash",
    "rollup_incremental_ivf",
    "rollup_incremental_postings",
    "rollup_incremental_survivorship",
]


def comparable21() -> list[str]:
    from bench import BASELINE_ORDER

    return list(BASELINE_ORDER)


def consume_hash(df) -> int:
    """bench.py's ADDITIONS consume: every output column of every row,
    reduced to one order-independent 64-bit value."""
    from pyspark.sql import functions as F

    cols = ", ".join(f"`{c}`" for c in df.columns)
    return df.agg(F.expr(f"bit_xor(xxhash64(struct({cols})))")).collect()[0][0]


class EngineRun:
    def __init__(self, spark, work: str, root: str, tracer: Tracer):
        self.spark, self.work, self.root, self.tr = spark, work, root, tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def prepare(self) -> None:
        from dmds_spark.queries import all_queries

        self.sf_dir = os.path.join(self.work, "tables")
        write_tables(self.sf_dir, SF, TABLE_SEED)
        self.qs = all_queries()

    def run_pass(self) -> None:
        """Each query once: build, consume, check against its pinned hash.
        A mismatch or an exception counts as a failed op."""
        from dmds_spark.session import release_materialized_state

        with open(PINS) as fh:
            pins = json.load(fh)["hash"]
        for layer, names in (("queries", comparable21()), ("stores", STORES)):
            for name in names:
                self.attempted += 1
                try:
                    got = self._timed(layer, name)
                    if got != pins[name]:
                        self.failed += 1
                        self.errors.append(f"{name}: hash {got} != pinned {pins[name]}")
                except Exception as e:  # noqa: BLE001 — counted as a failed op
                    self.failed += 1
                    self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                finally:
                    release_materialized_state(self.spark)

    def _timed(self, layer: str, name: str) -> int:
        scratch = os.path.join(self.root, ".scratch")
        before = dir_files(scratch) if layer == "stores" and self.tr.enabled else None
        df = self.tr.call(f"{layer}.build", lambda: self.qs[name](self.spark, self.sf_dir),
                          query=name)
        got = self.tr.call(f"{layer}.action", lambda: consume_hash(df), query=name)
        if before is not None:
            diff = dir_diff(before, dir_files(scratch))
            del diff["written"]
            self.tr.spans[-1].extra.update(diff)
        return got

    def layer_metrics(self) -> dict[str, float]:
        """Per-query figures of the pass (build span + consume span),
        summed per layer. A query that raised has no consume span and
        is left out."""
        spans = {(s.name, s.extra["query"]): s for s in self.tr.spans if "query" in s.extra}
        out: dict[str, float] = {}
        for layer, prefix, names, fields in (
            ("queries", "query", comparable21(),
             ("build_s", "py4j_calls", "driver_s", "executor_run_s", "executor_cpu_s",
              "gc_s", "jobs", "tasks", "input_bytes", "shuffle_bytes", "spill_bytes")),
            ("stores", "store", STORES,
             ("build_s", "driver_s", "executor_run_s", "jobs", "shuffle_bytes",
              "files_written", "bytes_written")),
        ):
            per = []
            for name in names:
                build = spans.get((f"{layer}.build", name))
                action = spans.get((f"{layer}.action", name))
                if build is None or action is None:
                    continue
                b, a = span_metrics(build), span_metrics(action)
                m = {k: b[k] + a[k] for k in b}
                m["build_s"] = b["wall_s"]
                m["files_written"] = action.extra.get("files_written", 0)
                m["bytes_written"] = action.extra.get("bytes_written", 0)
                out[f"{prefix}.{name}.wall_s"] = m["wall_s"]
                per.append(m)
            for f in fields:
                out[f"{layer}.{f}"] = sum(m[f] for m in per)
            total = "queries.comparable21_s" if layer == "queries" else "stores.refresh_s"
            out[total] = sum(m["wall_s"] for m in per)
        return out

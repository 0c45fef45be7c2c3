"""query_mix — registry queries run cold, in a seed-shuffled order.

Two groups: SQL queries (pure Catalyst, the paper's "query the
table" surface) and LLM-data queries (dedup, sampling and media
lineages: checkpoint loops, session caches, Arrow kernels). A cache
or partitioning change shows in one group while the other checks
that nothing else moved.

Each query writes to the noop sink, then ``unpin_all()`` runs inside
the clock, so release cost cannot hide; a forced GC follows outside
the clock. The warm-up pass compares every query with its DuckDB
oracle.

Inputs (``perfbench/data/qmix``) are copies of the deterministic
fixture tables the package is tested on: the relational and events
tables at sf0.01, and ``documents`` at sf0.1, so the LLM group runs
the above-fixture lineage (documents at sf0.01 fall below the
package's fixture-size threshold, where ``pin()`` and ``spread()``
are identity).
"""

from __future__ import annotations

import gc
import os
import random
import sys
import time

from harness import SparkProcess, Tracer, median

SQL = ["q01", "q06", "q13"]
LLM = ["q72", "q92"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]
PASS_SECONDS = 7  # about one pass on a 4-core host
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "qmix")
MB = 2**20


class Workload:
    def __init__(self, proc: SparkProcess, seed: int, run_dir: str,
                 tracer: Tracer):
        from eventsgateway_spark.queries import QUERIES

        self.proc = proc
        self.spark = proc.spark
        self.tracer = tracer
        self.rng = random.Random(seed)
        by_tag = {name.split("_", 1)[0]: name for name in QUERIES}
        self.names = {tag: by_tag[tag] for tag in SQL + LLM}
        self.passes: list[dict[str, float]] = []  # wall s per query
        self.cpu_passes: list[dict[str, float]] = []  # CPU s per query

    def order(self) -> list[str]:
        tags = SQL + LLM
        self.rng.shuffle(tags)
        return tags

    def run_query(self, tag: str) -> tuple[float, float]:
        """One cold query: build, noop write, ``unpin_all()``; returns
        (wall s, CPU s)."""
        from eventsgateway_spark.queries import QUERIES
        from eventsgateway_spark.queries._util import unpin_all

        t = self.tracer
        t.op += 1
        group = f"{tag}-{t.op}"
        t.group(group)
        cpu0 = self.proc.cpu_s()
        with t.span(f"queries.{tag}") as whole:
            QUERIES[self.names[tag]](self.spark, DATA).write.format(
                "noop").mode("overwrite").save()
            with t.span("queries._util.unpin_all"):
                unpin_all()
        cpu = self.proc.cpu_s() - cpu0
        t.collect(group)
        gc.collect()
        return whole.seconds, cpu

    def warm_up(self) -> bool:
        """One pass that also checks every query against its DuckDB
        oracle (``tests/oracle_harness.compare_spark_duckdb``)."""
        import duckdb

        from eventsgateway_spark.queries import ORACLE_SQL, QUERIES
        from eventsgateway_spark.queries._util import unpin_all

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        sys.path.insert(0, os.path.join(root, "tests"))
        from oracle_harness import compare_spark_duckdb

        con = duckdb.connect()
        ok = True
        try:
            for name in TABLES:
                path = os.path.join(DATA, f"{name}.parquet")
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
            for tag in self.order():
                name = self.names[tag]
                try:
                    compare_spark_duckdb(
                        QUERIES[name](self.spark, DATA), con, ORACLE_SQL[name]
                    )
                except AssertionError as ex:
                    print(f"{name} does not match its oracle: {ex}", file=sys.stderr)
                    ok = False
                unpin_all()
                gc.collect()
        finally:
            con.close()
        return ok

    def measure(self, seconds: float) -> dict:
        """One pass per PASS_SECONDS of ``seconds``, at least two: a
        fixed amount of work, so every run of a seed does the same."""
        attempted = failed = 0
        self.first_op = self.tracer.op + 1
        t0 = time.perf_counter()
        for _ in range(max(2, round(seconds / PASS_SECONDS))):
            times, cpu = {}, {}
            for tag in self.order():
                attempted += 1
                try:
                    times[tag], cpu[tag] = self.run_query(tag)
                except Exception as ex:  # a failed query is counted
                    print(f"{tag} failed: {ex!r}", file=sys.stderr)
                    failed += 1
            self.passes.append(times)
            self.cpu_passes.append(cpu)
        window_s = time.perf_counter() - t0

        def group(tags):
            """Sum of the queries' median CPU over passes: one slow
            sample moves it less than it would move a pass sum."""
            return sum(median(p[q] for p in self.cpu_passes if q in p)
                       for q in tags)

        sql, llm = group(SQL), group(LLM)
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                "op_cpu_ms": (sql + llm) * 1000,
                "phase1_cpu_ms": sql * 1000,
                "phase2_cpu_ms": llm * 1000,
                "work_per_cpu_s": len(SQL + LLM) / (sql + llm),
            },
            "samples": len(self.passes),
            "window_s": window_s,
        }

    def layers(self) -> dict:
        t = self.tracer
        window = [s for s in t.spans if s.op >= self.first_op]
        per_op = {s.op: s for s in window if s.parent is None}
        unpin = [(s.end - s.start) * 1000 for s in window
                 if s.name == "queries._util.unpin_all"]
        out = {"queries._util.unpin_all_ms": median(unpin)}
        n_pass = len(self.passes)
        out["trace.op_p50_ms"] = median(
            sum(p.values()) for p in self.passes) * 1000
        for group, tags in (("sql", SQL), ("llm", LLM)):
            counts = [t.counts[f"{s.name.split('.', 1)[1]}-{op}"]
                      for op, s in per_op.items()
                      if s.name.split(".", 1)[1] in tags]
            out[f"queries.{group}.s"] = median(
                sum(p[q] for q in tags) for p in self.passes)
            out[f"queries.{group}.tasks"] = sum(c.tasks for c in counts) / n_pass
            out[f"queries.{group}.stages"] = sum(c.stages for c in counts) / n_pass
            out[f"queries.{group}.shuffle_mb"] = sum(
                c.shuffle_bytes for c in counts) / n_pass / MB
            out[f"queries.{group}.spill_mb"] = sum(
                c.spill_bytes for c in counts) / n_pass / MB
            out[f"queries.{group}.gc_ms"] = sum(c.gc_ms for c in counts) / n_pass
        for tag in LLM:
            counts = [t.counts[f"{tag}-{op}"] for op, s in per_op.items()
                      if s.name == f"queries.{tag}"]
            out[f"queries.{tag}.s"] = median(p[tag] for p in self.passes)
            out[f"queries.{tag}.jobs"] = median(c.jobs for c in counts)
            out[f"queries.{tag}.tasks"] = median(c.tasks for c in counts)
            out[f"queries.{tag}.shuffle_mb"] = median(
                c.shuffle_bytes for c in counts) / MB
            out[f"queries.{tag}.gc_ms"] = median(c.gc_ms for c in counts)
        return out

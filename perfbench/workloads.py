"""The benchmark's workloads: inputs, oracle, one measured iteration, and
the traced pass that runs each layer alone.

Every iteration's output is checked. The flagship reduces its output to an
order-insensitive fingerprint (row count plus per-column sums) and
compares it with the same fingerprint of the DuckDB mirror in
``tests/test_flagship_oracle.py``; the query pass compares each result with
its ``oracle_sql()`` through ``tests/driver_check.compare``.
"""

from __future__ import annotations

import math
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable

import duckdb
from pyspark.sql import functions as F

import bench
import __spark_entry__ as entry
import marmot_spark.plans.flagship as plan
from marmot_spark.operators.asof import asof_join
from marmot_spark.operators.windows import (
    explode_with_context,
    rolling_count,
    sessionize,
    with_time_chunk,
)
from perfbench.inputs import write_flagship_inputs, write_query_tables
from perfbench.procstat import tree_cpu_s
from perfbench.sparkstatus import GroupCounters
from perfbench.tracing import Tracer
from tests.driver_check import compare
from tests.test_flagship_oracle import _MIRROR

# flagship output columns summed by the fingerprint (seq_ts and score apart)
FP_INT_COLS = ("doc_key", "source_key", "session_id", "rolling_docs", "tag_ok",
               "pos", "tok", "lag_1", "lag_2", "lead_1", "lead_2")
# the layers the flagship's untraced iteration runs, in order; sink is traced
# on its own because the timed iterations end in the fingerprint, not a file
FLAGSHIP_LAYERS = ("plan_build", "scan", "windows", "asof", "dedup", "joinback", "explode")
# The headline queries: registry entries checked against their oracle_sql(),
# plus the as-of join's explicit Arrow merge kernel (pandas in Python UDF
# workers), timed per variant as bench.py does and checked against the
# backward as-of oracle it shares with the window strategy.
HEADLINE = ("w1_context_window", "w6_sessionize", "j2_asof_merge", "set_ops_vocab_overlap", "tpch_q1")


def _headline_queries() -> dict[str, tuple[Callable, str]]:
    """name -> (builder(spark, sf_dir), DuckDB oracle SQL)"""
    registry, oracles = entry.queries(), entry.oracle_sql()
    out = {q: (registry[q], oracles[q]) for q in HEADLINE if q in registry}
    out["j2_asof_merge"] = (entry._q_j2_asof_merge, entry._SQL_J2)
    return out


@dataclass
class Iteration:
    rows: int
    check: Callable[[], bool]  # run after the timed region
    # part -> (wall_s, cpu_s): the flagship is one part, the query pass one
    # part per query, so a noise burst in one query is outvoted by its other
    # passes instead of landing in the whole pass
    parts: dict[str, tuple[float, float]]


def _timed(fn):
    """fn() and its (wall_s, cpu_s)."""
    c0, t0 = tree_cpu_s(), time.perf_counter()
    out = fn()
    return out, (time.perf_counter() - t0, tree_cpu_s() - c0)


def spark_fingerprint(df) -> dict:
    aggs = [
        F.count(F.lit(1)).alias("rows"),
        F.count("tag_ok").alias("matched"),
        F.sum(F.unix_micros("seq_ts").cast("decimal(38,0)")).alias("ts_us"),
        F.sum(F.col("score").cast("double")).alias("score"),
        *(F.sum(F.col(c).cast("long")).alias(c) for c in FP_INT_COLS),
    ]
    return df.agg(*aggs).first().asDict()


def duckdb_fingerprint(in_dir: str) -> dict:
    sums = ", ".join(f"sum({c}) AS {c}" for c in FP_INT_COLS)
    con = duckdb.connect()
    try:
        for t in ("sequences", "labels"):
            con.execute(f"CREATE VIEW {t} AS FROM '{in_dir}/{t}.parquet/*.parquet'")
        cur = con.execute(
            "SELECT count(*) AS rows, count(tag_ok) AS matched, sum(ts_us) AS ts_us, "
            f"sum(CAST(score AS DOUBLE)) AS score, {sums} FROM ({_MIRROR})"
        )
        return dict(zip([d[0] for d in cur.description], cur.fetchone()))
    finally:
        con.close()


def fingerprints_match(got: dict, want: dict) -> bool:
    for k, w in want.items():
        g = got[k]
        if k == "score":
            if (g is None) != (w is None) or (w is not None and not math.isclose(g, w, rel_tol=1e-9)):
                return False
        elif (None if g is None else int(g)) != (None if w is None else int(w)):
            return False
    return True


def _mat(df):
    return df.localCheckpoint(eager=True)


@contextmanager
def _recording_plan_calls():
    """Records the arguments of every call ``plans/flagship.py`` makes into
    an operator (and of ``flagship_features`` itself) while the block runs;
    the calls themselves go through unchanged."""
    names = ("flagship_features", "with_time_chunk", "sessionize", "rolling_count",
             "asof_join", "explode_with_context")
    calls: dict[str, tuple] = {}
    saved = {n: getattr(plan, n) for n in names}

    def recorder(name, fn):
        def wrapper(*args, **kwargs):
            calls[name] = (args, kwargs)
            return fn(*args, **kwargs)
        return wrapper

    for n, fn in saved.items():
        setattr(plan, n, recorder(n, fn))
    try:
        yield calls
    finally:
        for n, fn in saved.items():
            setattr(plan, n, fn)


class FlagshipWorkload:
    """``bench.flagship_pipeline`` over seeded ``sequences`` + ``labels``."""

    aqe = False  # as in bench.py: the flagship plan partitions and salts explicitly
    # spans whose CPU the untraced iteration also spends (it has no file sink)
    covered_spans = FLAGSHIP_LAYERS

    def __init__(self, n_seqs: int):
        self.n_seqs = n_seqs
        self.expected: dict | None = None

    def generate(self, in_dir: str, seed: int) -> int:
        return write_flagship_inputs(in_dir, seed, self.n_seqs)

    def prepare_oracle(self, in_dir: str) -> None:
        self.expected = duckdb_fingerprint(in_dir)

    def iterate(self, spark, in_dir: str) -> Iteration:
        fp, part = _timed(lambda: spark_fingerprint(bench.flagship_pipeline(spark, in_dir)))
        return Iteration(fp["rows"], lambda: fingerprints_match(fp, self.expected), {"flagship": part})

    def trace(self, spark, in_dir: str, work_dir: str, tracer: Tracer) -> tuple[dict, bool]:
        """Each layer alone, through the same public call and arguments the
        fused plan uses, on a materialized copy of its input. Returns the
        row counts and ratios the layers produced, and whether the layered
        output matches the oracle."""
        with tracer.span("plan_build", "plan_build"), _recording_plan_calls() as calls:
            bench.flagship_pipeline(spark, in_dir)
        (wide, labels), kw = calls["flagship_features"]
        keys, ts = list(kw["keys"]), kw["ts_col"]
        join_keys = [*keys, ts]
        feat_cols = ["session_id", "rolling_docs", *kw["payload"]]

        with tracer.span("scan", "scan"):
            wide, labels = _mat(wide), _mat(labels)
        with tracer.span("windows", "windows"):
            args, kwargs = calls["with_time_chunk"]
            base = with_time_chunk(wide.select(*keys, ts), *args[1:], **kwargs)
            args, kwargs = calls["rolling_count"]
            order_col, chunk_col = kwargs["order_col"], kwargs["chunk_col"]
            base = base.withColumn(order_col, F.unix_micros(F.col(ts)))
            s_args, s_kwargs = calls["sessionize"]
            base = sessionize(base, *s_args[1:], **s_kwargs).localCheckpoint(eager=False)
            base = rolling_count(base, *args[1:], **kwargs).drop(chunk_col, order_col)
            windows = _mat(
                base.withColumn("session_id", F.col("session_id").cast("int"))
                .withColumn("rolling_docs", F.col("rolling_docs").cast("int"))
            )
        with tracer.span("asof", "asof"):
            args, asof_kw = calls["asof_join"]
            asof = _mat(asof_join(windows, labels, *args[2:], **asof_kw))
        with tracer.span("dedup", "dedup"):
            feats = _mat(asof.select(*join_keys, *feat_cols).dropDuplicates(join_keys))
        n_scan = wide.count()
        broadcast = n_scan <= kw["broadcast_max_rows"]
        with tracer.span("joinback", "joinback"):
            right = F.broadcast(feats) if broadcast else feats.hint("shuffle_hash")
            joined = _mat(wide.join(right, join_keys))
        with tracer.span("explode", "explode"):
            args, kwargs = calls["explode_with_context"]
            out = _mat(explode_with_context(joined, *args[1:], **kwargs))
        sink_dir = os.path.join(work_dir, "sink")
        with tracer.span("sink", "sink"):
            out.write.mode("overwrite").parquet(sink_dir)
        parts = [f for f in os.listdir(sink_dir) if f.startswith("part-")]

        n_windows, n_asof, n_feats = windows.count(), asof.count(), feats.count()
        payload0 = kw["payload"][0]
        counts = {
            "scan.rows": n_scan + labels.count(),
            "windows.rows_out": n_windows,
            "asof.rows_in": n_windows,
            "asof.match_ratio": asof.filter(F.col(payload0).isNotNull()).count() / n_windows,
            "asof.hot_share": windows.filter(F.col(kw["asof_on"]).isin(list(asof_kw["hot_keys"] or []))).count()
            / n_windows,
            "dedup.keep_ratio": n_feats / n_asof,
            "joinback.broadcast_rows": n_feats if broadcast else 0,
            "explode.rows_out": out.count(),
            "sink.bytes_written": sum(os.path.getsize(os.path.join(sink_dir, f)) for f in parts),
            "sink.files": len(parts),
        }
        return counts, fingerprints_match(spark_fingerprint(out), self.expected)

    @staticmethod
    def layer_metrics(tracer: Tracer, groups: dict[str, GroupCounters], counts: dict) -> dict:
        def span(name):
            return tracer.spans[name]

        def g(name):
            return groups.get(name, GroupCounters())

        return {
            "scan.busy_s": span("scan").wall_s,
            "scan.rows": counts["scan.rows"],
            "scan.input_bytes": g("scan").input_bytes,
            "plan_build.wall_s": span("plan_build").wall_s,
            "plan_build.jobs": g("plan_build").jobs,
            "plan_build.cpu_s": span("plan_build").cpu_s,
            "windows.busy_s": span("windows").wall_s,
            "windows.cpu_s": span("windows").cpu_s,
            "windows.shuffle_write_bytes": g("windows").shuffle_write_bytes,
            "windows.spill_bytes": g("windows").spill_bytes,
            "windows.rows_out": counts["windows.rows_out"],
            "asof.busy_s": span("asof").wall_s,
            "asof.cpu_s": span("asof").cpu_s,
            "asof.shuffle_write_bytes": g("asof").shuffle_write_bytes,
            "asof.spill_bytes": g("asof").spill_bytes,
            "asof.peak_mem_bytes": g("asof").peak_mem_bytes,
            "asof.rows_in": counts["asof.rows_in"],
            "asof.match_ratio": counts["asof.match_ratio"],
            "asof.hot_share": counts["asof.hot_share"],
            "asof.task_skew": g("asof").task_skew,
            "dedup.busy_s": span("dedup").wall_s,
            "dedup.shuffle_write_bytes": g("dedup").shuffle_write_bytes,
            "dedup.keep_ratio": counts["dedup.keep_ratio"],
            "joinback.busy_s": span("joinback").wall_s,
            "joinback.broadcast_rows": counts["joinback.broadcast_rows"],
            "explode.busy_s": span("explode").wall_s,
            "explode.cpu_s": span("explode").cpu_s,
            "explode.rows_out": counts["explode.rows_out"],
            "explode.task_skew": g("explode").task_skew,
            "sink.busy_s": span("sink").wall_s,
            "sink.bytes_written": counts["sink.bytes_written"],
            "sink.files": counts["sink.files"],
        }


class QueryWorkload:
    """One pass over the headline queries, AQE on."""

    aqe = True
    covered_spans = tuple(f"query.{q}" for q in HEADLINE)

    def __init__(self, sf: float):
        self.sf = sf
        self.expected: dict = {}

    def generate(self, in_dir: str, seed: int) -> int:
        return write_query_tables(in_dir, seed, self.sf)

    def prepare_oracle(self, in_dir: str) -> None:
        con = duckdb.connect()
        try:
            for t in ("documents", "events", "embeddings", "lineitem"):
                con.execute(f"CREATE VIEW {t} AS FROM '{in_dir}/{t}.parquet'")
            self.expected = {q: con.sql(sql).df() for q, (_, sql) in _headline_queries().items()}
        finally:
            con.close()

    def _check(self, results: dict) -> bool:
        return all(compare(results[q], self.expected[q]) == "OK" for q in HEADLINE)

    def iterate(self, spark, in_dir: str) -> Iteration:
        queries = _headline_queries()
        results, parts = {}, {}
        for q in HEADLINE:
            results[q], parts[q] = _timed(lambda: queries[q][0](spark, in_dir).toPandas())
        return Iteration(sum(map(len, results.values())), lambda: self._check(results), parts)

    def trace(self, spark, in_dir: str, work_dir: str, tracer: Tracer) -> tuple[dict, bool]:
        queries = _headline_queries()
        results = {}
        for q in HEADLINE:
            with tracer.span(f"query.{q}", f"query.{q}"):
                with tracer.span(f"query.{q}.build"):
                    df = queries[q][0](spark, in_dir)
                with tracer.span(f"query.{q}.exec"):
                    results[q] = df.toPandas()
        return {f"query.{q}.rows": len(results[q]) for q in HEADLINE}, self._check(results)

    @staticmethod
    def layer_metrics(tracer: Tracer, groups: dict[str, GroupCounters], counts: dict) -> dict:
        out = {}
        for q in HEADLINE:
            out[f"query.{q}.build_s"] = tracer.spans[f"query.{q}.build"].wall_s
            out[f"query.{q}.exec_s"] = tracer.spans[f"query.{q}.exec"].wall_s
            out[f"query.{q}.rows"] = counts[f"query.{q}.rows"]
        return out


WORKLOADS = {
    "flagship": lambda: FlagshipWorkload(n_seqs=12_000),
    "headline_queries": lambda: QueryWorkload(sf=0.001),
}


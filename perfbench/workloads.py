"""The benchmark workloads. Each is a closed loop with one client: the
next operation starts when the previous one has finished.

A workload generates its inputs (``prepare``, not timed) and yields
*passes* (rounds): fixed lists of operations, timed whole. Passes are
numbered from 0; the first ``WARM_PASSES`` of them warm the JVM untimed.
Every operation returns a result that ``check`` verifies outside the timed
region; a failed check raises :class:`CheckFailed`.
"""

from __future__ import annotations

import os
import shutil
import sqlite3

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen

# one oracle-checked registry query of the repo's bench.py suite per query
# module; a round of the whole suite does not fit a run
QUERY_MIX = [
    "vat_summary", "q5_region_revenue", "window_top3_orders_per_customer",
    "events_sessionize", "text_corpus_stats", "dedup_minhash_banded",
    "knn_bruteforce_cosine", "pipeline_span_removal", "multimodal_dedup_phash",
]
QUERY_MODULES = ["vat", "relational", "windows", "events", "text", "dedup",
                 "similarity", "llm_pipeline", "multimodal"]
FUNNEL_STAGES = ["raw", "gopher", "classifier", "perplexity", "exact_dedup",
                 "line_dedup", "span_removal", "neardup"]
# the stages the benchmark corpus plants repeats for
PLANTED_STAGES = ["line_dedup", "span_removal", "neardup"]


class CheckFailed(AssertionError):
    pass


def _require(ok: bool, msg: str) -> None:
    if not ok:
        raise CheckFailed(msg)


class Op:
    """One timed operation: ``run(spark, tracer)`` returns what ``check``
    verifies; ``items`` is the input it processes (rows, docs, requests)."""

    def __init__(self, label, run, check, items):
        self.label, self.run, self.check, self.items = label, run, check, items


class Workload:
    name = ""
    WARM_PASSES = 1

    def __init__(self, tmp: str, seed: int):
        self.tmp, self.seed = tmp, seed
        self.rng = np.random.default_rng([seed, 0])

    def prepare(self) -> None:
        pass

    def warm_up(self, spark) -> list[Op]:
        """Untimed operations run before timing; their outputs are checked."""
        return [op for k in range(self.WARM_PASSES) for op in self.pass_ops(spark, k)]

    def pass_ops(self, spark, k: int) -> list[Op]:
        raise NotImplementedError

    def counters(self) -> dict[str, float]:
        return {}


# --------------------------------------------------------------------------


def vat_return(tmp: str, sheet: dict) -> Op:
    """The reference pipeline for one monthly return: the month's sheet
    through ``app.load_transactions``, ``vat_box_summary``, then the
    SQLite and parquet sinks; checked cell by cell in both sinks."""
    from vat_etl_spark.app import load_transactions
    from vat_etl_spark.operators.vat_summary import vat_box_summary
    from vat_etl_spark.sources.sinks import write_parquet, write_sqlite

    out = os.path.join(tmp, "vat_out")

    def run(spark, tracer):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        with tracer.span("app"):
            tx = load_transactions(spark, sheet["path"])
        with tracer.span("operators"):
            summary = vat_box_summary(tx)
        with tracer.span("sources.sinks"):
            write_sqlite(summary, os.path.join(out, "vat.db"))
            write_parquet(summary, os.path.join(out, "summary.parquet"))
        return out

    def check(out: str) -> None:
        con = sqlite3.connect(os.path.join(out, "vat.db"))
        try:
            db_rows = con.execute(
                'SELECT "Period", "FTA Box", "Net Value", "VAT Value", '
                '"Net VAT Payable" FROM vat_summary').fetchall()
        finally:
            con.close()
        t = pq.read_table(os.path.join(out, "summary.parquet")).to_pydict()
        pq_rows = list(zip(t["Period"], t["FTA Box"], t["Net Value"], t["VAT Value"],
                           t["Net VAT Payable"]))
        expected = gen.expected_summary_rows(sheet["expected"])
        for sink, rows in (("sqlite", db_rows), ("parquet", pq_rows)):
            check_vat_summary(rows, expected, sink)
        shutil.rmtree(out, ignore_errors=True)

    return Op("vat_return", run, check, 1)


def check_vat_summary(rows, expected: dict, sink: str = "?") -> None:
    """Every summary cell equals the generator's value to 2 dp, 4 rows per
    period, and Box D = A - C."""
    got = {(r[0], r[1]): tuple(r[2:]) for r in rows}
    _require(len(rows) == len(got) == len(expected),
             f"{sink}: {len(rows)} rows, expected {len(expected)}")
    for key, want in expected.items():
        have = got.get(key)
        _require(have is not None, f"{sink}: missing row {key}")
        _require(all(abs(h - w) < 0.005 for h, w in zip(have, want)),
                 f"{sink}: {key} = {have}, expected {want}")
    for period in {p for p, _ in got}:
        d = got[(period, "Box D")][1]
        a, c = got[(period, "Box A")][1], got[(period, "Box C")][1]
        _require(abs(d - (a - c)) < 0.005, f"{sink}: {period} Box D != A - C")


# --------------------------------------------------------------------------


class QueryMix(Workload):
    """Requests in an order the seed shuffles every timed round: each oracle-
    checked registry query of ``QUERY_MIX`` once, and one monthly VAT
    return. A query request is ``QUERIES[name](spark, sf_dir)`` plus
    collecting its rows; the plan is built inside the timing because a user
    pays for it, and the rows are compared with the query's DuckDB twin
    outside it. Round ``k`` files the return of month ``k + 1`` (the
    untimed warm-up round, ``k = 0``, January's), its sheet written just
    before the round. The warm-up is one round."""

    name = "query_mix"
    SF = 0.002
    SHEET_ROWS = 20_000

    def prepare(self):
        from vat_etl_spark.oracle import duckdb_connect

        self.sf_dir = gen.query_tables(os.path.join(self.tmp, "tables"), self.seed, self.SF)
        self.con = duckdb_connect(self.sf_dir)

    def pass_ops(self, spark, k):
        from vat_etl_spark.queries import ORACLE_SQL, QUERIES

        def request(name: str) -> Op:
            layer = "queries." + QUERIES[name].__module__.rsplit(".", 1)[1]

            def run(spark, tracer):
                with tracer.span(layer):
                    df = QUERIES[name](spark, self.sf_dir)
                    return df.columns, df.collect()

            return Op(name, run, lambda r: check_oracle(self.con, r, ORACLE_SQL[name], name), 1)

        sheet = gen.vat_sheet(os.path.join(self.tmp, "sheets"), self.seed, k % 12 + 1,
                              self.SHEET_ROWS)
        ops = [request(name) for name in QUERY_MIX] + [vat_return(self.tmp, sheet)]
        # the warm-up keeps one order, so that every run starts its timing
        # from a JVM warmed alike
        if k < self.WARM_PASSES:
            return ops
        return [ops[i] for i in self.rng.permutation(len(ops))]


class _Collected:
    """Rows already collected, in the shape ``oracle.compare`` reads."""

    def __init__(self, columns: list, rows: list):
        self.columns, self._rows = columns, rows

    def collect(self) -> list:
        return self._rows


def check_oracle(con, result: tuple[list, list], oracle_sql: str, name: str) -> None:
    """The engine's (columns, rows) equal the DuckDB twin's under
    ``oracle.compare``."""
    from vat_etl_spark.oracle import compare

    ok, msg = compare(_Collected(*result), con, oracle_sql, name)
    _require(ok, msg)


# --------------------------------------------------------------------------


class CorpusBuild(Workload):
    """A nightly corpus refresh in two operations: ``build``, one full
    ``build_corpus`` over the planted fuzzy corpus into a fresh directory,
    then ``feed``, the night's feed epoch through the streaming gates of
    one stream that persists across refreshes — the exact-key gate
    (``admit_batch``), whose admitted docs go through the SimHash gate
    (``admit_neardup_batch``) — and a compaction of both indexes. Round
    ``k`` admits epoch ``k`` against the indexes of the epochs before it;
    each epoch's file is written just before its round."""

    name = "corpus_build"
    WARM_PASSES = 2
    DOCS = 600
    DOCS_PER_EPOCH = 200

    def warm_up(self, spark):
        """Two builds and one feed: on its second run a build is still well
        short of its warm wall, a feed is not. Epoch 1 is never fed."""
        return self.pass_ops(spark, 0) + [op for op in self.pass_ops(spark, 1)
                                          if op.label == "build"]

    def prepare(self):
        self.corpus_dir = os.path.join(self.tmp, "corpus")
        self.corpus = gen.fuzzy_corpus(self.corpus_dir, self.seed, self.DOCS)
        self.exact = os.path.join(self.tmp, "stream", "exact")
        self.near = os.path.join(self.tmp, "stream", "near")
        self.reference: tuple | None = None
        self.funnel: dict = {}
        self.seen: set = set()
        self.offered = self.admitted = self.index_bytes = 0

    def pass_ops(self, spark, k):
        from vat_etl_spark.queries.llm_pipeline import build_corpus
        from vat_etl_spark.streaming.corpus import (
            admit_batch,
            admit_neardup_batch,
            compact_key_index,
            compact_simhash_index,
        )

        e = k
        path = gen.stream_epoch(os.path.join(self.tmp, "feed"), self.seed, e, self.DOCS_PER_EPOCH)
        out = os.path.join(self.tmp, "corpus_out")

        def build(spark, tracer):
            shutil.rmtree(out, ignore_errors=True)
            with tracer.span("queries.llm_pipeline.build_corpus"):
                return build_corpus(spark, self.corpus_dir, out)

        def check_build(m):
            try:
                self.check_build(spark, out, m)
            finally:
                shutil.rmtree(out, ignore_errors=True)

        def feed(spark, tracer):
            with tracer.span("streaming.admit_batch"):
                admit_batch(spark.read.parquet(path), self.exact, e)
            with tracer.span("streaming.admit_neardup_batch"):
                kept = spark.read.parquet(os.path.join(self.exact, "docs", f"epoch={e}"))
                admit_neardup_batch(kept, self.near, e)
            with tracer.span("streaming.compact"):
                compact_key_index(spark, self.exact, grace_seconds=0.0)
                compact_simhash_index(spark, self.near, grace_seconds=0.0)

        return [Op("build", build, check_build, self.corpus["docs"]),
                Op("feed", feed, lambda _: self.check_stream(e, self.DOCS_PER_EPOCH),
                   self.DOCS_PER_EPOCH)]

    def check_build(self, spark, out, m) -> None:
        from pyspark.sql import functions as F

        row = spark.read.parquet(os.path.join(out, "shards")).agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("doc_id", "text")).alias("h")).first()
        self.funnel = m["funnel"]
        check_funnel(m["funnel"], m["docs_written"], row["n"], self.corpus["funnel"])
        self.reference = check_same_build(
            self.reference, (tuple(m["funnel"].items()), row["n"], row["h"]))

    def check_stream(self, e: int, offered: int) -> None:
        keys = pq.read_table(os.path.join(self.exact, "docs", f"epoch={e}"),
                             columns=["content_key"]).column(0).to_pylist()
        check_keys_unique(keys, self.seen)
        self.offered += offered
        self.admitted = pq.read_table(os.path.join(self.near, "docs"),
                                      columns=["doc_id"]).num_rows
        self.index_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for sub in (os.path.join(self.exact, "key_index"),
                        os.path.join(self.near, "simhash_index"))
            for d, _, files in os.walk(sub) for f in files)

    def counters(self):
        out = {f"llm_pipeline.funnel.{s}": float(self.funnel.get(s, 0)) for s in FUNNEL_STAGES}
        out["streaming.admit_ratio"] = self.admitted / max(1, self.offered)
        out["streaming.index_bytes_per_admitted_doc"] = self.index_bytes / max(1, self.admitted)
        return out


def check_same_build(reference: tuple | None, build: tuple) -> tuple:
    """Every build of one corpus has the first build's funnel counts, row
    count and written-set hash; returns the reference to keep."""
    _require(reference is None or build == reference,
             f"build {build} differs from the first build {reference}")
    return build if reference is None else reference


def check_funnel(funnel: dict, docs_written: int, rows_written: int, expected: dict) -> None:
    """Monotone non-increasing funnel whose last stage is what was
    written, whose counts through ``span_removal`` are ``expected`` (the
    stages' DuckDB twins over the same corpus), and in which every stage
    the corpus has planted repeats for removes some."""
    counts = list(funnel.values())
    _require(list(funnel) == FUNNEL_STAGES, f"funnel stages {list(funnel)}")
    _require(counts[0] > 0 and counts[-1] > 0, f"empty funnel {funnel}")
    _require(all(a >= b for a, b in zip(counts, counts[1:])), f"funnel grows: {funnel}")
    _require(docs_written == counts[-1] == rows_written,
             f"docs_written {docs_written}, rows {rows_written}, last stage {counts[-1]}")
    got = {s: funnel[s] for s in expected}
    _require(got == expected, f"funnel {got} differs from the DuckDB twins' {expected}")
    for prev, stage in zip(FUNNEL_STAGES, FUNNEL_STAGES[1:]):
        if stage in PLANTED_STAGES:
            _require(funnel[stage] < funnel[prev], f"planted stage {stage} removed nothing")


# --------------------------------------------------------------------------


def check_keys_unique(keys: list, seen: set) -> None:
    """No content key is admitted twice: unique within the epoch and new
    against every earlier epoch. Adds the epoch's keys to ``seen``."""
    batch = set(keys)
    _require(len(batch) == len(keys), "a content key was admitted twice in one epoch")
    _require(not (batch & seen), "a content key admitted in an earlier epoch was admitted again")
    seen |= batch


WORKLOADS = {w.name: w for w in (QueryMix, CorpusBuild)}


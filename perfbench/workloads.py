"""The benchmark's workloads: closed loop, one client, seeded inputs.

Each workload makes its inputs in :meth:`setup` (untimed ops run there too,
so JVM start, codegen and Python-worker warm-up never land in a timed op)
and then runs :meth:`op` back to back, whole cycles of its op mix at a
time. Each op is timed and then checked against an independent oracle
after its clock stops.
"""

from __future__ import annotations

import glob
import math
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import gen

US = gen.US


@dataclass
class Op:
    name: str
    ms: float
    items: int
    ok: bool


class Ctx:
    """What a workload may touch: the session, its tracer, the seed and
    the run's private directories."""

    def __init__(self, spark, tracer, seed: int, root: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.data = os.path.join(root, "data")
        self.out = os.path.join(root, "out")
        os.makedirs(self.data)
        os.makedirs(self.out)
        #: seconds spent in each named set-up phase
        self.phases: dict[str, float] = {}

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0


def _timed(name: str, fn, items: int, check) -> Op:
    """Run ``fn`` as one op, then check its result with ``check`` after
    the clock stops."""
    t0 = time.perf_counter()
    res = fn()
    ms = (time.perf_counter() - t0) * 1e3
    return Op(name, ms, items, check(res))


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(
            a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _same_rows(got: dict, want: dict) -> bool:
    return got.keys() == want.keys() and all(
        len(got[k]) == len(want[k]) and all(map(_close, got[k], want[k]))
        for k in got)


def _metric(value, unit: str, n: int, **extra) -> dict:
    return {"value": value, "unit": unit, "n": n, **extra}


def _parquet_rows(path: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return [r for f in files for r in pq.read_table(f).to_pylist()]


# ---------------------------------------------------------------------------
# ts_dashboard
# ---------------------------------------------------------------------------


class TsDashboard:
    """Seeded mix of reference-parity bucketed queries over the parquet
    ``events`` table; every fourth query instead runs in key mode over an
    HBase-shaped cell table (latest-version pivot, rowkey timestamp plus
    qualifier offset)."""

    name = "ts_dashboard"
    n_queries = 48
    hbase_every = 4
    #: one pass of the op mix; runs and trace halves hold whole cycles
    cycle = hbase_every
    #: nominal time of one cycle on a 4-core x86 VM
    round_s = 3.0
    trace_ops = 4 * cycle
    cell_steps = 2_000      # 16k rows, 64k cells

    def setup(self, ctx: Ctx) -> None:
        from hbase_taggregator_spark import TimeseriesAggregator
        from hbase_taggregator_spark.sources.hbase import hbase_catalog

        with ctx.phase("data"):
            gen.write_parquet(gen.events_table(), os.path.join(ctx.data, "events.parquet"))
            self.queries = gen.dashboard_queries(ctx.seed, self.n_queries)
            cells, ev, val = gen.cells_table(
                np.random.default_rng([ctx.seed, 5]), 0, self.cell_steps)
            gen.write_parquet(cells, os.path.join(ctx.data, "cells.parquet"))
            self.key_queries = gen.key_queries(ctx.seed, self.n_queries // self.hbase_every,
                                               self.cell_steps)
        self.tsa = TimeseriesAggregator(ctx.spark)
        self.catalog = hbase_catalog("cells", {
            "rowkey": ("rowkey", "key", "binary"),
            "value": ("d", "v", "bigint"),
            "qoff": ("d", "q", "int"),
        })
        with ctx.phase("oracle"):
            con = duckdb.connect()
            con.execute(f"CREATE VIEW events AS SELECT * FROM '{ctx.data}/events.parquet'")
            self.want = {q: self._oracle(con, q) for q in self.queries}
            con.close()
            self.want.update({q: self._key_oracle(q, ev, val) for q in self.key_queries})
        with ctx.phase("warmup"):
            for q in gen.dashboard_queries(ctx.seed + 10_000, self.cycle - 1):
                self._run(ctx, q)
            self._run_key(ctx, gen.key_queries(ctx.seed + 10_000, 1, self.cell_steps)[0])

    @staticmethod
    def _oracle(con, q: gen.TsQuery) -> dict:
        """t_min-aligned half-open buckets over [t_min, upper), restated in
        DuckDB; keys (bucket_ms[, event_type]) → verb values."""
        lo, ival = q.t_min * US, q.interval * US
        dims = ", event_type" if q.grouped else ""
        verbs = ", ".join(f"{v}(value)" for v in q.verbs)
        rows = con.execute(f"""
            SELECT b // 1000{dims}, {verbs} FROM (
              SELECT {lo} + ((epoch_us(ts) - {lo}) // {ival}) * {ival} AS b,
                     event_type, value
              FROM events
              WHERE epoch_us(ts) >= {lo} AND epoch_us(ts) < {q.upper() * US})
            GROUP BY ALL""").fetchall()
        k = 2 if q.grouped else 1
        return {tuple(r[:k]): tuple(r[k:]) for r in rows}

    def _run(self, ctx: Ctx, q: gen.TsQuery) -> dict:
        from hbase_taggregator_spark.sources import load_table

        tr = ctx.tracer
        with tr.span("op.ts_query") as top:
            with tr.span("sources.parquet.load_table"):
                ev = load_table(ctx.spark, ctx.data, "events", time_range=(
                    q.t_min * US, (q.t_max + 2 * q.interval) * US))
            with tr.span("operators.timeseries.build"):
                tq = (self.tsa.table(ev).range(q.t_min, q.t_max)
                      .interval(q.interval).mode(q.cutoff))
                if q.grouped:
                    tq = tq.group_by("event_type")
                if len(q.verbs) == 1:
                    df = getattr(tq, q.verbs[0])()
                else:
                    df = tq.agg(**{v: v for v in q.verbs})
            with tr.span("operators.timeseries.exec") as ex:
                if len(q.verbs) == 1 and not q.grouped:
                    res = {(k,): (v,) for k, v in tq.to_map(df).items()}
                else:
                    res = {
                        (r["bucket_start_us"] // 1000,
                         *([r["event_type"]] if q.grouped else [])):
                        tuple(r[v] for v in q.verbs)
                        for r in df.collect()
                    }
        tr.plan(ex, df)
        tr.count(top, result_rows=len(res))
        return res

    @staticmethod
    def _key_oracle(q: gen.TsQuery, ev: np.ndarray, val: np.ndarray) -> dict:
        """The generator's own aggregates of the latest-version values."""
        keep = (ev >= q.t_min) & (ev < q.upper())
        b = (ev[keep] - q.t_min) // q.interval
        v = val[keep]
        out = {}
        for k in np.unique(b):
            x = v[b == k]
            s = int(x.sum())
            out[((q.t_min + int(k) * q.interval) * 1000,)] = (
                int(x.max()), int(x.min()), s, len(x), s / len(x))
        return out

    def _run_key(self, ctx: Ctx, q: gen.TsQuery) -> dict:
        from hbase_taggregator_spark.sources import load_table
        from hbase_taggregator_spark.sources.hbase import load_hbase_fixture

        tr = ctx.tracer
        with tr.span("op.hbase_query") as top:
            with tr.span("sources.parquet.load_table"):
                cells = load_table(ctx.spark, ctx.data, "cells")
            with tr.span("sources.hbase.load_hbase_fixture"):
                table = load_hbase_fixture(ctx.spark, self.catalog, cells)
            with tr.span("operators.timeseries.build"):
                df = (self.tsa.table_from_rowkey(table, gen.CELL_MASK, qualifier_col="qoff")
                      .range(q.t_min, q.t_max).interval(q.interval).mode(q.cutoff)
                      .agg(max="mx", min="mn", sum="sm", count="ct", avg="av"))
            with tr.span("operators.timeseries.exec") as ex:
                res = {(r["bucket_start_us"] // 1000,):
                       (r["mx"], r["mn"], r["sm"], r["ct"], r["av"])
                       for r in df.collect()}
        tr.plan(ex, df)
        tr.count(top, result_rows=len(res))
        return res

    def op(self, ctx: Ctx, i: int) -> Op:
        n, step = divmod(i, self.hbase_every)
        if step == self.hbase_every - 1:
            q = self.key_queries[n % len(self.key_queries)]
            name, run = "hbase_query", self._run_key
        else:
            q = self.queries[(i - n) % len(self.queries)]
            name, run = "query", self._run
        return _timed(name, lambda: run(ctx, q), 1,
                      lambda res: _same_rows(res, self.want[q]))

    def detail(self, s: dict) -> dict:
        """The run's end-to-end numbers under this workload's names."""
        q, h = s["parts"]["query"], s["parts"]["hbase_query"]
        tail, pct = q["tail"]
        n = q["n"] + h["n"]
        return {
            "ts_query_p50_ms": _metric(q["p50_ms"], "ms", q["n"]),
            "ts_query_tail_ms": _metric(tail, "ms", q["n"], percentile=pct),
            "ts_queries_per_s": _metric(n / s["wall_s"], "1/s", n),
            "hbase_query_p50_ms": _metric(h["p50_ms"], "ms", h["n"]),
        }

    def layer_detail(self, tr) -> dict:
        """Per-query medians of both query kinds, by the layer they
        describe."""
        def med(kind, key, unit="count"):
            vals = [tr.inclusive(s, key) for s in tr.by_name(kind)]
            return _metric(statistics.median(vals) if vals else 0, unit, len(vals))

        q, h = "op.ts_query", "op.hbase_query"
        construct = [s.ms for s in tr.by_name("sources.hbase.load_hbase_fixture")]
        return {
            "operators.timeseries.stages_per_query": med(q, "stages"),
            "operators.timeseries.tasks_per_query": med(q, "tasks"),
            "operators.timeseries.agg_time_ms": med(q, "agg_time_ms", "ms"),
            "operators.timeseries.shuffle_bytes": med(q, "shuffle_bytes", "bytes"),
            "operators.timeseries.shuffle_records": med(q, "shuffle_records"),
            "operators.timeseries.result_rows": med(q, "result_rows"),
            "sources.parquet.scan_time_ms": med(q, "scan_time_ms", "ms"),
            "sources.parquet.files_read": med(q, "files_read"),
            "sources.parquet.rows_scanned": med(q, "rows_scanned"),
            "sources.hbase.construct_ms": _metric(
                statistics.median(construct) if construct else 0, "ms", len(construct)),
            # the key-mode plan aggregates twice (the rowkey pivot, then
            # the buckets)
            "sources.hbase.pivot_agg_time_ms": med(h, "agg_time_ms", "ms"),
            "sources.hbase.rows_scanned": med(h, "rows_scanned"),
        }


# ---------------------------------------------------------------------------
# ann_corpus
# ---------------------------------------------------------------------------

#: the catalog gates' dials (queries_r12 / queries_r14 / queries_ext)
RECALL_K = 5
N_CENT = 16
N_PROBE = 4
PQ_M, PQ_CODES = 4, 16
RERANK_K = 20
#: recall floor of the catalog's quality gate for residual PQ with an
#: exact re-rank (IVFPQ_RECALL_FLOOR)
PQ_FLOOR = 0.8
FUNNEL = dict(threshold=0.4, k=16, bands=4)
DECON_RATIO, DECON_SHINGLE = 0.2, 5
N_STAGES = 4
QUALITY_COLS = ("doc_id", "q_n_chars", "q_n_tokens", "q_chars_per_token",
                "q_punct_ratio", "q_stopword_ratio")


class AnnCorpus:
    """The LLM-data half of the engine: a staged corpus-cleaning pass
    (exact dedup → MinHash funnel → decontamination → quality features,
    each stage written through ``sources.sinks``) and ANN query batches
    served from a persisted residual IVF-PQ index built during set-up."""

    name = "ann_corpus"
    #: query batches per round
    batches = 1
    #: a round: the corpus stages, then the query batches
    cycle = N_STAGES + batches
    #: nominal time of one cycle on a 4-core x86 VM
    round_s = 12.0
    trace_ops = cycle

    def setup(self, ctx: Ctx) -> None:
        from hbase_taggregator_spark.operators import similarity as S
        from hbase_taggregator_spark.sources import load_table

        with ctx.phase("data"):
            gen.write_parquet(gen.embeddings_table(), os.path.join(ctx.data, "embeddings.parquet"))
            gen.write_parquet(gen.documents_table(), os.path.join(ctx.data, "documents.parquet"))
        self.spark, self.out = ctx.spark, ctx.out
        self.heldout = gen.heldout_ids(ctx.seed)
        self.recall: list[float] = []
        with ctx.phase("oracle"):
            self._truth(ctx)
            self._corpus_oracle(ctx)
        # one pass over a small slice compiles the corpus stages before
        # the index build, so the build runs on a warm JVM as well
        with ctx.phase("warmup"):
            docs = pq.read_table(os.path.join(ctx.data, "documents.parquet"))
            gen.write_parquet(docs.slice(0, 60), os.path.join(ctx.data, "warmup.parquet"))
            for i, stage in enumerate(self._stages(ctx, "warmup")):
                self._stage(ctx, i == 0, *stage)
        st = ctx.spark.sparkContext.statusTracker()
        bus = ctx.spark.sparkContext._jsc.sc().listenerBus()
        path = os.path.join(ctx.data, "ivf_pq")
        emb = load_table(ctx.spark, ctx.data, "embeddings")
        bus.waitUntilEmpty()
        jobs0 = len(st.getJobIdsForGroup(None))
        with ctx.phase("index_build"):
            S.write_ivf_index(emb, self._cents(emb), path, pq=True, pq_residual=True,
                              pq_m=PQ_M, pq_codes=PQ_CODES, pq_refine_iters=1)
        bus.waitUntilEmpty()
        self.build_s = ctx.phases["index_build"]
        self.build_jobs = len(st.getJobIdsForGroup(None)) - jobs0
        self.index_files = len(glob.glob(f"{path}/cent_id=*/*.parquet"))
        # the build does not run the serve path's plans; one untimed batch
        # compiles them
        with ctx.phase("warmup"):
            self._serve(ctx, gen.query_batch(ctx.seed + 10_000, 0))

    @staticmethod
    def _cents(emb):
        return emb.orderBy("vec_id").limit(N_CENT).select(
            F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec"))

    def _truth(self, ctx: Ctx) -> None:
        """Exact L2 top-k of every vector (self excluded)."""
        x = np.array(pq.read_table(f"{ctx.data}/embeddings.parquet")
                     .column("embedding").to_pylist(), dtype=np.float64)
        n2 = (x * x).sum(1)
        d2 = n2[:, None] + n2[None, :] - 2 * x @ x.T
        np.fill_diagonal(d2, np.inf)
        self.l2_top = np.argsort(d2, axis=1, kind="stable")[:, :RECALL_K]

    def _corpus_oracle(self, ctx: Ctx) -> None:
        """Expected output of every corpus stage, from the DuckDB ORACLES
        of the catalog gates with the same dials, each run over the
        previous stage's expected survivors: ``self.want[stage output]``
        is (checked columns, {(doc_id,): values})."""
        from hbase_taggregator_spark.oracle_fragments import (
            _SQL_SHINGLES5, _SQL_TOKENS)
        from hbase_taggregator_spark.queries import ORACLES

        con = duckdb.connect()
        con.execute(f"CREATE TABLE docs AS SELECT * FROM '{ctx.data}/documents.parquet'")

        def over(ids, sql):
            """Run ``sql`` with ``documents`` = the docs with these ids."""
            con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM docs"
                        + (f" WHERE doc_id IN ({','.join(map(str, ids))})" if ids else ""))
            return con.execute(sql).fetchall()

        h = "CAST(concat('0x', substr(md5(concat('ct#', s)), 1, 15)) AS BIGINT)"
        decontaminate = f"""
            WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
            sh AS (SELECT doc_id, {_SQL_SHINGLES5} AS shingles FROM t),
            bt AS (SELECT {_SQL_TOKENS} AS toks FROM docs
                   WHERE doc_id IN ({','.join(map(str, self.heldout))})),
            bench AS (SELECT DISTINCT {h} AS h
                      FROM (SELECT unnest({_SQL_SHINGLES5}) AS s FROM bt)),
            corp AS (SELECT doc_id, {h} AS h
                     FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
            hits AS (SELECT doc_id, COUNT(*) AS n FROM corp
                     WHERE h IN (SELECT h FROM bench) GROUP BY 1),
            doomed AS (
              SELECT sh.doc_id FROM sh LEFT JOIN hits USING (doc_id)
              WHERE len(shingles) > 0
                AND CAST(COALESCE(n, 0) AS DOUBLE) / len(shingles) > {DECON_RATIO})
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM doomed)"""
        exact = {(r[1],): (r[2],) for r in over(None, ORACLES["dedup_exact"])}
        funnel = {(r[0],): () for r in over([k[0] for k in exact],
                                           ORACLES["dedup_funnel_survivors"])}
        clean = {(r[0],): () for r in over([k[0] for k in funnel], decontaminate)}
        ids = [k[0] for k in clean]
        self.want = {
            "exact": (("n_duplicates",), exact),
            "funnel": ((), funnel),
            "clean": ((), clean),
            "quality": (QUALITY_COLS[1:], {(r[0],): tuple(r[1:]) for r in
                                           over(ids, ORACLES["text_quality_features"])}),
        }
        con.close()

    # -- corpus stages ----------------------------------------------------
    def _stages(self, ctx: Ctx, docs: str) -> tuple:
        """(span, input, output, build) of each corpus stage; each reads
        the previous stage's output (the first reads ``docs``)."""
        from hbase_taggregator_spark.operators import dedup as D, text as X
        from hbase_taggregator_spark.sources import load_table

        def heldout():
            return load_table(ctx.spark, ctx.data, "documents").filter(
                F.col("doc_id").isin(self.heldout))

        return (
            ("operators.dedup.exact_dedup", docs, "exact",
             lambda d: D.exact_dedup(d, keep_columns=["text"])
             .select("doc_id", "text", "n_duplicates")),
            ("operators.dedup.dedup_funnel", "exact", "funnel",
             lambda d: d.join(D.dedup_funnel(d, **FUNNEL), "doc_id")
             .select("doc_id", "text")),
            ("operators.dedup.decontaminate", "funnel", "clean",
             lambda d: D.decontaminate(d, heldout(), max_ratio=DECON_RATIO,
                                       n_shingle=DECON_SHINGLE)
             .select("doc_id", "text")),
            ("operators.text.quality_features", "clean", "quality",
             lambda d: X.quality_features(d).select(*QUALITY_COLS)),
        )

    def _stage(self, ctx: Ctx, first: bool, span: str, src: str, out: str, build):
        """Load ``src``, build the stage's DataFrame, write it to ``out``."""
        from hbase_taggregator_spark.sources import load_table
        from hbase_taggregator_spark.sources.sinks import write_parquet

        tr = ctx.tracer
        path = os.path.join(ctx.out, f"{out}.parquet")
        with tr.span(span) as top:
            with tr.span("sources.parquet.load_table"):
                df = load_table(ctx.spark, ctx.data if first else ctx.out, src)
            df = build(df)
            with tr.span("sources.sinks.write") as sp:
                write_parquet(df, path)
        # the write ran its own copy of the plan; this one is only planned,
        # which is enough to count the Python evaluation nodes in it
        tr.plan(top, df)
        tr.count(sp, files_total=len(glob.glob(os.path.join(path, "*.parquet"))))
        return {(r["doc_id"],): tuple(r[c] for c in self.want[out][0])
                for r in _parquet_rows(path)}

    # -- ANN serving -------------------------------------------------------
    def _serve(self, ctx: Ctx, batch: list[int]) -> list:
        from hbase_taggregator_spark.operators import similarity as S
        from hbase_taggregator_spark.sources import load_table

        tr = ctx.tracer
        path = os.path.join(ctx.data, "ivf_pq")
        with tr.span("op.ann_pq") as top:
            with tr.span("sources.parquet.load_table"):
                emb = load_table(ctx.spark, ctx.data, "embeddings")
            queries = emb.filter(F.col("vec_id").isin(batch))
            with tr.span("operators.similarity.sidecar_read"):
                idx = S.read_ivf_index(ctx.spark, path)
                books = S.read_ivf_codebooks(ctx.spark, path)
                means = S.read_ivf_cell_means(ctx.spark, path)
            with tr.span("operators.similarity.serve_construct"):
                df = S.ivf_pq_topk_indexed(
                    idx, queries, self._cents(emb), books, k=RECALL_K, m=PQ_M,
                    n_probe=N_PROBE, rerank_k=RERANK_K, residual_means=means)
            with tr.span("operators.similarity.serve_exec") as ex:
                rows = [(r["query_id"], r["vec_id"]) for r in df.collect()]
        tr.plan(ex, df)
        tr.count(top, result_rows=len(rows))
        return rows

    def _recall(self, rows, batch) -> float:
        got = {(q, v) for q, v in rows}
        hits = sum((q, int(v)) in got for q in batch for v in self.l2_top[q])
        return hits / (len(batch) * RECALL_K)

    def op(self, ctx: Ctx, i: int) -> Op:
        """Step ``i % cycle`` of the round: a corpus stage, or one seeded
        query batch on the index."""
        n, step = divmod(i, self.cycle)
        if step < N_STAGES:
            span, src, out, build = self._stages(ctx, "documents")[step]
            return _timed(span, lambda: self._stage(ctx, step == 0, span, src, out, build),
                          gen.N_DOCS, lambda rows: _same_rows(rows, self.want[out][1]))
        batch = gen.query_batch(ctx.seed, n * self.batches + step - N_STAGES)

        def ok(rows):
            self.recall.append(self._recall(rows, batch))
            return len(rows) == len(batch) * RECALL_K and self.recall[-1] >= PQ_FLOOR

        return _timed("ann_pq", lambda: self._serve(ctx, batch), len(batch), ok)

    def detail(self, s: dict) -> dict:
        """The run's end-to-end numbers under this workload's names."""
        P = s["parts"]
        stages = {k: v for k, v in P.items() if k != "ann_pq"}
        d = {"corpus_pipeline_s": _metric(
            sum(v["p50_ms"] for v in stages.values()) / 1e3, "s",
            min(v["n"] for v in stages.values()))}
        d.update({f"{k}_s": _metric(v["p50_ms"] / 1e3, "s", v["n"])
                  for k, v in stages.items()})
        a = P["ann_pq"]
        d["ann_batch_p50_ms"] = _metric(a["p50_ms"], "ms", a["n"])
        d["ann_queries_per_s"] = _metric(a["items"] / (sum(a["ms"]) / 1e3), "1/s", a["n"])
        d["ann_build_s"] = _metric(self.build_s, "s", 1)
        return d

    # -- per-layer counts of a traced run ----------------------------------
    def layer_counts(self, tr) -> dict:
        serve = tr.by_name("op.ann_pq")
        kids = {s.id: [c for c in tr.spans if c.parent == s.id] for s in serve}

        def serve_jobs(names):
            return statistics.median(
                sum(tr.inclusive(c, "jobs") for c in kids[s.id] if c.name in names)
                for s in serve)

        # the first pass's scan of the index (the re-rank reads the probed
        # cells again)
        probed = [max(n for c in kids[s.id] for root, n in c.scans
                      if root.rstrip("/").endswith("ivf_pq")) / self.index_files
                  for s in serve]
        dedup = [s for s in tr.spans if s.name.startswith("operators.dedup.")]
        text = [s for s in tr.spans if s.name.startswith("operators.text.")]
        cand, verified = self._pairs(tr)
        return {
            "operators.similarity.build_jobs": (self.build_jobs, "count"),
            "operators.similarity.serve_construct_jobs": (serve_jobs(
                {"operators.similarity.sidecar_read",
                 "operators.similarity.serve_construct"}), "count"),
            "operators.similarity.serve_exec_jobs": (
                serve_jobs({"operators.similarity.serve_exec"}), "count"),
            "operators.similarity.probed_files_ratio": (statistics.median(probed), "ratio"),
            "operators.similarity.recall_at_5": (statistics.mean(self.recall), "ratio"),
            "operators.dedup.jobs": (sum(tr.inclusive(s, "jobs") for s in dedup), "count"),
            "operators.dedup.lsh_candidate_pairs": (cand, "count"),
            "operators.dedup.verified_pairs": (verified, "count"),
            "operators.dedup.verified_per_candidate": (
                verified / cand if cand else 0.0, "ratio"),
            "operators.text.python_eval_nodes": (
                sum(tr.inclusive(s, "python_nodes") for s in dedup + text), "count"),
        }

    def _pairs(self, tr) -> tuple[int, int]:
        """LSH candidate pairs of the funnel stage (the engine's own
        candidate generator, run outside any span) and how many of them
        pass exact Jaccard verification (recomputed here)."""
        from hbase_taggregator_spark.operators import dedup as D
        from hbase_taggregator_spark.sources import load_table

        docs = load_table(self.spark, self.out, "exact")
        pairs = D.minhash_lsh_candidates(
            docs, "text", "doc_id", 3, FUNNEL["k"], FUNNEL["bands"]).collect()
        text = {r["doc_id"]: r["text"] for r in docs.collect()}

        def shingles(t):
            toks = t.strip().lower().split()
            return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

        verified = 0
        for r in pairs:
            a, b = shingles(text[r["id_a"]]), shingles(text[r["id_b"]])
            common = len(a & b)
            verified += common > 0 and common / len(a | b) >= FUNNEL["threshold"]
        return len(pairs), verified

    def layer_detail(self, tr) -> dict:
        d = {"operators.similarity.write_ivf_index_s": _metric(self.build_s, "s", 1),
             "ann_build_s": _metric(self.build_s, "s", 1)}
        serve = tr.by_name("op.ann_pq")
        d["operators.similarity.shuffle_bytes"] = _metric(
            statistics.median(tr.inclusive(s, "shuffle_bytes") for s in serve),
            "bytes", len(serve))
        stages = [s for s in tr.spans if s.name.startswith("operators.dedup.")]
        d["operators.dedup.shuffle_bytes"] = _metric(
            sum(tr.inclusive(s, "shuffle_bytes") for s in stages), "bytes", len(stages))
        return d


WORKLOADS = {w.name: w for w in (TsDashboard, AnnCorpus)}

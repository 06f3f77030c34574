"""The three benchmark workloads.

Each workload has ``setup`` (staging plus warm-up, counted in
``setup_s``), ``op(i)`` (one timed operation, returns what the check
needs), ``check(i, out)`` (untimed correctness gate against an
independent reference; returns the input rows the operation consumed
and raises on a wrong result) and ``finish`` (untimed figures taken
after the loop). ``n_ops(seconds)`` is the fixed number of operations
a run of ``seconds`` times: ``seconds`` divided by the workload's
nominal cycle (one operation plus its untimed check, at the reference
host speed of ``run.py``), rounded up, so every run does the same work
whatever the host's speed at the moment.

All calls into the engine go through its public functions, each inside
a tracer span named after the layer it enters.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import re
from dataclasses import dataclass

import numpy as np
import pandas as pd


@dataclass
class Ctx:
    spark: object
    tracer: object
    inputs: str
    work: str
    seed: int
    manifest: dict


def _median(xs: list[float]) -> float:
    """Median, or 0 when every check failed and nothing was recorded."""
    return float(np.median(xs)) if xs else 0.0


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def _assert_same(got: pd.DataFrame, want: pd.DataFrame, key: str, what: str) -> None:
    """Exact compare of two frames keyed by the unique column ``key``,
    numeric and stringified (the oracle harness's rule)."""
    got = got[sorted(got.columns)].sort_values(key, ignore_index=True)
    want = want[sorted(want.columns)].sort_values(key, ignore_index=True)
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        raise AssertionError(
            f"{what}: shape {list(got.columns)} x {len(got)} != "
            f"{list(want.columns)} x {len(want)}"
        )
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    if (got.astype(str).values != want.astype(str).values).any():
        raise AssertionError(f"{what}: stringified values differ")


# ---------------------------------------------------------------------------
# daily_merge
# ---------------------------------------------------------------------------


class DailyMerge:
    """Consecutive 7-day windows over a z-ordered POS feed: indexed
    window read -> superdesconto transform -> versioned MERGE on
    etiqueta -> join-view fold of the window's orders/lineitem delta ->
    vacuum. Setup bootstraps the target and the view from all history
    before the first window."""

    name = "daily_merge"
    sf = 0.02
    window_days = 7
    history_start = dt.date(1990, 1, 1)
    # one year of history before the first window (orders start in
    # 1995): a target of ~all parts, bootstrapped in a few seconds
    first_window = dt.date(1996, 1, 1)
    warmup = 2
    keep = 3
    cycle_s_nominal = 2.6

    def _window(self, n: int) -> tuple[dt.date, dt.date, str]:
        lo = self.first_window + dt.timedelta(days=self.window_days * n)
        return lo, lo + dt.timedelta(days=self.window_days - 1), f"w{n:04d}"

    def setup(self, ctx: Ctx) -> None:
        from etl_spark_spark.pipelines.daily_loop import stage_feed
        from etl_spark_spark.sources.parquet import table
        from etl_spark_spark.sources.stats_index import build_stats_index

        self.ctx = ctx
        spark, tr = ctx.spark, ctx.tracer
        self.feed = f"{ctx.work}/pos_feed"
        self.target = f"{ctx.work}/best_sales"
        self.state = f"{ctx.work}/join_view"
        with tr.span("sinks.write_zordered"):
            stage_feed(spark, ctx.inputs, self.feed)
        with tr.span("sources.build_stats_index"):
            self.index = build_stats_index(
                spark, self.feed, ["l_shipdate"]
            ).localCheckpoint()
        self.part = table(
            spark, ctx.inputs, "part",
            columns=["p_partkey", "p_name", "p_brand", "p_retailprice"],
        )
        self.supplier = table(
            spark, ctx.inputs, "supplier", columns=["s_suppkey", "s_name"]
        )
        self.orders = table(
            spark, ctx.inputs, "orders",
            columns=["o_orderkey", "o_custkey", "o_orderdate"],
        ).withColumnRenamed("o_orderkey", "orderkey")
        with tr.paused():
            hist_hi = self.first_window - dt.timedelta(days=1)
            self._cycle(self.history_start, hist_hi, "w_hist", 0)
            for n in range(self.warmup):
                self._cycle(*self._window(n), n + 1)
        self.replayed = -1  # windows the DuckDB replay has applied
        self.con = None
        self.files_frac: list[float] = []
        self.rows_read_ratio: list[float] = []
        self.write_ratio: list[float] = []
        self.stored_ratio: list[float] = []

    def _cycle(self, lo, hi, tag, batch_id):
        from pyspark.sql import functions as F

        from etl_spark_spark.pipelines.superdesconto import best_sale_transform
        from etl_spark_spark.sinks.versioned import (
            merge_into_versioned,
            vacuum_versions,
        )
        from etl_spark_spark.sources.parquet import (
            read_date_range,
            read_date_range_indexed,
        )
        from etl_spark_spark.streaming.join_mv import apply_join_batch

        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.span("sources.read_date_range_indexed"):
            scan = read_date_range_indexed(
                spark, self.feed, "l_shipdate", lo, hi, index=self.index
            )
        best = best_sale_transform(scan.df, self.part, self.supplier).withColumn(
            "src_window", F.lit(tag)
        )
        with tr.span("sinks.merge_into_versioned"):
            merge_into_versioned(spark, best, self.target, ["etiqueta"])
        orders_delta = read_date_range(self.orders, "o_orderdate", lo, hi)
        lines_delta = scan.df.select(
            F.col("l_orderkey").alias("orderkey"),
            "l_linenumber",
            "l_extendedprice",
        )
        with tr.span("streaming.apply_join_batch"):
            apply_join_batch(orders_delta, lines_delta, batch_id, ["orderkey"], self.state)
        with tr.span("sinks.vacuum_versions"):
            vacuum_versions(self.target, keep=self.keep)
        return scan

    def n_ops(self, seconds: float) -> int:
        return math.ceil(seconds / self.cycle_s_nominal)

    def op(self, i: int):
        lo, hi, tag = self._window(self.warmup + i)
        return self._cycle(lo, hi, tag, self.warmup + i + 1)

    # -- untimed reference: a DuckDB replay of the same windows and MERGE
    def _duck(self):
        import duckdb

        if self.con is None:
            con = duckdb.connect()
            for t in ("lineitem", "part", "supplier", "orders"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.ctx.inputs}/{t}.parquet')"
                )
            con.execute("""
                CREATE TABLE target (etiqueta VARCHAR, filial BIGINT,
                  cod_prod BIGINT, periodo VARCHAR, venda DOUBLE,
                  venda_desconto DOUBLE, perc_dsc_cupom DOUBLE,
                  src_window VARCHAR)""")
            self.con = con
        return self.con

    def _replay(self, lo: dt.date, hi: dt.date, tag: str) -> tuple[int, int]:
        """MERGE one window into the replay target; returns (feed rows
        in the window, rows of the window's best-sale source)."""
        con = self._duck()
        con.execute("DROP TABLE IF EXISTS src")
        con.execute(f"""
            CREATE TABLE src AS
            SELECT etiqueta, filial, cod_prod, periodo, venda,
                   venda_desconto, perc_dsc_cupom, '{tag}' AS src_window
            FROM (
              SELECT l_suppkey AS filial, l_partkey AS cod_prod,
                     CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS periodo,
                     lpad(CAST(l_partkey AS VARCHAR), 30, '0') AS etiqueta,
                     l_discount AS perc_dsc_cupom,
                     l_extendedprice AS venda,
                     l_extendedprice * (1 - l_discount) AS venda_desconto,
                     row_number() OVER (
                       PARTITION BY l_partkey
                       ORDER BY l_extendedprice * (1 - l_discount) DESC,
                                l_orderkey, l_linenumber) AS rn
              FROM lineitem
              WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '{lo}' AND DATE '{hi}'
            ) WHERE rn = 1""")
        con.execute("DELETE FROM target WHERE etiqueta IN (SELECT etiqueta FROM src)")
        con.execute("INSERT INTO target SELECT * FROM src")
        n_feed = con.execute(
            "SELECT count(*) FROM lineitem WHERE CAST(l_shipdate AS DATE) "
            f"BETWEEN DATE '{lo}' AND DATE '{hi}'"
        ).fetchone()[0]
        n_src = con.execute("SELECT count(*) FROM src").fetchone()[0]
        return int(n_feed), int(n_src)

    def check(self, i: int, out) -> int:
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from etl_spark_spark.sinks.versioned import read_versioned
        from etl_spark_spark.streaming.join_mv import read_join_view

        n = self.warmup + i
        if self.replayed < 0:
            self._replay(self.history_start,
                         self.first_window - dt.timedelta(days=1), "w_hist")
        n_feed = n_src = 0
        for w in range(self.replayed + 1, n + 1):
            n_feed, n_src = self._replay(*self._window(w))
        self.replayed = n
        _lo, hi, _tag = self._window(n)

        con = self._duck()
        want = con.execute("""
            SELECT t.etiqueta, t.filial, t.cod_prod, t.periodo, t.venda,
                   t.venda_desconto, t.perc_dsc_cupom,
                   p.p_name AS produto_nome, p.p_brand AS produto_marca,
                   p.p_retailprice AS preco_tabela,
                   s.s_name AS fornecedor_nome, t.src_window
            FROM target t
            JOIN part p ON t.cod_prod = p.p_partkey
            JOIN supplier s ON t.filial = s.s_suppkey""").fetchdf()
        snap = read_versioned(self.ctx.spark, self.target)
        snap_rows = snap.toPandas()
        _assert_same(snap_rows, want, "etiqueta", f"{self.name} snapshot {n}")

        view = read_join_view(self.ctx.spark, self.state).agg(
            F.count("*").alias("n"),
            F.sum("orderkey").alias("k"),
            F.sum(F.col("orderkey") * F.col("l_linenumber")).alias("kl"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("c"),
            F.sum("o_custkey").alias("cu"),
        ).collect()[0]
        ref = con.execute(f"""
            SELECT count(*), sum(o_orderkey),
                   sum(o_orderkey * l_linenumber),
                   sum(CAST(round(l_extendedprice * 100) AS BIGINT)),
                   sum(o_custkey)
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            WHERE CAST(o_orderdate AS DATE) <= DATE '{hi}'
              AND CAST(l_shipdate AS DATE) <= DATE '{hi}'""").fetchone()
        got = (view["n"], view["k"], view["kl"], view["c"], view["cu"])
        if tuple(int(x or 0) for x in got) != tuple(int(x or 0) for x in ref):
            raise AssertionError(f"join view after window {n}: {got} != {ref}")

        rows_read = sum(
            pq.ParquetFile(f.replace("file:", "", 1)).metadata.num_rows
            for f in out.df.inputFiles()
        )
        self.files_frac.append(out.n_files_read / out.n_files_total)
        self.rows_read_ratio.append(rows_read / max(n_feed, 1))
        self.write_ratio.append(len(snap_rows) / max(n_src, 1))
        data_files = snap.inputFiles()
        live = sum(os.path.getsize(f.replace("file:", "", 1)) for f in data_files)
        self.stored_ratio.append(_dir_bytes(self.target) / live)
        return n_feed

    def finish(self) -> dict:
        if self.con is not None:
            self.con.close()
        return {
            "stored_bytes_per_live_byte": _median(self.stored_ratio),
            "ratios": {
                "sources.files_read_frac": _median(self.files_frac),
                "sources.rows_read_per_window_row": _median(self.rows_read_ratio),
                "sinks.rows_written_per_source_row": _median(self.write_ratio),
            },
        }


# ---------------------------------------------------------------------------
# monthly_reports
# ---------------------------------------------------------------------------


class MonthlyReports:
    """A fixed mix of oracle-backed registry report queries, each pass
    in a seed-shuffled order, every query forced through the noop sink.
    A run times whole passes of the mix."""

    name = "monthly_reports"
    sf = 0.01
    mix = [
        "superdesconto",
        "allocation",
        "pricing_summary",
        "top_orders_per_customer",
        "shipping_priority",
        "events_sessionize",
        "orders_enriched",
        "customers_without_orders",
    ]
    pass_s_nominal = 8.0

    def setup(self, ctx: Ctx) -> None:
        import __spark_entry__ as entry

        self.ctx = ctx
        queries, oracles = entry.queries(), entry.oracle_sql()
        self.fns = {q: queries[q] for q in self.mix}
        self.sql = {q: oracles[q] for q in self.mix}
        rows = ctx.manifest["rows"]
        # input rows of a query: rows of every fixture table its oracle
        # SQL reads
        self.rows = {}
        for q, sql in self.sql.items():
            read = set(re.findall(r"\b(?:from|join)\s+([a-z_]+)", sql, re.I))
            self.rows[q] = sum(rows[t] for t in read if t in rows)
        self.rng = random.Random(ctx.seed)
        self.order: list[str] = []
        with ctx.tracer.paused():
            for q in self.mix:  # warm-up pass
                self._run(q)

    def _run(self, q: str):
        tr = self.ctx.tracer
        with tr.span("entry_queries.build"):
            df = self.fns[q](self.ctx.spark, self.ctx.inputs)
        with tr.span("entry_queries.execute"):
            df.write.format("noop").mode("overwrite").save()
        return df

    def n_ops(self, seconds: float) -> int:
        return math.ceil(seconds / self.pass_s_nominal) * len(self.mix)

    def op(self, i: int):
        if i % len(self.mix) == 0:
            self.order = list(self.mix)
            self.rng.shuffle(self.order)
        q = self.order[i % len(self.mix)]
        return q, self._run(q)

    def check(self, i: int, out) -> int:
        from oracle_utils import assert_oracle_match

        q, df = out
        assert_oracle_match(
            self.ctx.spark, self.ctx.inputs, lambda _s, _d: df, self.sql[q]
        )
        return self.rows[q]

    def finish(self) -> dict:
        return {"stored_bytes_per_live_byte": 1.0, "ratios": {}}


# ---------------------------------------------------------------------------
# doc_curation
# ---------------------------------------------------------------------------


class DocCuration:
    """One operation curates one shard of the generated corpus with the
    MinHash near-dup path, then runs IVF-PQ top-k over the shard's
    embeddings (the Arrow/pandas similarity path)."""

    name = "doc_curation"
    sf = 0.05
    n_queries = 16
    k = 5
    warmup = 1
    cycle_s_nominal = 6.0
    min_dup_recall = 0.9
    min_ann_recall = 0.8

    def setup(self, ctx: Ctx) -> None:
        import pyarrow.parquet as pq

        from etl_spark_spark.sources.parquet import table
        from gen import DOC_SHARD

        self.ctx = ctx
        self.shard = DOC_SHARD
        self.docs = table(ctx.spark, ctx.inputs, "documents")
        self.emb = table(ctx.spark, ctx.inputs, "embeddings")
        self.n_shards = ctx.manifest["rows"]["documents"] // self.shard
        self.doc_base = np.asarray(ctx.manifest["doc_base"])
        # exact reference vectors for the ANN recall check
        e = pq.read_table(f"{ctx.inputs}/embeddings.parquet").to_pandas()
        self.vecs = np.stack(e["embedding"].values).astype(np.float64)
        self.vecs /= np.linalg.norm(self.vecs, axis=1, keepdims=True)
        self.order = list(range(self.n_shards))
        random.Random(ctx.seed).shuffle(self.order)
        with ctx.tracer.paused():
            for w in range(self.warmup):
                self.check(-1, self._run(self.order[w]))

    def _run(self, s: int):
        from pyspark.sql import functions as F

        from etl_spark_spark.operators.similarity import cosine_topk_ivf_pq
        from etl_spark_spark.pipelines.curation import curate_documents

        tr = self.ctx.tracer
        lo, hi = s * self.shard, (s + 1) * self.shard
        with tr.span("pipelines.curate_documents"):
            batch = self.docs.filter(F.col("doc_id").between(lo, hi - 1))
            kept = [r[0] for r in curate_documents(
                batch, pair_stage="minhash"
            ).select("doc_id").collect()]
        with tr.span("operators.similarity"):
            corpus = self.emb.filter(F.col("vec_id").between(lo, hi - 1))
            queries = corpus.filter(F.col("vec_id") < lo + self.n_queries)
            nn = cosine_topk_ivf_pq(
                corpus, queries, "vec_id", "embedding", dim=64, k=self.k,
                n_lists=8, n_probe=4, rerank=32,
            ).select("query_id", "neighbor_id").collect()
        return s, kept, [(r[0], r[1]) for r in nn]

    def n_ops(self, seconds: float) -> int:
        return math.ceil(seconds / self.cycle_s_nominal)

    def op(self, i: int):
        return self._run(self.order[(self.warmup + i) % self.n_shards])

    def check(self, i: int, out) -> int:
        s, kept, nn = out
        lo, hi = s * self.shard, (s + 1) * self.shard
        base = self.doc_base[lo:hi]
        ids = np.arange(lo, hi)
        kept = set(kept)
        distinct = set(ids[base == ids])  # family bases and singletons
        dups = set(ids[base != ids])
        lost = distinct - kept
        if lost:
            raise AssertionError(f"shard {s}: distinct docs dropped: {sorted(lost)[:5]}")
        if dups:
            recall = len(dups - kept) / len(dups)
            if recall < self.min_dup_recall:
                raise AssertionError(f"shard {s}: planted-dup recall {recall:.3f}")
        # ANN recall against exact brute-force cosine top-k
        v = self.vecs[lo:hi]
        sims = v[: self.n_queries] @ v.T
        sims[np.arange(self.n_queries), np.arange(self.n_queries)] = -np.inf
        exact = np.argsort(-sims, axis=1, kind="stable")[:, : self.k] + lo
        got: dict[int, set] = {}
        for q, nb in nn:
            got.setdefault(q, set()).add(nb)
        hits = sum(len(got.get(lo + r, set()) & set(exact[r])) for r in range(self.n_queries))
        recall = hits / (self.n_queries * self.k)
        if recall < self.min_ann_recall:
            raise AssertionError(f"shard {s}: ANN recall@{self.k} {recall:.3f}")
        return self.shard

    def finish(self) -> dict:
        return {"stored_bytes_per_live_byte": 1.0, "ratios": {}}


WORKLOADS = {w.name: w for w in (DailyMerge, MonthlyReports, DocCuration)}

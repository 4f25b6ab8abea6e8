"""The benchmark's workloads.

Each workload is a closed loop with one client: every call waits for the
previous one. ``prepare`` writes the seeded inputs into a fresh directory
(repeatable) and ``warmup`` pays the cold starts; both count as set-up.
``job`` is one unit of the loop (the same work every time, so the
runner's medians are over like samples), ``finish`` runs once after the
loop, and ``main_step`` picks out the step the workload exists for.
``gate`` checks the outputs once per run, untimed, and ``report`` gives
the workload's own named metrics.

Why these two (each is the "should not move" side for the other):

- ``recommend`` spends nearly all its time in ``recsys`` (ALS on the
  pure-Java BLAS) and none in the table format or the SQL operators;
- ``ingest_churn`` interleaves writes and reads on the snapshot table
  format, so a change that speeds writes but slows reads shows up.

The read-only operator mix (:class:`AnalyticsMix`) is not a workload of
its own: a third workload's runs do not fit the benchmark's time budget.
Traced runs of ``recommend`` run it once, so its layers still get
per-layer numbers and its results are still checked against DuckDB.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import tempfile
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from . import datagen
from .stats import tail


class Ctx:
    """What a workload needs from the runner."""

    def __init__(self, spark, rec, seed: int, work_dir: str, cpu=lambda: 0.0):
        self.spark = spark
        self.rec = rec
        # set-up, gate and probe calls: outside the timed loop, never traced
        self.setup_rec = rec
        self.seed = seed
        self.work_dir = work_dir
        # CPU seconds used so far by the driver and its JVM
        self.cpu = cpu
        self.isolate_s = self.isolate_cpu_s = 0.0

    def isolate(self) -> None:
        """:func:`isolate`, timed so the runner can leave it out of job time."""
        t, c = time.time(), self.cpu()
        isolate(self.spark)
        self.isolate_s += time.time() - t
        self.isolate_cpu_s += self.cpu() - c

    def untimed(self, layer: str, fn, *args, **kwargs):
        """One call outside the timed loop (set-up, gates, probes), under a
        deadline like every call and counted with the set-up calls. A
        failure aborts the run."""
        ok, out = self.setup_rec.call(layer, fn, *args, **kwargs)
        if not ok:
            raise RuntimeError(f"{layer}: {out!r}")
        return out

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work_dir, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path


def _named(value: float, unit: str, n: int, note: str = "") -> dict:
    return {"value": value, "unit": unit, "n": n, "note": note}


def _p50_tail(prefix: str, xs: list[float]) -> dict:
    if not xs:
        return {}
    p, v, n = tail(xs)
    return {
        f"{prefix}_p50": _named(statistics.median(xs), "s", n),
        f"{prefix}_tail": _named(v, "s", n, f"p{p:g}"),
    }


# ---------------------------------------------------------------------------
# recommend — the reference program's four phases, job after job
# ---------------------------------------------------------------------------


class Recommend:
    name = "recommend"
    # each end-to-end figure is a median over at least this many timed jobs
    min_jobs = 3
    # 1,000 users x 300 items at 20% density: ~48k training ratings, half
    # the reference's MovieLens-100K split, enough per user and per item for
    # a rank-64 fit to beat the constant-mean predictor 2x
    SHAPE = (1000, 300, 0.2)
    MAX_ITER = 5
    WARMUP_ITER = 1

    def __init__(self, mix: AnalyticsMix | None = None):
        self.results: list[dict] = []
        self.last = None
        self.mix = mix or AnalyticsMix()

    def prepare(self, ctx: Ctx) -> None:
        self.dir = ctx.fresh_dir("recommend")
        datagen.write_ratings(self.dir, ctx.seed, *self.SHAPE)

    def warmup(self, ctx: Ctx) -> None:
        """One job with a short fit: it pays the cold start of every phase.
        The JIT may still be settling in the first timed job, which the
        median over the loop's jobs absorbs."""
        self.job(ctx, max_iter=self.WARMUP_ITER)
        self.results.clear()

    def job(self, ctx: Ctx, max_iter: int | None = None) -> None:
        from svdmovie_lens_parallel_apache_spark_spark.operators.stats import keyed_stats
        from svdmovie_lens_parallel_apache_spark_spark.recsys import (
            ALSConfig,
            evaluate,
            predict,
            train_als,
        )
        from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table

        rec, spark = ctx.rec, ctx.spark
        if self.last is not None:
            for df in self.last:
                df.unpersist()

        def load():
            ratings = load_table(spark, self.dir, "ratings")
            train, test = ratings.randomSplit([0.8, 0.2], seed=42)
            train, test = train.cache(), test.cache()
            return train, test, train.count(), test.count()

        ok, out = rec.call("sources.readers", load)
        if not ok:
            return
        train, test, n_train, n_test = out
        self.last = (train, test)

        def stats():
            return (keyed_stats(train, "user_id", "rating").count(),
                    keyed_stats(train, "item_id", "rating").count())

        rec.call("operators.stats", stats)
        cfg = ALSConfig(rank=64, reg=0.015, max_iter=max_iter or self.MAX_ITER, seed=42)
        ok, model = rec.call("recsys.train_als", train_als, train, cfg)
        if not ok:
            return
        ok, metrics = rec.call("recsys.predict_evaluate",
                               lambda: evaluate(predict(model, test)))
        if ok:
            self.results.append({"n_train": n_train, "n_test": n_test, **metrics})

    def gate(self, ctx: Ctx) -> list[str]:
        from pyspark.sql import functions as F

        if not self.results or self.last is None:
            return ["recommend: no job completed"]
        errors = []
        train, test = self.last
        last = self.results[-1]
        mean = ctx.untimed("gate.recommend", lambda: train.agg(F.avg("rating")).first()[0])
        base = ctx.untimed("gate.recommend", lambda: test.agg(
            F.sqrt(F.avg((F.col("rating") - F.lit(mean)) ** 2))).first()[0])
        self.baseline_rmse = base
        if last["n_test"] <= 0 or last["n"] <= 0:
            errors.append(f"recommend: empty test set ({last})")
        if not last["rmse"] * 2.0 <= base:
            errors.append(f"recommend: rmse {last['rmse']:.5f} is not 2x below "
                          f"the constant-mean predictor's {base:.5f}")
        rmses = {round(r["rmse"], 9) for r in self.results}
        if len(rmses) != 1:
            errors.append(f"recommend: jobs disagree on rmse {sorted(rmses)}")
        return errors + self.mix.errors

    def main_step(self, rec) -> tuple[list[float], list[float]]:
        """The ALS fit, the step the reference program is about: wall and
        CPU seconds of each."""
        fits = [c for c in rec.calls if c.ok and c.layer == "recsys.train_als"]
        return [c.wall for c in fits], [c.cpu_s for c in fits]

    def report(self, ctx: Ctx) -> dict:
        by = _walls_by_layer(ctx.rec)
        out = {}
        if by.get("recsys.train_als"):
            out["train_s"] = _named(statistics.median(by["recsys.train_als"]), "s",
                                    len(by["recsys.train_als"]))
        if by.get("recsys.predict_evaluate"):
            out["score_s"] = _named(statistics.median(by["recsys.predict_evaluate"]), "s",
                                    len(by["recsys.predict_evaluate"]))
        if self.results:
            out["model_rmse"] = _named(self.results[-1]["rmse"], "rmse", len(self.results))
            out["n_train_ratings"] = _named(self.results[-1]["n_train"], "count", 1)
        if hasattr(self, "baseline_rmse"):
            out["constant_mean_rmse"] = _named(self.baseline_rmse, "rmse", 1)
        return out | self.mix.named

    def layer_extras(self, ctx: Ctx) -> dict:
        return self.mix.probe(ctx)


# ---------------------------------------------------------------------------
# the analytics mix — read-only catalog queries, run in traced runs
# ---------------------------------------------------------------------------


# query -> the module whose operator carries it
ANALYTICS_MIX = {
    "q03_shipping_priority": "catalog.relational",
    "dedup_minhash": "operators.dedup",
    "knn_brute_cosine": "operators.similarity",
    "tfidf_top_terms": "operators.textops",
    "streaming_tumbling_counts": "streaming.jobs",
}
ANALYTICS_LAYERS = set(ANALYTICS_MIX.values())
FIXTURE_TABLES = ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings")


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Column-sorted, row-sorted frame with one dtype per kind, so Spark
    and DuckDB results compare cell by cell."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]) or pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].dt.tz_localize(None) if df[c].dt.tz is not None else df[c]
            df[c] = df[c].astype("datetime64[us]")
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> str | None:
    """``None`` when equal, else a one-line reason."""
    a, b = canonical(a), canonical(b)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows != {len(b)} rows"
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        same = (x == y) | (pd.isna(a[c]).to_numpy() & pd.isna(b[c]).to_numpy())
        if not same.all():
            i = int(np.argmax(~same))
            return f"column {c} row {i}: {x[i]!r} != {y[i]!r}"
    return None


class AnalyticsMix:
    """A fixed mix of catalog queries over a seeded sf0.01 fixture: one
    pass, in an order set by the seed, builds and collects each query as
    a traced call, and every result must equal its DuckDB oracle."""

    SF = 0.01

    def __init__(self, expected: dict[str, pd.DataFrame] | None = None):
        # ``expected`` replaces the DuckDB oracle (tests use it to prove
        # that a wrong expectation fails the run)
        self.expected_override = expected
        self.errors: list[str] = []
        self.named: dict = {}

    def probe(self, ctx: Ctx) -> dict:
        self.dir = ctx.fresh_dir("analytics")
        datagen.write_fixture(self.dir, ctx.seed, self.SF)
        t = time.time()
        with ctx.rec.span("analytics.pass"):
            actual = self._pass(ctx)
        xs = [c.wall for c in ctx.rec.calls if c.ok and c.layer in ANALYTICS_LAYERS]
        self.named = {"analytics_pass_s": _named(time.time() - t, "s", 1),
                      **_p50_tail("analytics_query_s", xs)}
        self.errors += self._gate(actual)
        return ctx.untimed("probe.lsh_recall", self._lsh_recall, ctx)

    def _pass(self, ctx: Ctx) -> dict[str, pd.DataFrame]:
        import __spark_entry__ as entry

        qs = entry.queries()
        order = list(ANALYTICS_MIX)
        np.random.default_rng(ctx.seed).shuffle(order)
        actual = {}
        for name in order:
            ok, out = ctx.rec.call(ANALYTICS_MIX[name],
                                   lambda b=qs[name]: b(ctx.spark, self.dir).toPandas())
            if ok:
                actual[name] = out
            ctx.isolate()
        return actual

    def _expected(self) -> dict[str, pd.DataFrame]:
        import __spark_entry__ as entry
        import duckdb

        if self.expected_override is not None:
            return self.expected_override
        con = duckdb.connect()
        for t in FIXTURE_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
        oracles = entry.oracle_sql()
        expected = {n: con.sql(oracles[n]).df() for n in ANALYTICS_MIX}
        con.close()
        return expected

    def _gate(self, actual: dict[str, pd.DataFrame]) -> list[str]:
        errors = []
        for name, want in self._expected().items():
            if name not in actual:
                errors.append(f"analytics: {name} failed")
                continue
            why = frames_equal(actual[name], want)
            if why is not None:
                errors.append(f"analytics: {name} differs from its oracle: {why}")
        return errors

    def _lsh_recall(self, ctx: Ctx) -> dict:
        """LSH recall at k against brute force, from ``ann_recall_gate``."""
        from svdmovie_lens_parallel_apache_spark_spark.operators.similarity import (
            ann_recall_gate,
            knn_brute_force,
            knn_lsh,
        )
        from svdmovie_lens_parallel_apache_spark_spark.sources.readers import load_table

        emb = load_table(ctx.spark, self.dir, "embeddings")
        approx = knn_lsh(emb, 10, 5).select("query_id", "neighbor_id").cache()
        brute = knn_brute_force(emb, 10, 5).select("query_id", "neighbor_id").cache()
        gate = ann_recall_gate(emb, approx, 10, 5, brute=brute).first()
        hits = brute.join(approx, ["query_id", "neighbor_id"], "left_semi").count()
        recall = hits / gate["n_brute_pairs"]
        approx.unpersist()
        brute.unpersist()
        return {
            "operators.similarity.lsh_recall_at_k": (recall, "ratio"),
            "operators.similarity.lsh_recall_base_pairs": (gate["n_brute_pairs"], "count"),
        }


def _walls_by_layer(rec) -> dict[str, list[float]]:
    by: dict[str, list[float]] = {}
    for c in rec.calls:
        if c.ok:
            by.setdefault(c.layer, []).append(c.wall)
    return by


def isolate(spark) -> None:
    """Reset session state between operations: active streams, temp
    views, the cache, and the engine's scratch directories (streaming
    checkpoints and the like) under the run's private temp root."""
    for q in spark.streams.active:
        q.stop()
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)
    spark.catalog.clearCache()
    for d in glob.glob(os.path.join(tempfile.gettempdir(), "svdml-*")):
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# ingest_churn — writes beside reads on the snapshot table format
# ---------------------------------------------------------------------------


# Every job of the loop is the same: stream one landing slice in, then
# refresh the view, refresh it again with nothing new (noop), read the
# change feed over the job's commit, a pruned scan and a time-travel
# scan. The seed picks the rows and ranges. A refresh costs a dozen Spark
# jobs whatever its delta, so a job that also held the row-level commits
# would leave room for too few jobs in the run's budget. Traced runs run
# those commits (upsert, delete, update, compaction) once, after the
# loop, and the gate's refresh folds them in before it checks the view.
# The view keeps counts and sums only, which the refresh maintains by
# folding signed deltas (the fold path) after appends and deletes alike;
# a min/max column would send every delete to the dirty-group recompute,
# which costs about twice as much.
MV_SPEC = {
    "group_by": ["o_orderstatus", "o_orderpriority"],
    "sums": {"price_cents": "CAST(round(o_totalprice * 100) AS BIGINT)"},
}


class ModelTable:
    """Independent model of the table: the same seeded operations replayed
    over the source rows in pandas."""

    def __init__(self, rows: pd.DataFrame):
        self.df = rows.reset_index(drop=True)
        self.changed_rows = 0
        self.changed_bytes = 0

    def _changed(self, rows: pd.DataFrame) -> None:
        self.changed_rows += len(rows)
        self.changed_bytes += pa.Table.from_pandas(rows, preserve_index=False).nbytes

    def append(self, rows: pd.DataFrame) -> None:
        self._changed(rows)
        self.df = pd.concat([self.df, rows], ignore_index=True)

    def upsert(self, rows: pd.DataFrame) -> None:
        hit = self.df["o_orderkey"].isin(rows["o_orderkey"])
        self._changed(self.df[hit])
        self._changed(rows)
        self.df = pd.concat([self.df[~hit], rows], ignore_index=True)

    def delete(self, mask: np.ndarray) -> None:
        self._changed(self.df[mask])
        self.df = self.df[~mask].reset_index(drop=True)

    def update(self, mask: np.ndarray, priority: str, add: float) -> None:
        self._changed(self.df[mask])
        self.df.loc[mask, "o_orderpriority"] = priority
        self.df.loc[mask, "o_totalprice"] = self.df.loc[mask, "o_totalprice"] + add
        self._changed(self.df[mask])

    def view(self) -> pd.DataFrame:
        d = self.df.assign(
            price_cents=np.round(self.df["o_totalprice"] * 100).astype("int64"))
        return d.groupby(MV_SPEC["group_by"], as_index=False).agg(
            n_rows=("o_orderkey", "size"), price_cents=("price_cents", "sum"))


def multiset_diff(a: pd.DataFrame, b: pd.DataFrame) -> int:
    """Rows whose signed count differs between ``a`` and ``b``."""
    a, b = canonical(a), canonical(b)
    if list(a.columns) != list(b.columns):
        return max(len(a), len(b)) or 1
    both = pd.concat([a.assign(__sign=1), b.assign(__sign=-1)], ignore_index=True)
    net = both.groupby(list(a.columns), dropna=False)["__sign"].sum()
    return int((net != 0).sum())


class IngestChurn:
    name = "ingest_churn"
    # a refresh's CPU time varies more from job to job than an ALS fit's
    min_jobs = 5
    N_ORDERS = 8_000       # source rows; half seed the table
    SLICE_ROWS = 300       # rows per landing-directory slice (one micro-batch)
    DEADLINE_S = 60.0

    def __init__(self):
        self.fresh: list[float] = []
        self.fresh_cpu: list[float] = []
        self.ingest_calls = 0
        self.ingest_rows = 0
        self.ingest_wall = 0.0
        self.progress: list[dict] = []
        self.mv_changed_rows = self.mv_mark = 0

    def prepare(self, ctx: Ctx) -> None:
        root = ctx.fresh_dir("ingest_churn")
        self.table = os.path.join(root, "table")
        self.view = os.path.join(root, "view")
        self.landing = os.path.join(root, "landing")
        self.ckpt = os.path.join(root, "checkpoint")
        os.makedirs(self.landing)
        self.rng = np.random.default_rng(ctx.seed)
        source = datagen.orders_table(self.rng, self.N_ORDERS, 1500)
        self.schema = source.schema
        source = source.to_pandas()
        half = self.N_ORDERS // 2
        self.pending = source.iloc[half:].reset_index(drop=True)
        self.model = ModelTable(source.iloc[:half])
        self.next_key = self.N_ORDERS
        self.slice_no = 0

    def warmup(self, ctx: Ctx) -> None:
        """Create the table and build its view, then run one job: the cold
        start of every path the loop takes."""
        from svdmovie_lens_parallel_apache_spark_spark.sources.materialized_view import (
            refresh_aggregate_view,
        )
        from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
            write_snapshot,
        )

        spark = ctx.spark
        base = spark.createDataFrame(self.model.df, schema=self._spark_schema(spark))
        ctx.untimed("setup.write_snapshot", write_snapshot, base, self.table,
                    stats_cols=["o_orderkey"])
        ctx.untimed("setup.refresh", refresh_aggregate_view, spark, self.table, self.view,
                    **MV_SPEC)
        self.job(ctx)

    def start_loop(self) -> None:
        from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
            latest_version,
        )

        self.loop_start_version = latest_version(self.table)
        self.ingest_calls = 0
        self.fresh.clear()
        self.fresh_cpu.clear()
        self.progress.clear()
        self.ingest_rows, self.ingest_wall = 0, 0.0
        # the rows the view's refreshes have had to fold in since here
        self.mv_changed_rows, self.mv_mark = 0, self.model.changed_rows
        self.bytes_at_start = _dir_bytes(self.table)
        self.changed_bytes_at_start = self.model.changed_bytes

    # -- the commit kinds --------------------------------------------------

    def _next_slice(self) -> pd.DataFrame:
        """Rows for the next landing slice: pending source rows, then fresh
        seeded rows once the source is drained."""
        n = self.SLICE_ROWS
        if len(self.pending) >= n:
            rows, self.pending = self.pending.iloc[:n], self.pending.iloc[n:]
            return rows.reset_index(drop=True)
        rows = datagen.orders_table(self.rng, n, 1500).to_pandas()
        rows["o_orderkey"] = np.arange(self.next_key, self.next_key + n, dtype=np.int64)
        self.next_key += n
        return rows

    def _ingest(self, ctx: Ctx):
        from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
            streaming_snapshot_sink,
        )

        rows = self._next_slice()
        # the upstream producer drops one file into the landing directory
        path = os.path.join(self.landing, f"slice-{self.slice_no:05d}.parquet")
        self.slice_no += 1
        pq.write_table(pa.Table.from_pandas(rows, schema=self.schema, preserve_index=False),
                       path)
        spark = ctx.spark

        def drain():
            q = (
                spark.readStream.schema(self._spark_schema(spark))
                .option("maxFilesPerTrigger", 1)
                .parquet(self.landing)
                .writeStream.foreachBatch(
                    streaming_snapshot_sink(self.table, app_id="perfbench"))
                .option("checkpointLocation", self.ckpt)
                .trigger(availableNow=True)
                .start()
            )
            try:
                if not q.awaitTermination(self.DEADLINE_S):
                    raise TimeoutError("availableNow query did not finish")
                return q.recentProgress
            finally:
                q.stop()

        ok, progress = ctx.rec.call("sources.snapshot_sink", drain,
                                    deadline_s=self.DEADLINE_S + 5)
        self.ingest_calls += 1
        if ok:
            self.model.append(rows)
            self.ingest_rows += len(rows)
            self.ingest_wall += ctx.rec.calls[-1].wall
            self.progress.extend(
                p for p in progress if p.get("numInputRows", 0) > 0)
        return ok

    def _spark_schema(self, spark):
        if not hasattr(self, "_sschema"):
            self._sschema = spark.createDataFrame(self.model.df.head(1)).schema
        return self._sschema

    def _merge(self, ctx: Ctx):
        from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import merge_upsert

        keys = self.model.df["o_orderkey"].to_numpy()
        hit = self.rng.choice(keys, min(200, len(keys)), replace=False)
        upd = self.model.df[self.model.df["o_orderkey"].isin(hit)].copy()
        upd["o_totalprice"] = np.round(upd["o_totalprice"] * 1.1, 2)
        new = self._next_slice().iloc[:100]
        rows = pd.concat([upd, new], ignore_index=True)
        df = ctx.spark.createDataFrame(rows, schema=self._spark_schema(ctx.spark))
        ok, _ = ctx.rec.call("sources.snapshot_table.merge_upsert",
                             merge_upsert, df, self.table, ["o_orderkey"])
        if ok:
            self.model.upsert(rows)
        return ok

    def _delete(self, ctx: Ctx):
        from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import delete_where

        r = int(self.rng.integers(0, 50))
        ok, _ = ctx.rec.call("sources.snapshot_table.delete_where", delete_where,
                             ctx.spark, self.table, f"o_orderkey % 50 = {r}")
        if ok:
            self.model.delete((self.model.df["o_orderkey"] % 50 == r).to_numpy())
        return ok

    def _update(self, ctx: Ctx):
        from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import update_where

        r = int(self.rng.integers(0, 40))
        ok, _ = ctx.rec.call(
            "sources.snapshot_table.update_where", update_where, ctx.spark, self.table,
            {"o_orderpriority": "'1-URGENT'", "o_totalprice": "o_totalprice + 1.0"},
            f"o_custkey % 40 = {r}")
        if ok:
            self.model.update((self.model.df["o_custkey"] % 40 == r).to_numpy(), "1-URGENT", 1.0)
        return ok

    def _compact(self, ctx: Ctx):
        from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import compact_table

        ok, _ = ctx.rec.call("sources.snapshot_table.compact_table", compact_table,
                             ctx.spark, self.table, 4, ["o_orderkey"])
        return ok

    # -- the loop ---------------------------------------------------------

    def _refresh(self, ctx: Ctx, path: str, t0: float, c0: float) -> None:
        from svdmovie_lens_parallel_apache_spark_spark.sources.materialized_view import (
            refresh_aggregate_view,
        )

        ok, _ = ctx.rec.call(f"sources.materialized_view.refresh.{path}", refresh_aggregate_view,
                             ctx.spark, self.table, self.view, **MV_SPEC)
        if ok and path != "noop":
            self.fresh.append(ctx.rec.calls[-1].end - t0)
            self.fresh_cpu.append(ctx.cpu() - c0)
            self.mv_changed_rows += self.model.changed_rows - self.mv_mark
            self.mv_mark = self.model.changed_rows

    def job(self, ctx: Ctx) -> None:
        """One job of the loop (see the comment on ``MV_SPEC``)."""
        from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
            latest_version,
            read_cdc,
            read_snapshot,
        )

        rec, spark = ctx.rec, ctx.spark
        prev = latest_version(self.table)
        t0, c0 = time.time(), ctx.cpu()
        if not self._ingest(ctx):
            return
        self._refresh(ctx, "fold", t0, c0)
        self._refresh(ctx, "noop", time.time(), ctx.cpu())
        cur = latest_version(self.table)
        rec.call("sources.snapshot_table.read_cdc",
                 lambda: read_cdc(spark, self.table, prev, cur).count())
        lo = int(self.rng.integers(0, self.N_ORDERS))
        rec.call("sources.snapshot_table.read_snapshot",
                 lambda: read_snapshot(spark, self.table, prune=("o_orderkey", lo, lo + 999))
                 .where(f"o_orderkey BETWEEN {lo} AND {lo + 999}").count())
        rec.call("sources.snapshot_table.read_snapshot",
                 lambda: read_snapshot(spark, self.table, version=prev).count())

    def finish(self, ctx: Ctx) -> None:
        """The row-level commits the loop leaves out, once per traced run."""
        from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
            latest_version,
        )

        self.loop_end_version = latest_version(self.table)
        if not ctx.rec.traced:
            return
        with ctx.rec.span("ingest_churn.maintenance"):
            if self._merge(ctx) and self._delete(ctx) and self._update(ctx):
                self._compact(ctx)

    def gate(self, ctx: Ctx) -> list[str]:
        from svdmovie_lens_parallel_apache_spark_spark.sources.materialized_view import (
            refresh_aggregate_view,
        )
        from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
            read_snapshot,
        )

        errors = []
        # fold in the loop's trailing commits before comparing the view
        ctx.untimed("gate.refresh", refresh_aggregate_view, ctx.spark, self.table, self.view,
                    **MV_SPEC)
        table = ctx.untimed("gate.read_table",
                            lambda: read_snapshot(ctx.spark, self.table).toPandas())
        why = frames_equal(table, self.model.df)
        if why is not None:
            errors.append(f"ingest_churn: table differs from the replayed model: {why}")
        view = ctx.untimed("gate.read_view",
                           lambda: read_snapshot(ctx.spark, self.view).toPandas())
        view = view[[c for c in view.columns if not c.startswith("__")]]
        n = multiset_diff(view, self.model.view())
        if n:
            errors.append(f"ingest_churn: view differs from a full recompute in {n} rows")
        return errors

    def main_step(self, rec) -> tuple[list[float], list[float]]:
        """View freshness: from the start of a job's commit until the
        refresh that covers it returns, in wall and CPU seconds."""
        return self.fresh, self.fresh_cpu

    def report(self, ctx: Ctx) -> dict:
        by = _walls_by_layer(ctx.rec)
        dml = [w for k in ("merge_upsert", "delete_where", "update_where")
               for w in by.get(f"sources.snapshot_table.{k}", [])]
        out = {}
        if self.ingest_wall > 0:
            out["ingest_rows_per_s"] = _named(self.ingest_rows / self.ingest_wall, "1/s",
                                              len(by.get("sources.snapshot_sink", [])))
        out.update(_p50_tail("dml_s", dml))
        out.update(_p50_tail("view_fresh_s", self.fresh))
        cdc = by.get("sources.snapshot_table.read_cdc", [])
        if cdc:
            out["cdc_read_s_p50"] = _named(statistics.median(cdc), "s", len(cdc))
        scans = by.get("sources.snapshot_table.read_snapshot", [])
        if scans:
            out["scan_s_p50"] = _named(statistics.median(scans), "s", len(scans))
        return out

    def layer_extras(self, ctx: Ctx) -> dict:
        from svdmovie_lens_parallel_apache_spark_spark.sources.snapshot_table import (
            latest_version,
            read_metadata_table,
        )

        out = {}
        grown = _dir_bytes(self.table) - self.bytes_at_start
        changed = self.model.changed_bytes - self.changed_bytes_at_start
        if changed > 0:
            out["sources.snapshot_table.bytes_written_per_changed_byte"] = (grown / changed, "ratio")
            out["sources.snapshot_table.changed_bytes"] = (changed, "B")
        files = [r["file"] for r in ctx.untimed(
            "probe.files", lambda: read_metadata_table(ctx.spark, self.table, "files")
            .select("file").collect())]
        live = sum(os.path.getsize(_shard_path(self.table, f)) for f in files)
        out["sources.snapshot_table.space_amp"] = (_dir_bytes(self.table) / live, "ratio")
        out["sources.snapshot_table.live_bytes"] = (live, "B")
        out["sources.snapshot_table.versions"] = (latest_version(self.table), "count")
        out["sources.snapshot_table.versions_per_job"] = (
            (self.loop_end_version - self.loop_start_version) / max(len(self.fresh), 1), "count")
        read = sum(sp.counts.get("input_records", 0) for sp in ctx.rec.spans
                   if sp.name.startswith("sources.materialized_view.refresh."))
        rows = self.mv_changed_rows
        if rows > 0:
            out["sources.materialized_view.rows_read_per_changed_row"] = (read / rows, "ratio")
            out["sources.materialized_view.changed_rows"] = (rows, "count")
        if self.progress:
            dur = [p.get("durationMs", {}) for p in self.progress]
            # per streamed slice, so the figure does not grow with the loop
            out["sources.snapshot_sink.batches"] = (
                len(self.progress) / max(self.ingest_calls, 1), "count")
            for key, name in (("triggerExecution", "trigger_ms"), ("addBatch", "add_batch_ms"),
                              ("walCommit", "wal_commit_ms")):
                vals = [d[key] for d in dur if key in d]
                if vals:
                    out[f"sources.snapshot_sink.{name}"] = (statistics.median(vals), "ms")
        return out


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _shard_path(table: str, f: str) -> str:
    # the ``files`` metadata table names shards relative to the table's
    # data directory
    return os.path.join(table, "data", f)


WORKLOADS = {w.name: w for w in (Recommend, IngestChurn)}

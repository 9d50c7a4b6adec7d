"""The benchmark workloads.

Each workload prepares its inputs from the seed (``prepare``, repeatable),
does its one-time cold work (``warm``), runs a closed loop of operations for
a given number of seconds (``measure``) and checks every output outside the
timed region (``check``). An operation is made of steps (see
:mod:`tracing`); in a traced run, every other step of each kind is traced
so the same run also gives the tracing overhead.

Generic end-to-end metrics (every workload):

* ``setup_s``        process start to the first timed operation, excluding checks
* ``op_s.p50``       median wall of one operation
* ``step_s.geomean`` geometric mean of the per-kind median step walls
* ``ops_per_s``      completed operations per second of the timed window
* ``peak_rss_mb``    peak RSS of the driver Python process plus the JVM

Generic per-layer metrics (every workload, traced run):

* ``plan_ms.per_op`` self time in layer calls that only build plans
* ``exec_ms.per_op`` self time in layer calls that run Spark jobs
* ``spark.jobs_per_op`` / ``spark.stages_per_op`` / ``spark.tasks_per_op``
* ``spark.failed_tasks`` failed tasks in the timed window
* ``trace.overhead_pct`` traced over untraced step walls, minus one
"""

from __future__ import annotations

import glob
import os
import random
import threading
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import datagen
from tracing import Step, Tracer, geomean, median, percentile

INF = float("inf")


@dataclass
class Report:
    op_s: list[float] = field(default_factory=list)
    steps: list[Step] = field(default_factory=list)
    elapsed_s: float = 0.0
    attempted: int = 0
    failed: int = 0

    def ops_per_s(self) -> float:
        return sum(1 for t in self.op_s if t != INF) / self.elapsed_s


class Workload:
    name = ""
    # The kinds of step an operation is made of.
    step_kinds: tuple[str, ...] = ()
    plan_spans: frozenset[str] = frozenset()
    exec_spans: frozenset[str] = frozenset()

    def __init__(self, spark, tracer: Tracer, data_dir: str, seed: int, scale: str):
        self.spark = spark
        self.tracer = tracer
        self.data_dir = data_dir
        self.seed = seed
        self.scale = scale
        self.report = Report()

    def traced(self, i: int) -> bool:
        return self.tracer.enabled and i % 2 == 1

    # ----------------------------------------------------------- end to end
    def step_walls(self, kind: str, traced: bool | None = None) -> list[float]:
        return [
            s.wall_s if not s.failed else INF
            for s in self.report.steps
            if s.kind == kind and (traced is None or s.traced == traced)
        ]

    def end_to_end(self, setup_s: float, rss_mb: float) -> dict:
        r = self.report
        return {
            "setup_s": (setup_s, "s"),
            "op_s.p50": (median(r.op_s), "s"),
            "step_s.geomean": (
                geomean([median(self.step_walls(k)) for k in self.step_kinds]),
                "s",
            ),
            "ops_per_s": (r.ops_per_s(), "1/s"),
            "peak_rss_mb": (rss_mb, "MB"),
        }

    def detail(self) -> dict:
        r = self.report
        return {f"{self.name}.error_rate": (r.failed / r.attempted, "failed/attempted")}

    # ------------------------------------------------------------ per layer
    def span_s(self, step: Step, names) -> float:
        """Self time of the step's spans whose name is in ``names``."""
        return sum(
            s.self_seconds
            for s in self.tracer.spans
            if s.step_id == step.step_id and s.name in names
        )

    def per_kind(self, kind: str, fn, traced_only: bool = True) -> float:
        vals = [
            fn(s)
            for s in self.report.steps
            if s.kind == kind and (s.traced or not traced_only) and not s.failed
        ]
        return median(vals) if vals else 0.0

    def per_op(self, fn, traced_only: bool = True) -> float:
        """Per-kind medians of ``fn``, weighted by steps of the kind per
        operation."""
        ops = len(self.report.op_s)
        return sum(
            self.per_kind(k, fn, traced_only) * len(self.step_walls(k)) / ops
            for k in self.step_kinds
        )

    def layer_metrics(self, session_s: float) -> dict:
        ratios = []
        for kind in self.step_kinds:
            on, off = self.step_walls(kind, True), self.step_walls(kind, False)
            if on and off:
                ratios.append(median(on) / median(off))
        return {
            "session.get_spark_s": (session_s, "s"),
            "plan_ms.per_op": (1e3 * self.per_op(lambda s: self.span_s(s, self.plan_spans)), "ms"),
            "exec_ms.per_op": (1e3 * self.per_op(lambda s: self.span_s(s, self.exec_spans)), "ms"),
            "spark.jobs_per_op": (self.per_op(lambda s: s.counts.jobs, False), "count"),
            "spark.stages_per_op": (self.per_op(lambda s: s.counts.stages, False), "count"),
            "spark.tasks_per_op": (self.per_op(lambda s: s.counts.tasks, False), "count"),
            "spark.failed_tasks": (
                sum(s.counts.failed_tasks for s in self.report.steps),
                "count",
            ),
            "trace.overhead_pct": (100.0 * (geomean(ratios) - 1.0) if ratios else 0.0, "%"),
        }

    def layer_detail(self) -> dict:
        return {}


def _parquet_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(f).metadata.num_rows for f in glob.glob(os.path.join(path, "*.parquet"))
    )


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


# ================================================================ lifecycle

N_LINES = {"full": 100_000, "tiny": 20_000}
SPLITS = ("train", "val", "test")


def lifecycle_steps(spark, tracer: Tracer, raw_path: str, out: str, ctx: dict):
    """The reference lifecycle as four steps: features + split writes, train,
    threshold sweep on val, eval on test. Each step is a closure over ``ctx``,
    where the model, the sweep and the eval results land."""
    from pyspark_retention_pipeline_spark import ml, retail
    from pyspark_retention_pipeline_spark.ml.workflow import (
        SEED,
        SPLIT_WEIGHTS,
        _sweep_best_threshold,
    )

    def split(name: str):
        return spark.read.parquet(os.path.join(out, name)).withColumnRenamed(
            "CustomerID", "custkey"
        )

    def features():
        raw = spark.read.parquet(raw_path)
        with tracer.span("retail.features"):
            feats = retail.build_features_and_labels(raw, datagen.CUTOFF)
        with tracer.span("sinks.split_write"):
            feats = feats.cache()
            feats.write.mode("overwrite").parquet(os.path.join(out, "features"))
            for name, df in zip(SPLITS, feats.randomSplit(SPLIT_WEIGHTS, seed=SEED)):
                df.write.mode("overwrite").parquet(os.path.join(out, name))
            feats.unpersist()

    def train():
        data = split("train")
        with tracer.span("ml.train"):
            ctx["model"] = ml.train_churn_model(data)

    def sweep():
        data = split("val")
        with tracer.span("ml.sweep"):
            ctx["best"] = _sweep_best_threshold(ml.score_frame(ctx["model"], data))

    def evaluate():
        data = split("test")
        with tracer.span("ml.eval"):
            ctx["eval"] = ml.evaluate_model(ctx["model"], data)

    return (("features", features), ("train", train), ("sweep", sweep), ("eval", evaluate))


BATCH_SIZE = {"full": 256, "tiny": 16}
BURST = 8  # requests per lifecycle; one of them is a batch
POOL_SIZE = 1024


class ChurnLifecycle(Workload):
    """Closed loop, 1 client: one operation is the reference's whole churn
    job on the seed's transactions, ending with the trained model served
    through ``ChurnScorer`` to concurrent clients."""

    name = "churn_lifecycle"
    step_kinds = ("features", "train", "sweep", "eval", "predict", "predict_batch")
    plan_spans = frozenset({"retail.features", "ml.score_records"})
    exec_spans = frozenset(
        {"sinks.split_write", "ml.train", "ml.sweep", "ml.eval", "serving.predict"}
    )

    def __init__(self, *a):
        super().__init__(*a)
        self.out = os.path.join(self.data_dir, "lifecycle")
        self.outcomes: list[dict] = []
        self.errors: list[str] = []
        self.bytes_written: list[int] = []
        self.burst_s: list[float] = []
        self.clients = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
        self._lock = threading.Lock()

    def prepare(self, i: int) -> None:
        self.raw_path = os.path.join(self.data_dir, f"raw{i}")
        datagen.write_transactions(self.spark, self.raw_path, N_LINES[self.scale], self.seed)

    def _op(self, op_index: int, record: bool) -> float:
        """One lifecycle; returns its wall including the untimed accounting."""
        from pyspark_retention_pipeline_spark.serving import ChurnScorer

        ctx: dict = {}
        steps = []
        t = time.perf_counter()
        for k, (kind, fn) in enumerate(
            lifecycle_steps(self.spark, self.tracer, self.raw_path, self.out, ctx)
        ):
            step = self.tracer.run_step(kind, fn, self.traced(op_index + k))
            steps.append(step)
            if step.failed:
                break
        wall = sum(s.wall_s for s in steps)
        served: list = []
        if not any(s.failed for s in steps):
            scorer = ChurnScorer(self.spark, ctx["model"], ctx["best"]["best_threshold"])
            burst_s, requests = self._serve(scorer, op_index)
            wall += burst_s
            steps.extend(requests)
            served = [(s.result[0], s.result[1]) for s in requests if not s.failed]
            self.outcomes.append(
                {
                    "splits": {n: _parquet_rows(os.path.join(self.out, n)) for n in SPLITS},
                    "features": _parquet_rows(os.path.join(self.out, "features")),
                    "threshold": scorer.threshold,
                    "auc": ctx["eval"]["areaUnderROC"],
                }
            )
            self.bytes_written.append(
                sum(_dir_bytes(os.path.join(self.out, n)) for n in ("features",) + SPLITS)
            )
            self.errors += check_responses(
                served, lambda idx: self.reference(scorer, idx), scorer.threshold
            )
        self.spark.catalog.clearCache()
        if record:
            r = self.report
            r.steps.extend(steps)
            r.attempted += len(steps)
            r.failed += sum(s.failed for s in steps)
            ok = len(steps) == 4 + BURST and not any(s.failed for s in steps)
            r.op_s.append(wall if ok else INF)
            if ok:
                self.burst_s.append(burst_s)
        return time.perf_counter() - t

    def _serve(self, scorer, op_index: int):
        """A burst of BURST requests from one client thread per core; one
        request in BURST is a batch. Returns the burst wall and the steps."""
        rng = random.Random(f"{self.seed}:serve:{op_index}")
        batch_at = rng.randrange(BURST)
        plan = [
            (j, rng.choices(range(POOL_SIZE), k=BATCH_SIZE[self.scale] if j == batch_at else 1))
            for j in range(BURST)
        ]
        steps: list[Step] = []

        def client(c: int) -> None:
            for j, idx in plan[c :: self.clients]:
                records = [self.pool[i] for i in idx]

                def request():
                    with self.tracer.span("serving.predict"):
                        return idx, scorer.predict(records)

                step = self.tracer.run_step(
                    "predict_batch" if j == batch_at else "predict",
                    request,
                    self.traced(op_index + j),
                )
                with self._lock:
                    steps.append(step)

        threads = [threading.Thread(target=client, args=(c,)) for c in range(self.clients)]
        t = time.perf_counter()
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
            if th.is_alive():
                raise RuntimeError("scoring client did not finish")
        return time.perf_counter() - t, steps

    def warm(self) -> float:
        from pyspark_retention_pipeline_spark.ml import FEATURE_COLS

        self.pool = datagen.scoring_records(FEATURE_COLS, POOL_SIZE, self.seed)
        self._op(0, record=False)
        return 0.0

    def measure(self, seconds: float) -> Report:
        import pyspark_retention_pipeline_spark.ml as ml_pkg

        # ChurnScorer.predict looks score_records up on the ml package at
        # call time, so a wrapper there sees every serving call.
        original = ml_pkg.score_records
        if self.tracer.enabled:
            ml_pkg.score_records = self.tracer.wrap("ml.score_records", original)
        try:
            spent = 0.0
            i = 0
            while spent < seconds:
                spent += self._op(i, record=True)
                i += 1
        finally:
            ml_pkg.score_records = original
        self.report.elapsed_s = spent
        return self.report

    def reference(self, scorer, indices) -> dict[int, float]:
        """P(churn) of pool records through ``ml.score_frame``, with the
        serving payload rules (missing, None or non-numeric -> 0.0, unknown
        keys dropped) applied here, independently of the package."""
        from pyspark.sql import types as T

        from pyspark_retention_pipeline_spark import ml

        def num(v) -> float:
            try:
                return float(v)
            except (TypeError, ValueError):
                return 0.0

        cols = list(scorer.feature_cols)
        rows = [(j, *[num(self.pool[j].get(c)) for c in cols]) for j in sorted(indices)]
        schema = T.StructType(
            [T.StructField("custkey", T.LongType())]
            + [T.StructField(c, T.DoubleType()) for c in cols]
        )
        frame = self.spark.createDataFrame(rows, schema)
        scored = ml.score_frame(scorer.model, frame, scorer.threshold)
        return {r["custkey"]: r["p_churn"] for r in scored.collect()}

    def check(self) -> list[str]:
        return check_outcomes(self.outcomes) + self.errors[:20]

    def detail(self) -> dict:
        d = super().detail()
        single = self.step_walls("predict")
        n_req = sum(len(self.step_walls(k)) for k in ("predict", "predict_batch"))
        d["lifecycle_s.p50"] = (median(self.report.op_s), "s")
        d["lifecycle_auc_roc"] = (self.outcomes[0]["auc"] if self.outcomes else 0.0, "1")
        d["lifecycle.customers"] = (self.outcomes[0]["features"] if self.outcomes else 0, "count")
        d["predict_ms.p50"] = (1e3 * median(single), "ms")
        d["predict_ms.p95"] = (1e3 * percentile(single, 95), "ms")
        d["predict.samples"] = (len(single), "count")
        d["predict_batch_ms.p50"] = (1e3 * median(self.step_walls("predict_batch")), "ms")
        d["scoring_rps"] = (n_req / sum(self.burst_s) if self.burst_s else 0.0, "requests/s")
        return d

    def layer_detail(self) -> dict:
        def layer(*names):
            return lambda s: self.span_s(s, set(names))

        d = {
            "retail.features_s": (self.per_kind("features", layer("retail.features")), "s"),
            "sinks.split_write_s": (self.per_kind("features", layer("sinks.split_write")), "s"),
            "ml.train_s": (self.per_kind("train", layer("ml.train")), "s"),
            "ml.sweep_s": (self.per_kind("sweep", layer("ml.sweep")), "s"),
            "ml.eval_s": (self.per_kind("eval", layer("ml.eval")), "s"),
            "serving.predict.self_ms": (
                1e3 * self.per_kind("predict", layer("serving.predict")),
                "ms",
            ),
            "ml.score_records_ms": (1e3 * self.per_kind("predict", layer("ml.score_records")), "ms"),
        }
        d["ml.train.jobs"] = (self.per_kind("train", lambda s: s.counts.jobs, False), "count")
        d["sinks.bytes_written"] = (median(self.bytes_written) if self.bytes_written else 0, "B")
        d["serving.jobs_per_request"] = (
            self.per_kind("predict", lambda s: s.counts.jobs, False),
            "count",
        )
        d["serving.tasks_per_request"] = (
            self.per_kind("predict", lambda s: s.counts.tasks, False),
            "count",
        )
        return d


def check_outcomes(outcomes: list[dict]) -> list[str]:
    """Split counts partition the feature rows; splits, threshold and AUC
    agree across every lifecycle of the run."""
    if not outcomes:
        return ["no lifecycle operation completed"]
    errors = []
    first = outcomes[0]
    if sum(first["splits"].values()) != first["features"] or not all(first["splits"].values()):
        errors.append(f"split counts {first['splits']} do not partition {first['features']} rows")
    for i, o in enumerate(outcomes[1:], 1):
        if o["splits"] != first["splits"] or o["features"] != first["features"]:
            errors.append(f"operation {i}: split counts {o['splits']} != {first['splits']}")
        if o["threshold"] != first["threshold"]:
            errors.append(f"operation {i}: threshold {o['threshold']} != {first['threshold']}")
        # The AUC is a sum over a distributed sort; its last bits may vary.
        if abs(o["auc"] - first["auc"]) > 1e-9:
            errors.append(f"operation {i}: AUC {o['auc']!r} != {first['auc']!r}")
    return errors


# ================================================================== catalog

CATALOG_QUERIES = (
    # relational
    "churn_features",
    "pricing_summary",
    "top_parts_per_segment",
    "large_volume_customers",
    "threshold_curve",
    # events
    "sessionize",
    "cohort_retention",
    "stickiness_ratio",
    # text and dedup
    "curate_corpus",
    "minhash_candidates",
    "neardup_edit_verify",
    # similarity
    "knn_bruteforce",
    "ivf_knn",
    "rrf_fusion",
)
CATALOG_SF = {"full": 0.005, "tiny": 0.001}


class CatalogMix(Workload):
    """Closed loop, 1 client: one operation is a pass over the 14 registry
    queries in a per-pass seeded order, each forced by a noop write."""

    name = "catalog_mix"
    step_kinds = CATALOG_QUERIES
    plan_spans = frozenset({"registry.build"})
    exec_spans = frozenset({"operators.exec"})
    # No DuckDB oracle: checked for a row count that is the same every pass.
    COUNTED = "minhash_candidates"

    def __init__(self, *a):
        super().__init__(*a)
        from pyspark_retention_pipeline_spark.registry import all_oracle_sql, all_queries

        queries = all_queries()
        self.fns = {q: queries[q] for q in CATALOG_QUERIES}
        self.oracle = all_oracle_sql()
        self.parity: dict[str, str] = {}
        self.counts: list[int] = []
        self.tables_warm_s = 0.0

    def prepare(self, i: int) -> None:
        from pyspark_retention_pipeline_spark import tables

        self.sf_dir = os.path.join(self.data_dir, f"sf{i}")
        datagen.write_catalog(self.sf_dir, CATALOG_SF[self.scale], self.seed)
        t = time.perf_counter()
        for df in tables.load_tables(self.spark, self.sf_dir).values():
            df.count()
        self.tables_warm_s = time.perf_counter() - t

    def warm(self) -> float:
        """A cold pass, then the correctness pass: every oracle-backed query
        is compared with DuckDB. The correctness pass also warms the driver
        for a second time, so the first timed pass is not still slower than
        the rest. Returns the correctness pass's time, which is check time."""
        from pyspark_retention_pipeline_spark.testing import duckdb_connection

        for q in CATALOG_QUERIES:
            self._query(q)()
        t = time.perf_counter()
        con = duckdb_connection(self.sf_dir)
        try:
            for q, fn in self.fns.items():
                df = fn(self.spark, self.sf_dir)
                if q in self.oracle:
                    err = parity_error(q, df, con, self.oracle[q])
                    if err:
                        self.parity[q] = err
                else:
                    self.counts.append(df.count())
        finally:
            con.close()
        return time.perf_counter() - t

    def _query(self, q: str):
        def run():
            with self.tracer.span("registry.build"):
                df = self.fns[q](self.spark, self.sf_dir)
            with self.tracer.span("operators.exec"):
                df.write.format("noop").mode("overwrite").save()

        return run

    def measure(self, seconds: float) -> Report:
        r = self.report
        p = 0
        while r.elapsed_s < seconds:
            order = list(CATALOG_QUERIES)
            random.Random(f"{self.seed}:{p}").shuffle(order)
            wall = 0.0
            for q in order:
                step = self.tracer.run_step(
                    q, self._query(q), self.traced(p + CATALOG_QUERIES.index(q))
                )
                r.steps.append(step)
                r.attempted += 1
                r.failed += step.failed
                wall += step.wall_s if not step.failed else INF
                if q == self.COUNTED:
                    self.counts.append(self.fns[q](self.spark, self.sf_dir).count())
            r.op_s.append(wall)
            r.elapsed_s += sum(s.wall_s for s in r.steps[-len(order):])
            p += 1
        return r

    def check(self) -> list[str]:
        errors = [f"{q}: {d}" for q, d in self.parity.items()]
        if len(set(self.counts)) != 1:
            errors.append(f"{self.COUNTED} row counts differ across passes: {self.counts}")
        return errors

    def detail(self) -> dict:
        d = super().detail()
        d["catalog_pass_s.p50"] = (median(self.report.op_s), "s")
        d["catalog_query_s.geomean"] = (
            geomean([median(self.step_walls(q)) for q in CATALOG_QUERIES]),
            "s",
        )
        return d

    def layer_detail(self) -> dict:
        build = lambda s: self.span_s(s, self.plan_spans)  # noqa: E731
        run = lambda s: self.span_s(s, self.exec_spans)  # noqa: E731
        d = {
            "tables.warm_s": (self.tables_warm_s, "s"),
            "registry.build_s": (self.per_op(build), "s"),
            "operators.exec_s": (self.per_op(run), "s"),
            "catalog.stages": (self.per_op(lambda s: s.counts.stages, False), "count"),
            "catalog.tasks": (self.per_op(lambda s: s.counts.tasks, False), "count"),
            "catalog.failed_tasks": (
                sum(s.counts.failed_tasks for s in self.report.steps),
                "count",
            ),
        }
        for q in CATALOG_QUERIES:
            d[f"catalog.{q}.build_s"] = (self.per_kind(q, build), "s")
            d[f"catalog.{q}.exec_s"] = (self.per_kind(q, run), "s")
            d[f"catalog.{q}.jobs"] = (self.per_kind(q, lambda s: s.counts.jobs, False), "count")
        return d


def parity_error(name: str, df, con, sql: str) -> str | None:
    """None when the query's rows equal the DuckDB oracle's, else why not."""
    from pyspark_retention_pipeline_spark.testing import compare_query

    r = compare_query(name, df, con, sql)
    return None if r.ok else r.detail


def check_responses(served, reference, threshold: float) -> list[str]:
    """Every response must equal the reference probability within 1e-12 and
    carry ``prediction == (p >= threshold)``."""
    if not served:
        return ["no scoring request completed"]
    ref = reference({j for idx, _ in served for j in idx})
    errors = []
    for idx, resp in served:
        if len(resp) != len(idx):
            errors.append(f"{len(resp)} responses for {len(idx)} records")
            continue
        for j, out in zip(idx, resp):
            p = out["probability"]
            if abs(p - ref[j]) > 1e-12 or out["prediction"] != float(p >= threshold):
                errors.append(f"record {j}: response {out} vs reference p={ref[j]!r}")
    return errors[:20]


WORKLOADS = {w.name: w for w in (ChurnLifecycle, CatalogMix)}

"""The benchmark's workloads.

Each workload runs in a fresh process against one Spark session and
reaches the program only through its public functions. Every timed
operation becomes a :class:`Sample`; in a traced run the sample also
carries the engine counters of its operation, read from the status
store outside the timed region.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone
from pathlib import Path

from perfbench.export import generate
from perfbench.sparkstats import StatusStoreReader

#: relational catalog queries: (name, layer the query exercises)
WAREHOUSE_SQL = [
    ("q01_pricing_summary", "plans"),
    ("q41_rollup_region_nation", "plans"),
    ("q72_tpch_q3_shipping_priority", "plans"),
    ("q81_tpch_q7_volume_shipping", "plans"),
    ("q97_event_funnel", "plans"),
    ("q105_tpch_q2_min_cost_supplier", "plans"),
    ("q124_grouping_sets", "plans"),
    ("q129_column_profile", "plans"),
]

#: LLM-curation operator mix, one or more queries per operator module
CORPUS_DEDUP = [
    ("q212_suffix_duplicated_spans", "suffixes"),
    ("q32_lsh_near_dup_pairs", "dedup"),
    ("q141_copurchase_triangles", "graph"),
    ("q92_cosine_near_dup_pairs", "similarity"),
    ("q115_pq_codes", "pq"),
]

#: fixed seed-42 tables each query workload reads
TESTDATA = Path(os.environ.get("PERFBENCH_TESTDATA", "/root/testdata"))
SF_DIR = {"warehouse_sql": TESTDATA / "sf0.1", "corpus_dedup": TESTDATA / "sf0.01"}
TABLES = {
    "warehouse_sql": ["region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events"],
    "corpus_dedup": ["documents", "embeddings", "lineitem"],
}

#: session restarts whose median is setup_s
SETUP_REPS = 5
#: warm passes always run; more run while the run's seconds last
MIN_WARM_PASSES = 3
MAX_WARM_PASSES = 12
#: masters in the journey's load-day export
JOURNEY_MASTERS = 300
JOURNEY_STEPS = ("read", "ingest", "translate", "enrich", "verify", "flagship")


@dataclass
class Sample:
    """One timed operation."""

    name: str
    module: str
    phase: str  # "cold"/"warm" for queries, "load"/"refresh" for the journey
    rep: int
    seconds: float
    parts: dict[str, float] = field(default_factory=dict)
    engine: dict[str, float] | None = None


@dataclass
class Outcome:
    samples: list[Sample] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    #: workload-specific figures: setup medians, journey ratios, ...
    extra: dict[str, float] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)


class Bench:
    """Session factory, setup timing and the engine reader for one run."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 run_dir: Path, nproc: int):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.run_dir, self.nproc = run_dir, nproc
        self.spark = None
        self.reader: StatusStoreReader | None = None
        self.out = Outcome()

    def _session(self):
        from product_etl_spark.session import get_spark

        spark = get_spark(
            f"perfbench-{self.workload}",
            master=f"local[{self.nproc}]",
            extra_conf={
                "spark.driver.memory": "3g",
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": str(self.run_dir / "spark-warehouse"),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self, prepare) -> None:
        """Start the JVM once, then time SETUP_REPS restarts of the
        session followed by ``prepare(spark)``."""
        t0 = time.perf_counter()
        self.spark = self._session()
        prepare(self.spark)
        self.out.extra["session.jvm_start_s"] = time.perf_counter() - t0
        starts, prepares = [], []
        for _ in range(SETUP_REPS):
            self.spark.stop()
            t0 = time.perf_counter()
            self.spark = self._session()
            t1 = time.perf_counter()
            prepare(self.spark)
            t2 = time.perf_counter()
            starts.append(t1 - t0)
            prepares.append(t2 - t1)
        totals = sorted(s + p for s, p in zip(starts, prepares))
        self.out.extra["setup_s"] = totals[len(totals) // 2]
        self.out.extra["session.start_s"] = sorted(starts)[len(starts) // 2]
        self.out.extra["session.load_tables_s"] = sorted(prepares)[len(prepares) // 2]
        if self.trace:
            self.reader = StatusStoreReader(self.spark)

    def engine(self, wall_s: float) -> dict[str, float] | None:
        return self.reader.collect(wall_s) if self.reader else None

    def forget_jobs(self) -> None:
        """Drop jobs run outside a timed operation from the next reading."""
        if self.reader:
            self.reader.mark()

    def warm_passes(self, run_pass) -> None:
        """MIN_WARM_PASSES, then more while ``seconds`` has not elapsed.
        In a traced run, odd passes are traced and even ones are not,
        so one process yields both sides of the tracing overhead."""
        t0 = time.perf_counter()
        n = 0
        while n < MIN_WARM_PASSES or (
            time.perf_counter() - t0 < self.seconds and n < MAX_WARM_PASSES
        ):
            run_pass(n, traced=self.trace and n % 2 == 1)
            n += 1

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


# --------------------------------------------------------------- queries


def run_queries(bench: Bench, queries: list[tuple[str, str]]) -> Outcome:
    from product_etl_spark import plans
    from product_etl_spark.plans import parity
    from product_etl_spark.session import load_tables

    sf_dir = str(SF_DIR[bench.workload])
    bench.setup(lambda s: load_tables(s, sf_dir, TABLES[bench.workload]))
    spark, out = bench.spark, bench.out
    order = list(queries)
    random.Random(bench.seed).shuffle(order)
    broken: set[str] = set()

    def execute(name: str, module: str, phase: str, rep: int, traced: bool) -> None:
        if name in broken:
            return
        if traced:
            bench.forget_jobs()
        out.attempted += 1
        try:
            t0 = time.perf_counter()
            df = plans.CATALOG[name]["fn"](spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception as e:  # a failed operation is counted, the run goes on
            broken.add(name)
            out.fail(f"{name}: {type(e).__name__}: {e}")
            bench.forget_jobs()
            return
        engine = bench.engine(t2 - t0) if traced else None
        out.samples.append(Sample(name, module, phase, rep, t2 - t0,
                                  {"build_s": t1 - t0, "execute_s": t2 - t1}, engine))

    # The cold pass runs in list order: the first query also pays the
    # JVM's generic warm-up, so a seed-dependent order would move cold_s.
    for name, module in queries:
        execute(name, module, "cold", 0, bench.trace)

    # Verification doubles as the fixed single warm-up execution.
    oracles = plans.oracle_sql()
    for name, _ in order:
        if name in broken:
            continue
        out.attempted += 1
        try:
            df = plans.CATALOG[name]["fn"](spark, sf_dir)
            ok, msg = parity.compare(df, oracles[name], sf_dir)
        except Exception as e:
            ok, msg = False, f"{type(e).__name__}: {e}"
        if not ok:
            broken.add(name)
            out.fail(f"{name}: verification: {msg}")
    bench.forget_jobs()

    def run_pass(rep: int, traced: bool) -> None:
        for name, module in order:
            execute(name, module, "warm", rep + 1, traced)

    bench.warm_passes(run_pass)
    return out


def warehouse_sql(bench: Bench) -> Outcome:
    return run_queries(bench, WAREHOUSE_SQL)


def corpus_dedup(bench: Bench) -> Outcome:
    return run_queries(bench, CORPUS_DEDUP)


# --------------------------------------------------------------- journey


def _tree_files(root: Path):
    for dirpath, _, files in os.walk(root):
        for f in files:
            yield Path(dirpath) / f


def _translator(batch: list[str]) -> list[str]:
    return [f"EN({v})" for v in batch]


def _ocr(url: str) -> str:
    return f"[ocr:{url.rsplit('/', 1)[-1]}]"


def _logistics(text: str) -> dict:
    return {"packaging_features": "boxed", "logistics_notes": text[:20]}


class Journey:
    """The load-day export into an empty warehouse, then the refresh
    export into the populated one. One such cycle is what a daily run
    of the CLI pays, cold JVM code paths included, and it fills a run:
    the load pass is every step's first execution, the refresh pass
    its second."""

    def __init__(self, bench: Bench, load_csv: Path, refresh_csv: Path, export):
        self.bench = bench
        self.root = bench.run_dir / "journey"
        self.csv = {"load": str(load_csv), "refresh": str(refresh_csv)}
        self.expected = {"load": export.load, "refresh": export.refresh}

    def run_pass(self, pass_name: str) -> bool:
        """One pass; False when a step raised and the pass stopped."""
        from pyspark.sql import functions as F

        from product_etl_spark.pipelines.enrichment import run_enrichment
        from product_etl_spark.pipelines.ingest import run_ingest
        from product_etl_spark.pipelines.translation import (
            run_translation_sweep,
            untranslated_candidates,
        )
        from product_etl_spark.pipelines.verification import assert_all, run_warehouse_checks
        from product_etl_spark.plans.warehouse import products_per_collection_with_names
        from product_etl_spark.sources.csv_reader import read_raw_products

        bench, out, spark, root = self.bench, self.bench.out, self.bench.spark, self.root
        traced = bench.trace
        wh, stages, cache = str(root / "warehouse"), str(root / "stages"), str(root / "mt_cache")
        state: dict = {}
        extra: dict[str, float] = {}
        started = time.time()

        def read():
            state["raw"] = read_raw_products(spark, self.csv[pass_name])

        def ingest():
            state["tables"] = dict(run_ingest(spark, state["raw"], wh).tables)

        def translate():
            state["tables"]["translations"] = run_translation_sweep(
                spark, f"{wh}/translations", _translator, "zh", "en", cache_path=cache)

        def enrich():
            raw = state["raw"]
            products = raw.filter(
                F.col("`Master Code`").isNotNull() & F.col("`Web Page Details`").isNotNull()
            ).select(
                F.col("`Master Code`").alias("product_id"),
                F.col("`Web Page Details`").alias("details_html"),
            ).dropDuplicates(["product_id"])
            state["stages"] = run_enrichment(spark, products, stages, _ocr, _translator, _logistics)

        def verify():
            assert_all(run_warehouse_checks(state["tables"]))

        def flagship():
            t = state["tables"]
            state["flagship"] = products_per_collection_with_names(
                t["product_collection"], t["product"], t["translations"], lang_code="en"
            ).collect()

        steps = dict(zip(JOURNEY_STEPS, (read, ingest, translate, enrich, verify, flagship)))
        for step, fn in steps.items():
            t_trace = time.perf_counter()
            if traced and step == "translate":
                extra.update(self._before_translate(spark, wh, cache, untranslated_candidates))
            if traced and step == "enrich":
                extra["kernel_rows_before"] = self._kernel_rows(spark, stages)
            bench.forget_jobs()
            out.extra["trace_wall_s"] += time.perf_counter() - t_trace
            out.attempted += 1
            try:
                t0 = time.perf_counter()
                fn()
                dt = time.perf_counter() - t0
            except Exception as e:
                out.fail(f"{pass_name}/{step}: {type(e).__name__}: {e}")
                return False
            t_trace = time.perf_counter()
            engine = bench.engine(dt) if traced else None
            if step == "read":
                extra["read_tasks"] = float(state["raw"].rdd.getNumPartitions())
            out.samples.append(Sample(f"{pass_name}.{step}", "pipelines", pass_name, 0, dt,
                                      engine=engine))
            out.extra["trace_wall_s"] += time.perf_counter() - t_trace
        if traced:
            extra.update(self._after_pass(spark, wh, stages, cache, started, pass_name, extra))
        for k, v in extra.items():
            out.extra[f"journey.{pass_name}.{k}"] = v
        if pass_name == "refresh":
            raw_bytes = sum(os.path.getsize(p) for p in self.csv.values())
            stored = sum(p.stat().st_size for p in _tree_files(root) if "mt_cache" not in p.parts)
            out.extra["storage_amp"] = stored / raw_bytes
        self._check(state, pass_name)
        return True

    # -- checks, outside every timed step ---------------------------------

    def _check(self, state: dict, pass_name: str) -> None:
        from pyspark.sql import functions as F

        out, exp = self.bench.out, self.expected[pass_name]
        problems = []
        got = {r["master_code"]: (r["n_products"], r["name"]) for r in state["flagship"]}
        want = {m: (n, f"EN({exp.names[m]})") for m, n in exp.products_per_master.items()}
        if got != want:
            bad = sorted(set(got.items()) ^ set(want.items()))[:3]
            problems.append(f"flagship differs, e.g. {bad}")
        t = state["tables"]
        counts = {
            "product_collection": (t["product_collection"].count(), exp.n_collections),
            "product": (t["product"].count(), exp.n_products),
            "en translations": (
                t["translations"].filter(F.col("lang_code") == "en").count(),
                exp.n_en_translations,
            ),
        }
        problems += [f"{k}: {g} rows, expected {w}" for k, (g, w) in counts.items() if g != w]
        self.bench.forget_jobs()
        out.attempted += 1
        if problems:
            out.fail(f"{pass_name}: " + "; ".join(problems))

    # -- traced-run measurements, outside every timed step -----------------

    @staticmethod
    def _count(spark, path: str) -> int:
        from product_etl_spark.operators.incremental import read_stage_table

        df = read_stage_table(spark, path)
        return 0 if df is None else df.count()

    def _before_translate(self, spark, wh, cache, untranslated_candidates) -> dict:
        pending = untranslated_candidates(spark.read.parquet(f"{wh}/translations"), "zh", "en")
        return {
            "mt_pending_values": float(pending.select("value").distinct().count()),
            "mt_cache_rows_before": float(self._count(spark, cache)),
        }

    def _kernel_rows(self, spark, stages: str) -> float:
        return float(sum(self._count(spark, f"{stages}/{s}")
                         for s in ("ocr", "translated", "logistics")))

    def _after_pass(self, spark, wh, stages, cache, started, pass_name, extra) -> dict:
        from pyspark.sql import functions as F

        misses = self._count(spark, cache) - extra["mt_cache_rows_before"]
        pending = extra["mt_pending_values"]
        written = [p for p in _tree_files(self.root)
                   if p.stat().st_mtime >= started and "mt_cache" not in p.parts]
        res = {
            "cache_hit_ratio": (pending - misses) / pending if pending else 0.0,
            "kernel_calls": self._kernel_rows(spark, stages) - extra["kernel_rows_before"],
            "bytes_written_mb": sum(p.stat().st_size for p in written) / 2**20,
            "files_written": float(sum(1 for p in written if p.suffix == ".parquet")),
        }
        if pass_name == "refresh":
            since = datetime.fromtimestamp(started, tz=timezone.utc)
            changed = offered = 0
            for table in sorted(os.listdir(wh)):
                df = spark.read.parquet(f"{wh}/{table}")
                if "modified_on" not in df.columns:
                    continue
                row = df.agg(F.count(F.lit(1)).alias("n"),
                             F.count(F.when(F.col("modified_on") >= F.lit(since), 1)).alias("c")
                             ).collect()[0]
                offered += row["n"]
                changed += row["c"]
            res["changed_ratio"] = changed / offered if offered else 0.0
        self.bench.forget_jobs()
        return res


def product_journey(bench: Bench) -> Outcome:
    from product_etl_spark.sources.csv_reader import read_raw_products

    export = generate(bench.seed, JOURNEY_MASTERS)
    exports = bench.run_dir / "exports"
    exports.mkdir()
    load_csv, refresh_csv = exports / "load.csv", exports / "refresh.csv"
    load_csv.write_bytes(export.load_csv)
    refresh_csv.write_bytes(export.refresh_csv)

    bench.setup(lambda s: read_raw_products(s, str(load_csv)).schema)
    bench.out.extra["trace_wall_s"] = 0.0
    journey = Journey(bench, load_csv, refresh_csv, export)
    if journey.run_pass("load"):
        journey.run_pass("refresh")
    return bench.out


WORKLOADS = {
    "warehouse_sql": warehouse_sql,
    "corpus_dedup": corpus_dedup,
    "product_journey": product_journey,
}

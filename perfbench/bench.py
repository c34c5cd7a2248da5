"""Workloads, passes and metrics of the street-graph benchmark.

One run = one workload in one fresh process, as a closed loop: a single
client runs sequential passes over inputs generated from the seed
before any timing starts.

    set-up      Spark session (JVM launch), Python-worker fork, input load
    cold pass   the first pass in the fresh session
    warm passes until ``--seconds`` have passed (at least ``min_warm``)
    checks      every pass's output against the Spark-free expectation

With ``--trace 1`` the warm passes alternate between the untraced pass
and a traced one that calls each module's public functions inside its
own span (one Spark job group per span) and materializes every layer's
output there; the Spark event log then gives each span's jobs, tasks
and driver time.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import reduce

from perfbench import checks, gen
from perfbench.eventlog import Span, Usage, covered_s, parse

SIMPLIFY_DELTA = 10.0
DISCRETIZE_DELTA = 50.0
PAGE_FILES = 8


# -- session -----------------------------------------------------------------


def start_session(work: str, cpus: int, trace: bool):
    from ophois_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        "perfbench", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8), extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def fork_python_workers(spark, cpus: int) -> None:
    """One job through the Arrow Python path on every core, so the
    worker daemon and its pandas/pyarrow imports exist before timing."""

    def ident(batches):
        yield from batches

    spark.range(cpus * 4, numPartitions=cpus).mapInPandas(ident, "id long").count()


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def peak_rss_mb(pid: int) -> float:
    """Sum of VmHWM (peak resident set) over ``pid`` and its descendants:
    the driver JVM plus the Python worker daemon and workers."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(d))
    total_kb = 0
    todo = [pid]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, []))
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


# -- digests -----------------------------------------------------------------


def _digest(df):
    from pyspark.sql import functions as F

    from ophois_spark import SEPARATOR

    row = F.concat_ws(SEPARATOR, *[F.col(c).cast("string") for c in df.columns])
    h = F.conv(F.substring(F.md5(row), 1, 10), 16, 10).cast("long")
    return df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h"))


def collect_digests(tables: dict) -> dict[str, checks.Digest]:
    """One Spark job: (row count, gen.row_hash sum) of every table."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    parts = [_digest(df).select(F.lit(name).alias("t"), "n", "h") for name, df in tables.items()]
    rows = reduce(DataFrame.unionByName, parts).collect()
    return {r["t"]: (int(r["n"]), int(r["h"] or 0)) for r in rows}


def graph_tables(prefix: str, g) -> dict:
    return {f"{prefix}nodes": g.nodes.select("id", "lat", "lon"), f"{prefix}links": g.edges.select("src", "dst")}


# -- tracing -----------------------------------------------------------------


@dataclass
class Tracer:
    """Spans of one traced pass; each span runs under its own job group."""

    spark: object
    tag: str
    spans: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        group = f"{self.tag}:{len(self.spans)}:{name}"
        sc.setJobGroup(group, name)
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(name, group, start, time.time()))
            sc.setJobGroup(f"{self.tag}:gap", "between spans")

    def finish(self) -> None:
        """End the traced pass: later jobs (checks, untraced passes) fall
        outside its groups."""
        self.spark.sparkContext.setJobGroup("untraced", "")


# -- workloads ---------------------------------------------------------------


@dataclass
class Prepared:
    """Inputs on disk plus what the checks expect of them."""

    n_pages: int
    n_links: int
    paths: dict[str, str]
    expect: dict


@dataclass
class PassResult:
    wall_s: float
    problems: list[str]
    spans: list[Span] = field(default_factory=list)
    extra: dict = field(default_factory=dict)


class IngestTile:
    """pages parquet → lang filter → graph_from_pages → cell groups and
    per-tile edges: the engine's graph-construction throughput path."""

    name = "ingest_tile"
    min_warm = 1

    def prepare(self, seed: int, work: str) -> Prepared:
        pages = gen.make_pages(seed, gen.INGEST_LAYOUT)
        path = os.path.join(work, "inputs", "pages")
        gen.write_pages_parquet(pages, path, PAGE_FILES)
        g = gen.replay_graph(pages.map_texts())
        return Prepared(
            len(pages),
            len(g.links),
            {"pages": path},
            {
                "digests": gen.expected_ingest(g),
                "records": g.records,
                "node_records": g.node_records,
                "texts": pages.map_texts(),
            },
        )

    def load(self, spark, prep: Prepared) -> dict:
        pages = spark.read.parquet(prep.paths["pages"])
        pages.count()
        return {"pages": pages}

    def _tiling(self, g) -> dict:
        from pyspark.sql import functions as F

        from ophois_spark.functions import cell_expr
        from ophois_spark.operators.spatial import tile_assignment

        groups = g.nodes.withColumn(
            "cell", cell_expr(F.col("lon_d"), F.col("lat_d"), gen.CELL_RES)
        ).groupBy("cell", "lat", "lon").agg(F.min("id").alias("rep"))
        tiles = tile_assignment(g.edges_with_coords(), gen.TILE_ZOOM)
        return {
            "cell_groups": groups.select("cell", "lat", "lon"),
            "tile_edges": tiles.select("src", "dst", "tile_x", "tile_y"),
        }

    def run_pass(self, spark, state: dict, prep: Prepared, k: int) -> PassResult:
        from pyspark.sql import functions as F

        from ophois_spark.operators.extract import graph_from_pages

        t0 = time.perf_counter()
        pages = state["pages"].filter(F.col("lang") == "en")
        g = graph_from_pages(pages, persist_records=True)
        got = collect_digests({"nodes": g.nodes.select("id", "lat", "lon"), "links": g.edges.select("src", "dst")})
        got.update(collect_digests(self._tiling(g)))
        wall = time.perf_counter() - t0
        spark.catalog.clearCache()
        return PassResult(wall, checks.check_digests(got, prep.expect["digests"]))

    def run_traced(self, spark, state: dict, prep: Prepared, k: int) -> PassResult:
        from pyspark.sql import functions as F

        from ophois_spark.operators.extract import extract_page_records
        from ophois_spark.sources.graph_io import parse_records

        tr = Tracer(spark, f"p{k}")
        t0 = time.perf_counter()
        with tr.span("extract"):
            pages = state["pages"].filter(F.col("lang") == "en")
            records = (
                extract_page_records(pages)
                .select(F.xxhash64("url").alias("pg"), "pos", "line")
                .localCheckpoint(eager=True)
            )
            n_records = records.count()
        with tr.span("graph_io"):
            g, _ = parse_records(records, ["pg", "pos"])
            g = g.checkpoint()
            got = collect_digests({"nodes": g.nodes.select("id", "lat", "lon"), "links": g.edges.select("src", "dst")})
        with tr.span("spatial"):
            got.update(collect_digests(self._tiling(g)))
        wall = time.perf_counter() - t0
        tr.finish()
        problems = checks.check_digests(got, prep.expect["digests"])
        if n_records != prep.expect["records"]:
            problems.append(f"extract: {n_records} records, expected {prep.expect['records']}")
        return PassResult(wall, problems, tr.spans)

    def layer_extras(self, prep: Prepared) -> dict[str, float]:
        """In-process kernel rate over the same page texts, no Spark."""
        from ophois_spark import SEPARATOR
        from ophois_spark.kernels.osmxml import extract_records

        texts = prep.expect["texts"]
        rates = []
        for _ in range(3):
            t0 = time.perf_counter()
            n = sum(len(extract_records(t.splitlines(), SEPARATOR)) for t in texts)
            rates.append(n / (time.perf_counter() - t0))
            if n != prep.expect["records"]:
                raise RuntimeError(f"extract_records gave {n} records, Spark path {prep.expect['records']}")
        nodes = prep.expect["digests"]["nodes"][0]
        return {
            "osmxml.records_per_s": statistics.median(rates),
            "graph_io.node_keep_ratio": nodes / prep.expect["node_records"],
        }


class Simplify:
    """A pre-built river-split street graph → pipeline.simplify(delta=10)
    → pipeline.discretize_pipeline(50) committed to a fresh snapshot
    root, then the same discretize call again, which resumes from it."""

    name = "simplify"
    min_warm = 1

    def prepare(self, seed: int, work: str) -> Prepared:
        pages = gen.make_pages(seed, gen.SIMPLIFY_LAYOUT)
        g = gen.replay_graph(pages.map_texts())
        path = os.path.join(work, "inputs", "graph")
        gen.write_graph_parquet(g, path)
        return Prepared(
            len(pages),
            len(g.links),
            {"graph": path},
            {
                "component": gen.largest_component(g),
                "banks": gen.bank_node_ids(seed, gen.SIMPLIFY_LAYOUT),
            },
        )

    def load(self, spark, prep: Prepared) -> dict:
        from ophois_spark.operators.graph import StreetGraph

        p = prep.paths["graph"]
        g = StreetGraph(
            spark.read.parquet(os.path.join(p, "nodes")), spark.read.parquet(os.path.join(p, "edges"))
        ).checkpoint()
        return {"graph": g, "work": os.path.dirname(os.path.dirname(p))}

    def _root(self, state: dict, k: int) -> str:
        return os.path.join(state["work"], "snapshots", f"pass{k}")

    def _check(self, spark, state, prep, simplified, metrics, metrics_d, got, root) -> list[str]:
        from ophois_spark.operators.discretize import discretize

        problems = checks.check_largest_component(
            [r["id"] for r in simplified.nodes.select("id").collect()],
            prep.expect["component"],
            prep.expect["banks"],
        )
        problems += checks.check_min_length(metrics["lengths"], SIMPLIFY_DELTA)
        problems += checks.check_order_size(metrics_d["order_size"], got["nodes"], got["links"])
        # committed and resumed tables against a discretize that writes no
        # snapshot, computed once per run
        if "unsnapshotted" not in state:
            state["unsnapshotted"] = collect_digests(graph_tables("", discretize(simplified, DISCRETIZE_DELTA)))
        for t, want in state["unsnapshotted"].items():
            for kind in ("", "resumed_"):
                if got[kind + t] != want:
                    problems.append(f"{kind or 'committed '}{t} {got[kind + t]} != unsnapshotted {want}")
        problems += checks.check_single_commit(root, f"discretize={DISCRETIZE_DELTA}")
        problems += checks.check_snapshots(root)
        return problems

    def run_pass(self, spark, state: dict, prep: Prepared, k: int) -> PassResult:
        from ophois_spark.pipeline import discretize_pipeline, simplify

        root = self._root(state, k)
        t0 = time.perf_counter()
        s, m = simplify(spark, state["graph"], SIMPLIFY_DELTA)
        d, md = discretize_pipeline(spark, s, DISCRETIZE_DELTA, snapshot_root=root)
        r, _ = discretize_pipeline(spark, s, DISCRETIZE_DELTA, snapshot_root=root)
        got = collect_digests({**graph_tables("", d), **graph_tables("resumed_", r)})
        wall = time.perf_counter() - t0
        return PassResult(wall, self._check(spark, state, prep, s, m, md, got, root))

    def run_traced(self, spark, state: dict, prep: Prepared, k: int) -> PassResult:
        from ophois_spark.operators.components import largest_component
        from ophois_spark.operators.contraction import (
            remove_degree_two_nodes,
            remove_under_delta_links,
            remove_under_delta_nodes,
        )
        from ophois_spark.operators.discretize import discretize
        from ophois_spark.operators.graph import StreetGraph
        from ophois_spark.pipeline import discretize_pipeline, graph_metrics
        from ophois_spark.plans.snapshots import SnapshotLog

        root = self._root(state, k)
        tr = Tracer(spark, f"p{k}")
        t0 = time.perf_counter()
        with tr.span("components"):
            g = comp = largest_component(state["graph"]).checkpoint()
        with tr.span("contraction"):
            g = remove_degree_two_nodes(g).checkpoint()
            g = remove_under_delta_nodes(g, SIMPLIFY_DELTA).checkpoint()
            s = remove_under_delta_links(g, SIMPLIFY_DELTA).checkpoint()
        with tr.span("metrics"):
            m = graph_metrics(s)
        # the stage names pipeline.discretize_pipeline commits under
        log = SnapshotLog(root)
        with tr.span("discretize"):
            d = discretize(s, DISCRETIZE_DELTA).checkpoint()
        with tr.span("snapshots.commit"):
            t = log.run_stage(
                spark, f"discretize={DISCRETIZE_DELTA}", lambda: {"nodes": d.nodes, "edges": d.edges}
            )
            d = StreetGraph(t["nodes"], t["edges"])
        with tr.span("metrics"):
            md = graph_metrics(d)
        with tr.span("snapshots.commit"):
            log.commit(f"discretize_metrics={DISCRETIZE_DELTA}", {}, md)
        stored = dir_bytes(os.path.join(root, "data"))
        with tr.span("snapshots.resume"):
            r, _ = discretize_pipeline(spark, s, DISCRETIZE_DELTA, snapshot_root=root)
        with tr.span("output"):
            got = collect_digests({**graph_tables("", d), **graph_tables("resumed_", r)})
        wall = time.perf_counter() - t0
        tr.finish()
        problems = self._check(spark, state, prep, s, m, md, got, root)
        problems += checks.check_component_exact(
            [r["id"] for r in comp.nodes.select("id").collect()], prep.expect["component"]
        )
        return PassResult(
            wall,
            problems,
            tr.spans,
            {"snapshots.bytes_written": stored, "snapshots.bytes_per_edge": stored / max(1, got["links"][0])},
        )

    def layer_extras(self, prep: Prepared) -> dict[str, float]:
        return {}


WORKLOADS = {w.name: w for w in (IngestTile(), Simplify())}


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


# -- metrics -----------------------------------------------------------------

LAYER_METRICS = {
    "osmxml.records_per_s": "1/s",
    "extract.s": "s",
    "extract.task_s": "s",
    "extract.arrow_bytes": "bytes",
    "graph_io.s": "s",
    "graph_io.shuffle_bytes": "bytes",
    "graph_io.node_keep_ratio": "ratio",
    "spatial.s": "s",
    "spatial.shuffle_bytes": "bytes",
    "components.s": "s",
    "components.jobs": "count",
    "components.driver_s": "s",
    "contraction.s": "s",
    "contraction.jobs": "count",
    "contraction.driver_s": "s",
    "discretize.s": "s",
    "metrics.s": "s",
    "metrics.jobs": "count",
    "snapshots.commit_s": "s",
    "snapshots.commit_jobs": "count",
    "snapshots.bytes_written": "bytes",
    "snapshots.bytes_per_edge": "bytes",
    "snapshots.resume_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.driver_s": "s",
    "trace.overhead_s": "s",
    "trace.span_coverage": "ratio",
    "setup.session_s": "s",
    "setup.fork_s": "s",
    "setup.load_s": "s",
    "memory.peak_rss_mb": "MB",
}

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "wall_s": "s",
    "pages_per_s": "1/s",
    "edges_per_s": "1/s",
}


def pass_layers(log, p: PassResult) -> dict[str, float]:
    """Per-layer metrics of one traced pass."""
    by_name: dict[str, list[Span]] = {}
    for s in p.spans:
        by_name.setdefault(s.name, []).append(s)

    def usage(name: str) -> Usage:
        total = Usage()
        for s in by_name.get(name, []):
            u = log.for_span(s)
            for f in ("jobs", "tasks", "executor_run_s", "shuffle_write_bytes", "arrow_bytes"):
                setattr(total, f, getattr(total, f) + getattr(u, f))
        return total

    def wall(name: str) -> float:
        return sum(s.wall_s for s in by_name.get(name, []))

    def driver(name: str) -> float:
        return sum(log.driver_s(s) for s in by_name.get(name, []))

    out = {
        "extract.s": wall("extract"),
        "extract.task_s": usage("extract").executor_run_s,
        "extract.arrow_bytes": usage("extract").arrow_bytes,
        "graph_io.s": wall("graph_io"),
        "graph_io.shuffle_bytes": usage("graph_io").shuffle_write_bytes,
        "spatial.s": wall("spatial"),
        "spatial.shuffle_bytes": usage("spatial").shuffle_write_bytes,
        "components.s": wall("components"),
        "components.jobs": usage("components").jobs,
        "components.driver_s": driver("components"),
        "contraction.s": wall("contraction"),
        "contraction.jobs": usage("contraction").jobs,
        "contraction.driver_s": driver("contraction"),
        "discretize.s": wall("discretize"),
        "metrics.s": wall("metrics"),
        "metrics.jobs": usage("metrics").jobs,
        "snapshots.commit_s": wall("snapshots.commit"),
        "snapshots.commit_jobs": usage("snapshots.commit").jobs,
        "snapshots.resume_s": wall("snapshots.resume"),
    }
    # the whole pass: every span plus the jobs between spans
    tag = p.spans[0].group.split(":")[0]
    groups = [u for g, u in log.usage.items() if g.split(":")[0] == tag]
    start, end = p.spans[0].start, p.spans[-1].end
    intervals = [iv for u in groups for iv in u.job_intervals]
    out.update(
        {
            "spark.jobs": sum(u.jobs for u in groups),
            "spark.tasks": sum(u.tasks for u in groups),
            "spark.executor_run_s": sum(u.executor_run_s for u in groups),
            "spark.executor_cpu_s": sum(u.executor_cpu_s for u in groups),
            "spark.gc_s": sum(u.gc_s for u in groups),
            "spark.shuffle_write_bytes": sum(u.shuffle_write_bytes for u in groups),
            "spark.spill_bytes": sum(u.spill_bytes for u in groups),
            "spark.driver_s": (end - start) - covered_s(intervals, start, end),
            "trace.span_coverage": sum(s.wall_s for s in p.spans) / p.wall_s,
        }
    )
    out.update(p.extra)
    return out


# -- one run -----------------------------------------------------------------


@dataclass
class RunResult:
    correct: bool
    attempted: int
    failed: int
    metrics: dict[str, tuple[float, str]]
    passes: str


def run(workload: str, seed: int, seconds: float, trace: bool, root: str) -> RunResult:
    spec = WORKLOADS[workload]
    cpus = min(4, os.cpu_count() or 1)
    work = os.path.join(root, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "inputs"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the JVM that spark-submit starts to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    spark = None
    clock = [("start", time.perf_counter())]
    try:
        prep = spec.prepare(seed, work)
        clock.append(("prepare", time.perf_counter()))

        t0 = time.perf_counter()
        spark = start_session(work, cpus, trace)
        t1 = time.perf_counter()
        fork_python_workers(spark, cpus)
        t2 = time.perf_counter()
        state = spec.load(spark, prep)
        t3 = time.perf_counter()
        setup = {"setup.session_s": t1 - t0, "setup.fork_s": t2 - t1, "setup.load_s": t3 - t2}
        clock.append(("setup", t3))
        app_id = spark.sparkContext.applicationId
        jvm_pid = spark.sparkContext._gateway.proc.pid  # the driver JVM
        problems: list[str] = []
        attempted = failed = 0

        def attempt(fn) -> PassResult | None:
            """Run one pass; a pass that raises or fails a check counts as
            failed, and the run goes on."""
            nonlocal attempted, failed
            attempted += 1
            try:
                res = fn()
            except Exception:
                problems.append(traceback.format_exc())
                failed += 1
                return None
            problems.extend(res.problems)
            failed += bool(res.problems)
            return res

        k = 0
        cold = attempt(lambda: spec.run_pass(spark, state, prep, 0))
        warm: list[PassResult] = []
        traced: list[PassResult] = []
        deadline = time.perf_counter() + seconds
        while len(warm) < spec.min_warm or (trace and not traced) or time.perf_counter() < deadline:
            k += 1
            is_traced = trace and k % 2 == 0
            res = attempt(lambda: (spec.run_traced if is_traced else spec.run_pass)(spark, state, prep, k))
            if res is not None:
                (traced if is_traced else warm).append(res)
        clock.append(("passes", time.perf_counter()))
        rss = peak_rss_mb(jvm_pid)
        shutdown(spark)
        spark = None
        clock.append(("shutdown", time.perf_counter()))
        print(
            "phases: " + " ".join(f"{n}={t - clock[i][1]:.1f}s" for i, (n, t) in enumerate(clock[1:])),
            file=sys.stderr,
        )

        for p in problems:
            print("CHECK FAILED:", p, file=sys.stderr)
        if cold is None or not warm or (trace and not traced):
            raise RuntimeError(f"{workload}: no successful pass to measure")
        if trace:
            log = parse(glob.glob(os.path.join(work, "events", f"{app_id}*"))[0])
            # layers a workload does not exercise read 0
            values = {name: 0.0 for name in LAYER_METRICS}
            per_pass = [pass_layers(log, p) for p in traced]
            for name in per_pass[0]:
                values[name] = statistics.median(pp[name] for pp in per_pass)
            values.update(spec.layer_extras(prep))
            values["trace.overhead_s"] = statistics.median(p.wall_s for p in traced) - statistics.median(
                p.wall_s for p in warm
            )
            values.update(setup)
            values["memory.peak_rss_mb"] = rss
            units = LAYER_METRICS
        else:
            wall = statistics.median(p.wall_s for p in warm)
            values = {
                "setup_s": sum(setup.values()),
                "cold_s": cold.wall_s,
                "wall_s": wall,
                "pages_per_s": prep.n_pages / wall,
                "edges_per_s": prep.n_links / wall,
            }
            units = END_TO_END
        metrics = {n: (float(values[n]), u) for n, u in units.items()}
        passes = f"passes: 1 cold + {len(warm)} warm" + (f" + {len(traced)} traced" if trace else "")
        return RunResult(failed == 0, attempted, failed, metrics, passes)
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

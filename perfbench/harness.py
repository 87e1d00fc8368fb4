"""One benchmark run: session, set-up, warm-up, measured window, checks.

Untraced run (``trace=False``): the end-to-end metrics.

Traced run (``trace=True``): the per-layer metrics. One session with
the event log on runs set-up and warm-up, then a window that alternates
traced operations (spans around each public call) with untraced ones,
so that the tracing overhead is measured free of warm-up drift; then
the prefix cuts of the pages pipeline, the layer counts and, on the
flagship, the checkpoint-write and declared-query probes. Every
operation runs in its own job group, which the event log ties to its
jobs. After the session stops, a fresh ``local[1]`` session over the
flagship's stored table gives the scaling efficiency against the
``local[nproc]`` wall.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

import numpy as np

from . import host
from .trace import Tracer, codegen_totals, event_log_conf, parse_event_logs
from .workloads import (
    CUTS, MIX, Flagship, QueryMix, WORKLOADS, Ctx, dir_bytes, median, noop,
    parquet_files, plan_record, plan_string, shuffle_exchanges,
)

MIN_OPS = 3  # a window always holds at least this many operations
PLATEAU_OPS = 3  # warm-up ends when this many last walls ...
PLATEAU_TOL = 1.2  # ... lie within this ratio of each other
SETUP_ROUNDS = 3  # set-up repetitions behind the setup_s median
CUT_REPS = 2  # repetitions of each prefix cut in the traced run
MIN_PAIRED = 2  # traced and untraced operations each, in the traced window
SCALING_OPS = 2  # measured operations at local[1]
QUERY_PASSES = 3  # memo-hit passes of the query mix after its cold pass
_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - _T0:7.1f}s {msg}", file=sys.stderr, flush=True)


def start_session(work: str, threads: int, extra: dict | None = None):
    from pyspark.sql import SparkSession

    conf = {
        "spark.driver.memory": host.driver_heap(),
        "spark.sql.shuffle.partitions": str(2 * threads),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": (
            f"-Xms{host.driver_heap()} -XX:-UsePerfData"
            f" -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
    }
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # The launcher's environment wins over spark.local.dir; keep every
    # scratch file inside the work directory.
    os.environ["SPARK_LOCAL_DIRS"] = conf["spark.local.dir"]
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    conf.update(extra or {})
    b = SparkSession.builder.master(f"local[{threads}]").appName("perfbench")
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the gateway may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 smoke: bool, work: str) -> None:
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.n = host.nproc()
        self.tracer = Tracer(False)
        self.ctx = Ctx(work, seed, smoke, self.n, self.tracer)
        self.ctx.group = self.group
        self.wl = WORKLOADS[workload](self.ctx)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.op_index = 0
        self.codegen_ms: list[float] = []
        self.warm_walls: list[float | None] = []

    # job groups tie event-log jobs to operations and cuts
    @contextlib.contextmanager
    def group(self, name: str):
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(name, name)
        try:
            yield
        finally:
            if prev is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(prev, prev)

    def one_op(self) -> float | None:
        """Run, time and check one operation; None when it failed."""
        i = self.op_index
        self.op_index += 1
        self.attempted += 1
        self.tracer.op = f"op:{i}"
        try:
            with self.group(f"op:{i}"):
                if self.tracer.enabled:
                    cg0 = codegen_totals(self.spark)
                t0 = time.perf_counter()
                out = self.wl.op(self.spark, i)
                wall = time.perf_counter() - t0
                if self.tracer.enabled:
                    cg1 = codegen_totals(self.spark)
                    self.codegen_ms.append(cg1[1] - cg0[1])
            ok = self.wl.check(out, i)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            self.failed += 1
            print(f"perfbench: {self.wl.name} operation {i} failed its check", file=sys.stderr)
            return None
        return wall

    def warm_up(self) -> float:
        """At least the workload's ``warm_ops`` operations, then more
        until the last PLATEAU_OPS walls agree within PLATEAU_TOL, up to
        ``warm_max``. Walls keep drifting down for dozens of operations
        while the JIT compiles Catalyst and the generated code; counting
        operations (not seconds, which a slower host turns into fewer
        operations) and waiting out a JIT that lags opens every window
        from a comparable state."""
        t0 = time.perf_counter()
        walls: list[float | None] = []
        while len(walls) < self.wl.warm_max:
            walls.append(self.one_op())
            last = walls[-PLATEAU_OPS:]
            if (len(walls) >= self.wl.warm_ops and len(last) == PLATEAU_OPS
                    and None not in last and max(last) <= PLATEAU_TOL * min(last)):
                break
        self.warm_walls = walls
        return time.perf_counter() - t0

    def window(self) -> list[float]:
        """Operations for ``seconds``, and at least MIN_OPS or the
        workload's ``min_ops``; failed ones count as attempted and leave
        no wall."""
        walls, tries = [], 0
        floor = max(MIN_OPS, self.wl.min_ops)
        deadline = time.perf_counter() + self.seconds
        while time.perf_counter() < deadline or tries < floor:
            tries += 1
            w = self.one_op()
            if w is not None:
                walls.append(w)
        return walls

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # ------------------------------------------------------------------
    def setup(self, rounds: int, conf: dict | None) -> dict:
        t0 = time.perf_counter()
        self.spark = start_session(self.work, self.n, conf)
        session_s = time.perf_counter() - t0
        log("session up")
        mem = host.JvmMemory(self.spark)
        ingest = []
        for _ in range(rounds):
            t = time.perf_counter()
            self.wl.ingest(self.spark)
            ingest.append(time.perf_counter() - t)
        log("ingested")
        self.wl.prepare(self.spark)
        log("expected outputs ready")
        warm = self.warm_up()
        log("warmed up")
        return {"mem": mem, "session_s": session_s, "ingest_s": median(ingest),
                "ingest_rounds": ingest, "warmup_s": warm}

    def detail(self, s: dict, walls: list[float]) -> dict:
        """The run's detail record: walls, set-up parts, plan record."""
        self.tracer.enabled = False
        plan = plan_record(self.spark, self.wl)
        log("plan recorded")
        jvm = self.spark.sparkContext._jvm.System
        return {
            "java": f"{jvm.getProperty('java.vm.name')} {jvm.getProperty('java.version')}",
            "walls_s": walls, "samples": len(walls), "plan": plan,
            "session_s": s["session_s"], "ingest_rounds_s": s["ingest_rounds"],
            "warmup_s": s["warmup_s"], "warmup_walls_s": self.warm_walls,
            "pages_per_op": self.wl.pages_per_op,
        }

    def untraced(self) -> tuple[dict, dict]:
        s = self.setup(SETUP_ROUNDS, None)
        s["mem"].reset_peak()
        walls = self.window()
        log("window done")
        peak = s["mem"].peak_mb()
        op = median(walls)
        setup_s = s["session_s"] + s["ingest_s"] + s["warmup_s"]
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_wall_s": (op, "s"),
            "pages_per_s": (self.wl.pages_per_op / op if op else 0.0, "1/s"),
            "jvm_peak_rss_mb": (peak, "MiB"),
        }
        return metrics, self.detail(s, walls)

    def traced(self) -> tuple[dict, dict]:
        log_dir = os.path.join(self.work, "eventlog")
        s = self.setup(1, event_log_conf(log_dir))

        # one window alternating traced and untraced operations, so
        # warm-up drift cancels out of the overhead
        self.codegen_ms = []
        traced_ops: set[int] = set()
        walls: dict[bool, list[float]] = {True: [], False: []}
        deadline = time.perf_counter() + self.seconds
        while time.perf_counter() < deadline or min(map(len, walls.values())) < MIN_PAIRED:
            on = len(walls[True]) <= len(walls[False])
            self.tracer.enabled = on
            if on:
                traced_ops.add(self.op_index)
            w = self.one_op()
            if w is not None:
                walls[on].append(w)
        log("traced window done")
        detail = self.detail(s, walls[False])
        self.tracer.enabled = True
        layer = self.layer_metrics()
        self.tracer.enabled = False
        self.stop_session()
        layer.update(self.event_metrics(parse_event_logs(log_dir), traced_ops))
        base_wall = median(walls[False])
        traced_wall = median(walls[True])
        layer["trace.op_wall_s"] = (traced_wall, "s")
        layer["trace.overhead_s"] = (traced_wall - base_wall, "s")
        layer["trace.overhead_frac"] = (
            (traced_wall - base_wall) / base_wall if base_wall else 0.0, "ratio")

        # local[1] over the same stored inputs, on the flagship only:
        # cold_tiles operations are mostly single-threaded planning, so
        # the run's time budget goes to the workload the scaling gate is for
        one: list[float] = []
        if isinstance(self.wl, Flagship):
            self.spark = start_session(self.work, 1)
            self.wl.attach(self.spark)
            self.one_op()
            one = [w for w in (self.one_op() for _ in range(SCALING_OPS)) if w is not None]
            self.stop_session()
            log("local[1] done")
        layer["scaling_eff"] = ((median(one) / base_wall) / self.n if one else 0.0, "ratio")
        detail.update({
            "span_self_s": {k: median(v) for k, v in self.tracer.self_times().items()},
            "scaling_topology": f"local[{self.n}] vs local[1], one JVM",
            "traced_walls_s": walls[True],
            "local1_walls_s": one,
        })
        layer["bench.session_start_s"] = (detail["session_s"], "s")
        layer["bench.ingest_s"] = (detail["ingest_rounds_s"][0], "s")
        layer["bench.warmup_s"] = (detail["warmup_s"], "s")
        return layer, detail

    def layer_metrics(self) -> dict:
        spark, wl = self.spark, self.wl
        m = {}
        wl.attach(spark)  # rebuilds a fixed tile set under a span
        # prefix cuts: self time = cut wall - previous cut wall
        chain = wl.chain(spark)
        cut_walls = {name: [] for name in CUTS}
        for k in range(CUT_REPS):
            for name, df in chain:
                self.tracer.op = f"cut:{name}:{k}"
                with self.group(self.tracer.op), self.tracer.span(f"cut:{name}"):
                    t0 = time.perf_counter()
                    noop(df)  # a new execution each time: no shuffle reuse
                    cut_walls[name].append(time.perf_counter() - t0)
        prev = 0.0
        for name in CUTS:
            w = median(cut_walls[name])
            m[f"{name}_s"] = (w - prev, "s")
            prev = w
        frames = dict(chain)
        # Spark's input metrics miss reads made off the task thread, so
        # scan bytes come from the parquet footers of the scanned columns
        m["storage.scan_bytes"] = (wl.scan_bytes(), "bytes")
        m["pipeline.dedup_exchanges"] = (
            shuffle_exchanges(plan_string(frames["pipeline.dedup_latest"])), "count")
        # tile join: index size, planning, useful-work ratio
        from s2js_spark.spark.tagjoin import tag_candidates

        ts = wl.chain_tileset()
        st = self.tracer.self_times()
        m["tiles.build_tileset_s"] = (median(st.get("tiles.build_tileset", [])), "s")
        m["tiles.covering_cells"] = (len(ts.cov_cell), "count")
        m["tiles.interior_frac"] = (float(np.mean(ts.cov_interior)), "ratio")
        plan_s = st.get("tagjoin.plan")
        if not plan_s:  # the operation plans inside a write: time the join alone
            t0 = time.perf_counter()
            frames["tagjoin.join_refine"]._jdf.queryExecution().executedPlan()
            plan_s = [time.perf_counter() - t0]
        m["tagjoin.plan_s"] = (median(plan_s), "s")
        m["tagjoin.plan_bytes"] = (len(plan_string(frames["tagjoin.join_refine"])), "bytes")
        geo = frames["pipeline.dedup_latest"]
        with self.group("count:candidates"):
            cand = tag_candidates(spark, geo, ts).count()
            pairs = frames["tagjoin.join_refine"].count()
        m["tagjoin.candidates_per_pair"] = (cand / pairs if pairs else 0.0, "ratio")
        m["spark.codegen_compile_ms"] = (median(self.codegen_ms), "ms")
        m.update(self.checkpoint_metrics())
        m.update(self.query_metrics())
        return m

    def checkpoint_metrics(self) -> dict:
        """The write path, on the flagship's stored table: tag_pipeline
        output written once through resumable_write_bucketed, its output
        checked like an operation's."""
        m = {
            "checkpoint.write_s": (0.0, "s"),
            "checkpoint.files_written": (0, "count"),
            "checkpoint.stored_bytes_per_input_byte": (0.0, "ratio"),
        }
        if not isinstance(self.wl, Flagship):
            return m
        self.attempted += 1
        self.tracer.op = "sink:0"
        try:
            with self.group(self.tracer.op):
                out = self.wl.sink(self.spark, 0)
            ok = self.wl.check_sink(out)
            m["checkpoint.write_s"] = (self.tracer.self_times()["checkpoint.write"][0], "s")
            m["checkpoint.files_written"] = (len(parquet_files(out["path"])), "count")
            m["checkpoint.stored_bytes_per_input_byte"] = (
                dir_bytes(out["path"]) / dir_bytes(self.wl.path), "ratio")
            self.spark.sql(f"DROP TABLE IF EXISTS {out['table']}")
            shutil.rmtree(out["path"], ignore_errors=True)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            self.failed += 1
            print("perfbench: the checkpoint write failed its check", file=sys.stderr)
        return m

    def query_metrics(self) -> dict:
        """The declared-query surface, in the flagship's traced run: one
        cold pass of ``MIX`` (every query planned and compiled), then
        QUERY_PASSES memo-hit passes; every pass is checked against the
        DuckDB oracle like an operation."""
        m = {f"query.{n}.s": (0.0, "s") for n in MIX}
        m["query.cold_pass_s"] = (0.0, "s")
        if not isinstance(self.wl, Flagship):
            return m
        qm = QueryMix(self.ctx)
        qm.ingest(self.spark)
        qm.prepare(self.spark)
        walls = []
        for k in range(1 + QUERY_PASSES):
            self.attempted += 1
            self.tracer.op = f"mix:{k}"
            try:
                t0 = time.perf_counter()
                out = qm.op(self.spark, k)
                walls.append(time.perf_counter() - t0)
                ok = qm.check(out, k)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
            if not ok:
                self.failed += 1
                print(f"perfbench: query pass {k} failed its check", file=sys.stderr)
            if k == 0:
                qm.q_wall = {n: [] for n in MIX}
        m.update({f"query.{n}.s": (median(w), "s") for n, w in qm.q_wall.items()})
        m["query.cold_pass_s"] = (walls[0] if walls else 0.0, "s")
        return m

    def event_metrics(self, groups: dict, ops: set[int]) -> dict:
        """Per-operation medians from the event log (traced operations)."""
        per_op: dict[int, dict] = {}
        per_query: dict[str, list[int]] = {n: [] for n in MIX}
        for g, acc in groups.items():
            kind, _, rest = g.partition(":")
            if kind == "query":  # query:<name>:<pass>, warm passes only
                name, _, k = rest.partition(":")
                if k != "0":
                    per_query[name].append(acc["jobs"])
            elif kind == "op" and int(rest) in ops:
                tot = per_op.setdefault(int(rest), {k: 0 for k in acc})
                for k, v in acc.items():
                    tot[k] += v
        ops = list(per_op.values())

        def med(key: str) -> float:
            return median([o[key] for o in ops])

        m = {
            "spark.jobs": (med("jobs"), "count"),
            "spark.stages": (med("stages"), "count"),
            "spark.task_cpu_s": (med("task_cpu_s"), "s"),
            "spark.gc_s": (med("gc_s"), "s"),
            "spark.shuffle_bytes": (med("shuffle_bytes"), "bytes"),
            "spark.spill_bytes": (med("spill_bytes"), "bytes"),
            "tagjoin.python_rows": (med("python_rows"), "count"),
            "checkpoint.shuffle_write_bytes": (median(
                [acc["shuffle_bytes"] for g, acc in groups.items() if g.startswith("sink:")]
            ), "bytes"),
        }
        for n in MIX:
            m[f"query.{n}.jobs"] = (median(per_query[n]), "count")
        return m


_ENV = ("SPARK_LOCAL_DIRS", "SPARK_LAUNCHER_OPTS", "TMPDIR")


def run(workload: str, seed: int, seconds: float, trace: bool, smoke: bool,
        work: str) -> tuple[dict, dict, int, int]:
    saved_env = {k: os.environ.get(k) for k in _ENV}
    saved_tmp = tempfile.tempdir
    r = Run(workload, seed, seconds, trace, smoke, work)
    try:
        metrics, detail = r.traced() if r.trace else r.untraced()
    finally:
        try:
            r.stop_session()
        finally:
            shutdown_jvm()
            shutil.rmtree(work, ignore_errors=True)
            # start_session points these at the work directory just removed
            tempfile.tempdir = saved_tmp
            for k, v in saved_env.items():
                if v is None:
                    os.environ.pop(k, None)
                else:
                    os.environ[k] = v
            log("stopped")
    return metrics, detail, r.attempted, r.failed

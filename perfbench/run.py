"""Benchmark runner for the wallet engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. It generates the workload's inputs from the
seed, builds a local Spark session with ``local[<nproc>]``, runs untimed
warm-up passes, then runs timed passes for ``--seconds`` seconds in a closed
loop: one client, one driver thread, each call waiting for the previous one.
After timing it checks every output against an oracle and prints a report.
The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.

Workloads:

- ``analytic_mix``: registry queries where the timed action is the larger
  part of the wall (scan, aggregation, shuffle join, Arrow).
- ``driver_bound``: a registry query where the registry call itself is most
  of the wall (streaming query start and micro-batch drain).
- ``wallet_daily``: the paper's landing CSV -> curated -> features ->
  warehouse flow (``wallet_flow(...).run()``) over one landing file that
  spans several read splits.
- ``wallet_one_split``: the same flow over a landing file small enough to
  be read as one split.

One pass runs every query of the workload once, always in the same order,
each timed to full materialization (row count plus a per-column
xxhash64 sum). For ``wallet_daily`` a pass is one flow run. A failed or
wrong operation counts in ``failed``, and its pass adds no wall sample.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is the traced
run. It enables the Spark event log and a streaming listener and records
spans around every call, then writes the span file under
``.perfbench_work/traces/``. It reports per-layer metrics, including the
tracing overhead: the median traced pass wall minus that of the untraced
passes it alternates with. The diagnostics line of every run gives the
number of timed passes and the host's load and steal.

The process exits 0 when every output was correct, 1 when one was wrong,
and 2 when the engine cannot be found or a run does not complete.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from spans import Accounting, Span, driver_gap, layer_self_times, median  # noqa: E402

SF = 0.01  # 60,000 lineitem rows; gen.table_rows has every table's size
# Landing rows per wallet workload. wallet_daily's 100,000 rows (5% of the
# paper's ~2M rows/day, about 18 MB of CSV) span several read splits, as
# every production-size file does. wallet_one_split's 15,000 rows (about
# 2.7 MB) stay below Spark's 4 MB minimum split (openCostInBytes), so the
# landing file is read as one split.
WALLET_ROWS = {"wallet_daily": 100_000, "wallet_one_split": 15_000}
QUERIES = {
    "analytic_mix": ["q01_pricing_summary", "join_salted", "grouped_map_normalize"],
    "driver_bound": ["stream_tumbling"],
}
# The order is fixed, not drawn from the seed: in an earlier three-query
# driver_bound pass, moving dedup_components from last to first slowed it
# by about half, which would swamp the spread between seeds.
WORKLOADS = [*QUERIES, *WALLET_ROWS]
# Untimed passes per workload, counted in setup_s: about where pass times
# level off on a 4-core host. stream_tumbling goes from about 9 s on its
# first pass to 1.2-1.4 s by its fifth and keeps creeping down for a few
# more; the analytic and wallet passes level off after about three.
WARMUP_PASSES = {"analytic_mix": 3, "driver_bound": 8, "wallet_daily": 3, "wallet_one_split": 4}
TIME_LIMIT_S = 170
UNITS = {"peak_rss_mb": "MB", "error_rate": "ratio"}  # the rest follow their suffix


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _gen(*args: str) -> str:
    """Run the generator in a child process, so its memory stays out of the
    driver's peak RSS."""
    return subprocess.run(
        [sys.executable, str(HERE / "gen.py"), *args], check=True, capture_output=True, text=True
    ).stdout.strip()


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under a directory, 0 when it does not exist."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files


def _checksum_agg(df):
    from pyspark.sql import functions as F

    return df.agg(F.count(F.lit(1)), F.sum(F.xxhash64(*[F.col(c) for c in df.columns])))


class QueryWorkload:
    """A list of registry queries at scale ``SF`` over generated tables."""

    def __init__(self, name: str, work: Path, seed: int):
        self.names = QUERIES[name]
        self.ops = len(self.names)
        self.data = str(work / "data")
        os.makedirs(self.data)
        self.inputs = json.loads(_gen("tables", str(SF), str(seed), self.data))
        self.reference: dict[str, tuple] = {}
        self.collected: dict = {}
        from cyrela_etl_spark.queries import load_all

        self.registry = load_all()

    def describe(self) -> dict:
        return {"sf": SF, "queries": self.names, "table_rows": self.inputs}

    def before_pass(self, spark, pass_id: int) -> None:
        pass

    def run_pass(self, spark, tracer, pass_id: int, collect: bool = False) -> tuple[list, dict]:
        """Run every query once. With ``collect``, also fetch each result
        not fetched yet for the oracle check, and report the seconds that
        took as ``check_s`` so set-up time can leave them out."""
        from tracing import plan_seconds

        failures = []
        layers = dict.fromkeys(["queries.build_s", "exec.action_s", "catalyst.plan_s", "check_s"], 0.0)
        for name in self.names:
            with tracer.span(name, "query", pass_id):
                try:
                    t0 = time.perf_counter()
                    with tracer.span("build", "build", pass_id):
                        df = self.registry[name][0](spark, self.data)
                    t1 = time.perf_counter()
                    with tracer.span("action", "action", pass_id):
                        agg = _checksum_agg(df)
                        got = tuple(agg.collect()[0])
                    t2 = time.perf_counter()
                    layers["queries.build_s"] += t1 - t0
                    layers["exec.action_s"] += t2 - t1
                    log(f"  {name}: build {t1 - t0:.3f} s, action {t2 - t1:.3f} s")
                    if tracer.enabled:
                        layers["catalyst.plan_s"] += plan_seconds(agg)
                    if self.reference.setdefault(name, got) != got:
                        log(f"{name}: (rows, checksum) {got} != {self.reference[name]} of the first pass")
                        failures.append((name, "WrongResult"))
                    if collect and name not in self.collected:
                        self.collected[name] = df.toPandas()
                        layers["check_s"] += time.perf_counter() - t2
                except Exception as e:  # noqa: BLE001 -- a failed query is counted, the loop goes on
                    traceback.print_exc()
                    failures.append((name, type(e).__name__))
                finally:
                    spark.catalog.clearCache()
        return failures, layers

    def after_pass(self, spark, pass_id: int, wall: float, failures: list) -> dict:
        return {}

    def check(self) -> list[str]:
        """Match each result fetched in the warm-up with the registry's
        DuckDB oracle. The same DataFrame gave the (rows, checksum) every
        timed pass is held to, so the timed outputs are checked too."""
        from checks import compare, oracle_connection

        problems = []
        con = oracle_connection(self.data)
        try:
            for name in self.names:
                if name not in self.collected:
                    problems.append(f"{name}: no result was fetched for the oracle check")
                    continue
                want = con.execute(self.registry[name][1]).df()
                problems += [f"{name}: {p}" for p in compare(self.collected[name], want)]
        finally:
            con.close()
        return problems


class WalletWorkload:
    """``wallet_flow(...).run()`` with its defaults over one landing CSV,
    restored before every pass because the flow deletes it."""

    ops = 1

    def __init__(self, name: str, work: Path, seed: int):
        self.work = work
        self.rows = WALLET_ROWS[name]
        self.csv = str(work / "input" / "wallet-data.csv")
        os.makedirs(os.path.dirname(self.csv))
        self.bytes = int(_gen("wallet", str(self.rows), str(seed), self.csv))
        with open(self.csv, encoding="utf-8") as f:
            header = f.readline().strip().split(",")
        from checks import WalletReference

        self.reference = WalletReference(self.csv, header)
        self.served_rows = 0
        self.pass_walls: list[float] = []
        self.n_pass = 0

    def describe(self) -> dict:
        return {"landing_rows": self.rows, "landing_bytes": self.bytes}

    def before_pass(self, spark, pass_id: int) -> None:
        """Fresh zones and warehouse for every pass, set up outside timing."""
        self.n_pass += 1
        self.zones = str(self.work / "zones" / f"p{self.n_pass}")
        self.jdbc_url = f"jdbc:derby:{self.work}/derby/wh{self.n_pass};create=true"
        landing = Path(self.zones) / "landing" / "cyrela"
        landing.mkdir(parents=True)
        shutil.copyfile(self.csv, landing / "wallet-data.csv")
        self.stages: dict[str, int] = {}

    def _trace_stages(self, pipe, tracer, pass_id: int, layers: dict) -> None:
        """Wrap each stage body in a span; note the bytes and files each
        zone-writing stage left behind."""
        zone_of = {"promote_processing": "processing", "parse_curated": "curated", "features_serving": "serving"}
        for st in pipe.stages:
            def traced(ctx, _fn=st.fn, _name=st.name):
                self.stages[_name] = self.stages.get(_name, 0) + 1
                try:
                    with tracer.span(_name, "stage", pass_id) as s:
                        out = _fn(ctx)
                finally:  # a failing attempt's time counts too
                    layers[f"flows.{_name}_s"] = layers.get(f"flows.{_name}_s", 0.0) + s.seconds
                if _name in zone_of:
                    size, files = _dir_stats(out)
                    layers[f"zones.{zone_of[_name]}_bytes_ratio"] = size / self.bytes
                    layers["zones.files_written"] = layers.get("zones.files_written", 0) + files
                return out

            st.fn = traced

    def run_pass(self, spark, tracer, pass_id: int, collect: bool = False) -> tuple[list, dict]:
        from cyrela_etl_spark.flows import wallet_flow
        from cyrela_etl_spark.pipeline import PipelineError
        from cyrela_etl_spark.sources.zones import ZoneStore

        layers: dict[str, float] = {}
        pipe = wallet_flow(spark, ZoneStore(spark, self.zones), jdbc_url=self.jdbc_url)
        if tracer.enabled:
            self._trace_stages(pipe, tracer, pass_id, layers)
        self.results = []
        failures = []
        try:
            self.results = pipe.run()
        except PipelineError as e:
            log(f"wallet_flow failed in stage {e.stage!r}: {type(e.cause).__name__}: {e.cause}")
            failures.append((e.stage, type(e.cause).__name__))
        if tracer.enabled:
            layers["pipeline.retries"] = sum(self.stages.values()) - len(self.stages)
            if "flows.load_dw_s" in layers:
                layers["jdbc.rows_per_s"] = (self.rows - 1) / layers["flows.load_dw_s"]
        return failures, layers

    def after_pass(self, spark, pass_id: int, wall: float, failures: list) -> dict:
        """Check the pass's outputs; returns its samples when it succeeded."""
        self.pass_walls.append(wall)
        if failures:
            return {}
        problems = self.reference.problems(f"{self.zones}/serving/cyrela/wallet")
        loaded = spark.read.jdbc(self.jdbc_url, "wallet").count()
        self._shutdown_derby(spark)
        if loaded != self.rows - 1:
            problems.append(f"warehouse rows {loaded} != {self.rows - 1}")
        if problems:
            log(f"wallet pass {pass_id}: " + "; ".join(problems))
            failures.append(("features_serving", "WrongResult"))
            return {}
        self.served_rows += self.rows - 1
        ready = 0.0
        for r in self.results:
            ready += r.seconds
            if r.name == "features_serving":
                break
        return {"features_ready_s": ready}

    def _shutdown_derby(self, spark) -> None:
        """Close the pass's embedded Derby database, so that warehouses of
        earlier passes do not stay booted in the JVM. Derby reports a clean
        shutdown as an SQLException with state 08006."""
        url = self.jdbc_url.split(";")[0] + ";shutdown=true"
        try:
            spark.sparkContext._jvm.java.sql.DriverManager.getConnection(url)
        except Exception as e:  # noqa: BLE001 -- py4j wraps the SQLException
            if "08006" not in str(e):
                raise

    def check(self) -> list[str]:
        # Every successful pass was checked in after_pass.
        return [] if self.served_rows else ["no flow pass produced an output that passed its check"]

    def end_to_end(self) -> dict:
        return {"rows_per_s": self.served_rows / sum(self.pass_walls) if self.pass_walls else 0.0}


def _prepare_env(work: Path) -> None:
    for d in ("tmp", "local", "warehouse", "derby"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # Every JVM, the spark-submit launcher included, keeps its files in the run.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work / 'derby'}"
    )
    # Spark's Python workers import the engine (grouped_map_normalize).
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    tempfile.tempdir = str(work / "tmp")
    sys.path.insert(0, str(ROOT))


def _session(work: Path, event_log: str | None):
    from cyrela_etl_spark import get_spark

    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _jvm_hwm_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _conf(spark) -> dict:
    return dict(spark.conf.getAll)


def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat", encoding="ascii") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


class Run:
    """One session's set-up, warm-up and timed loop.

    A traced run alternates traced and untraced passes, at least one of
    each, in the same session. The untraced passes have no spans, job
    groups or streaming listener, and they give the tracing overhead. The
    Spark event log cannot be switched off in a running session, so it is
    on for both kinds of pass and its own cost is not in that difference."""

    def __init__(self, wl, work: Path, seconds: float, traced: bool, warmup_passes: int):
        from tracing import Tracer

        self.event_log = str(work / "eventlog") if traced else None
        t0 = time.perf_counter()
        self.spark = _session(work, self.event_log)
        self.build_s = time.perf_counter() - t0
        self.conf0 = _conf(self.spark)
        t1 = time.perf_counter()
        check_s = 0.0
        for i in range(warmup_passes):
            wl.before_pass(self.spark, -1 - i)
            failures, layers = wl.run_pass(self.spark, Tracer(self.spark, False), -1 - i, collect=True)
            check_s += layers.get("check_s", 0.0)
            log(f"warm-up pass {i}: {time.perf_counter() - t1 - check_s:.3f} s since warm-up start, failures {failures}")
        self.warmup_s = time.perf_counter() - t1 - check_s
        self.setup_s = self.build_s + self.warmup_s
        self.tracer = Tracer(self.spark, traced)
        self.acct = Accounting()
        self.passes: list[Span] = []
        self.untraced_walls: list[float] = []
        self.layers: dict[int, dict] = {}
        start = time.perf_counter()
        pass_id = 0
        while pass_id < (2 if traced else 1) or time.perf_counter() - start < seconds:
            self.tracer.enable(traced and pass_id % 2 == 0)
            wl.before_pass(self.spark, pass_id)
            with self.tracer.span("pass", "pass", pass_id) as ps:
                t = time.perf_counter()
                failures, layers = wl.run_pass(self.spark, self.tracer, pass_id)
                wall = time.perf_counter() - t
            layers.pop("check_s", None)
            samples = wl.after_pass(self.spark, pass_id, wall, failures)
            if ps is not None:
                self.passes.append(ps)
            elif traced and not failures:
                self.untraced_walls.append(wall)
            layers["cache.persisted_rdds"] = self.spark.sparkContext._jsc.getPersistentRDDs().size()
            conf = _conf(self.spark)
            self.conf_changed = sorted(k for k in conf.keys() | self.conf0.keys() if conf.get(k) != self.conf0.get(k))
            layers["session.conf_changes"] = len(self.conf_changed)
            self.layers[pass_id] = layers
            self.acct.record(pass_id, wl.ops, wall, failures, samples)
            log(f"pass {pass_id}: {wall:.3f} s, failures {failures}")
            pass_id += 1
        self.timed_passes = pass_id
        self.peak_rss_mb = _jvm_hwm_mb(self.spark) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    def stop(self) -> None:
        self.tracer.close()
        self.spark.stop()


def _stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _end_to_end(run: Run, wl) -> dict:
    out = {
        "setup_s": run.setup_s,
        "wall_s": median(run.acct.walls),
        "peak_rss_mb": run.peak_rss_mb,
    }
    if isinstance(wl, WalletWorkload):
        out.update(wl.end_to_end())
        out["features_ready_s"] = median(run.acct.samples.get("features_ready_s", []))
    out["error_rate"] = run.acct.error_rate
    return out


def _per_layer(run: Run, jobs: list[dict]) -> tuple[dict, list]:
    """Per-pass layer metrics (median over the traced passes) and the job
    spans attached to the run's spans."""
    from tracing import JOB_COUNTERS, attach_jobs, stream_metrics

    spans = run.tracer.spans
    job_spans = attach_jobs(spans, jobs)
    streams = stream_metrics(run.tracer.stream_events, run.passes)
    self_by_pass = layer_self_times(spans + job_spans)
    per_pass = []
    for p in run.passes:
        m = dict(run.layers[p.pass_id])
        mine = [j for j in job_spans if j.pass_id == p.pass_id]
        for k in JOB_COUNTERS:
            m[f"spark.{k}"] = sum(j.attrs[k] for j in mine)
        m["spark.driver_gap_s"] = driver_gap(p.start, p.end, [(j.start, j.end) for j in mine])
        m.update({f"streaming.{k}": v for k, v in streams[p.pass_id].items()})
        own = self_by_pass.get(p.pass_id, {})
        m["trace.uncovered_s"] = own.get("pass", 0.0)
        for layer in {s.layer for s in spans + job_spans} - {"pass"}:
            m[f"trace.self_{layer.replace('spark.', '')}_s"] = own.get(layer, 0.0)
        m["trace.wall_s"] = p.seconds
        per_pass.append(m)
    names = sorted({k for m in per_pass for k in m})
    metrics = {k: statistics.median(m.get(k, 0.0) for m in per_pass) for k in names}
    metrics["session.build_s"] = run.build_s
    metrics["session.warmup_s"] = run.warmup_s
    metrics["peak_rss_mb"] = run.peak_rss_mb
    metrics.setdefault("pipeline.retries", 0)
    untraced = median(run.untraced_walls)
    metrics["trace.overhead_s"] = metrics["trace.wall_s"] - untraced if run.passes and untraced else None
    return metrics, job_spans


def _listed(traced: bool) -> list[str]:
    """Metric names BENCHMARK.json lists for this kind of run: end_to_end
    untraced, per_layer traced. The result line carries exactly these; the
    report lines print every metric."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text(encoding="utf-8"))
    return [m["name"] for m in spec["per_layer" if traced else "end_to_end"]]


def _unit(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_bytes"):
        return "B"
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith("rows_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    return "count"


def _span_file(path: Path, run: Run, job_spans: list, metrics: dict, info: dict) -> None:
    spans = run.tracer.spans + job_spans
    by_id = {s.id: s for s in spans}
    queries: dict[str, dict] = {}
    for s in job_spans:  # per-query job counters, summed over passes
        q = by_id[s.parent]
        while q.layer not in ("query", "stage", "pass"):
            q = by_id[q.parent]
        agg = queries.setdefault(q.name, {})
        for k, v in s.attrs.items():
            agg[k] = agg.get(k, 0) + v
    for s in run.tracer.spans:  # build/action seconds per query, summed over passes
        if s.layer in ("build", "action"):
            agg = queries.setdefault(by_id[s.parent].name, {})
            agg[f"{s.layer}_s"] = agg.get(f"{s.layer}_s", 0.0) + s.seconds
    doc = {
        **info,
        "passes": len(run.passes),
        "metrics": metrics,
        "queries": queries,
        "spans": [
            {"id": s.id, "name": s.name, "layer": s.layer, "start": s.start, "end": s.end,
             "parent": s.parent, "pass": s.pass_id, **({"attrs": s.attrs} if s.attrs else {})}
            for s in spans
        ],
    }
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(doc, indent=1), encoding="utf-8")


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {TIME_LIMIT_S} s")


def _terminated(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through main's clean-up


def _measure(args, work: Path) -> tuple[dict, dict, Accounting, list[str]]:
    """Run the workload; returns (diagnostics, metrics, accounting, check
    problems). A traced run also writes its span file."""
    wl = (WalletWorkload if args.workload in WALLET_ROWS else QueryWorkload)(args.workload, work, args.seed)
    info = {"workload": args.workload, "seed": args.seed, **wl.describe()}
    ticks0, load0 = _cpu_ticks(), os.getloadavg()
    if args.trace:
        from tracing import read_event_log

        run = Run(wl, work, args.seconds, traced=True, warmup_passes=WARMUP_PASSES[args.workload])
        run.stop()
        _stop_jvm()
        metrics, job_spans = _per_layer(run, read_event_log(run.event_log))
        info["conf_changed"] = run.conf_changed
    else:
        run = Run(wl, work, args.seconds, traced=False, warmup_passes=WARMUP_PASSES[args.workload])
        run.stop()
        _stop_jvm()
        metrics = _end_to_end(run, wl)
    ticks1 = _cpu_ticks()
    total = ticks1[0] - ticks0[0]
    info["host"] = {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": load0,
        "loadavg_end": os.getloadavg(),
        "steal_pct": 100.0 * (ticks1[1] - ticks0[1]) / total if total else 0.0,
    }
    info["timed_passes"] = run.timed_passes
    info["failures"] = run.acct.failures
    info["error_rate"] = run.acct.error_rate
    if args.trace:
        trace_path = ROOT / ".perfbench_work" / "traces" / f"{args.workload}-seed{args.seed}.json"
        _span_file(trace_path, run, job_spans, metrics, info)
        info["span_file"] = str(trace_path.relative_to(ROOT))
    return info, metrics, run.acct, wl.check()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "cyrela_etl_spark" / "__init__.py").is_file():
        log(f"the engine package cyrela_etl_spark is not in {ROOT}; run from a full checkout")
        return 2
    signal.signal(signal.SIGALRM, _timeout)
    signal.signal(signal.SIGTERM, _terminated)
    signal.alarm(TIME_LIMIT_S)
    work = ROOT / ".perfbench_work" / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    _prepare_env(work)
    try:
        info, metrics, acct, problems = _measure(args, work)
    except Exception:  # noqa: BLE001 -- no result line for a run that did not complete
        traceback.print_exc()
        return 2
    finally:
        signal.alarm(0)
        try:
            _stop_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    for p in problems:
        log(f"WRONG RESULT {p}")
    correct = not problems and not any(f["error"] == "WrongResult" for f in acct.failures)
    for name, value in metrics.items():
        print(f"{name} = {value if value is None else round(value, 6)} {_unit(name)}")
    print(json.dumps({"diagnostics": info}))
    # A listed layer metric that the workload does not exercise reads 0.
    metrics = {k: metrics.get(k, 0.0 if args.trace else None) for k in _listed(bool(args.trace))}
    print(json.dumps({
        "correct": correct,
        "attempted": acct.attempted,
        "failed": acct.failed,
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items() if v is not None},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

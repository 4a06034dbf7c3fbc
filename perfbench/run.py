"""End-to-end and per-layer benchmark of thrive_spark.

Usage (from the repository root)::

    python3 perfbench/run.py --workload curation --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --trace 1  # every workload, one table

One run is one fresh process and a closed loop: a single client issues
the workload's queries one after another against ``local[<cores>]``.
Each query is ``registry.QUERIES[id](spark, sf_dir)``, materialized.
The run makes, in order:

1. set-up: ``registry.load_all()`` and ``session.get_spark()``;
2. the cold pass (timed): the first visit of every query, collected with
   ``toPandas()`` as a once-per-submit caller would; after the pass each
   output is compared with its DuckDB oracle, using
   ``tools/driver_check.py``'s canonicalization;
3. ``WARMUP_PASSES`` untimed warm-up pass, then the timed warm passes,
   each query materialized to the noop sink; the number of timed passes
   is ``--seconds`` over the workload's nominal pass time
   (at least ``MIN_WARM_PASSES``).

The correctness check rides on the cold pass, not on a pass of its own,
so that a full benchmark sweep fits its time budget (one run takes
45-60 s on 4 cores, more than half of it JVM start and the cold pass).

Every pass records its wall time and the CPU time of the whole program:
the JVM (JIT and GC included), its Python workers and this process.
The end-to-end metrics are ``setup_s`` and ``cold_pass_cpu_s``, the
CPU time of the cold pass.  They are the only ones that repeat within
the bounds on a shared 4-core host whose hypervisor takes up to a
third of the CPUs away for minutes at a time: there, warm-pass wall
times doubled, and warm-pass CPU times moved by a quarter, because the
JIT, which keeps compiling through the first warm passes, falls behind
on a loaded host and leaves more code interpreted.  The cold pass's CPU
time is mostly that JIT and code-generation work, a fixed amount.  The
wall times (``cold_pass_s``, ``warm_pass_s``, ``query_p50_s``) and
``warm_pass_cpu_s`` are reported in the artifact and among the
per-layer metrics.

With ``--trace 0`` nothing is traced and the end-to-end metrics are
printed.  With ``--trace 1`` the layer probes in ``probes.py`` are
installed before ``registry.load_all()``; the cold pass and half of the
timed warm passes (in the order untraced, traced, traced, untraced, ...)
are traced, and the per-layer metrics
are printed, including ``trace.overhead``, the traced over the untraced
warm-pass wall-time median.
Traced passes must account for every job: the per-query build and exec
job counts have to sum to the status store's new jobs, or the run fails.

The input corpus is generated by ``corpus.py`` (fixed seed, cached in
``perfbench/.work``); the cold pass runs the workload's queries in their
listed order and the run's ``--seed`` permutes the order of every warm
pass.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the full artifact (pass log, per-query samples, correctness verdicts,
host-contention stamps), which is also written to
``perfbench/.work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import probes  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: process start on the perf_counter clock (setup_s counts from here)
T_PROCESS = time.perf_counter() - probes.process_age_s()

SF = 0.01
CORPUS_SEED = 42
#: the warm passes feed only reported, unbounded metrics, so a run
#: makes few of them and a sweep of runs stays within its time budget
MIN_WARM_PASSES = 2
#: untimed passes between the cold pass and the timed ones: the
#: first warm pass still spends 30-50% more CPU than later ones, on JIT
#: compilation, and more again on a loaded host
WARMUP_PASSES = 1
#: traced runs alternate untraced and traced timed passes as U T T U,
#: so that what is left of the JIT drift weighs on both sides alike
TRACE_PATTERN = [False, True, True, False]
#: a run aborts (non-zero exit, no result) after this long, in seconds
RUN_LIMIT_S = 170
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "cold_pass_cpu_s": "s",
}

JOB_LAYER_PREFIXES = [name for name, _, _ in probes.JOB_LAYERS]

PER_LAYER = {
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "warm_pass_cpu_s": "s",
    "query_p50_s": "s",
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "registry.cold_build_jobs": "count",
    "registry.build_stages": "count",
    "registry.build_tasks": "count",
    "spark.exec_s": "s",
    "spark.exec_jobs": "count",
    "spark.exec_stages": "count",
    "spark.exec_tasks": "count",
    "spark.stage_busy_s": "s",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.slot_util": "ratio",
    "spark.gc_s": "s",
    "spark.input_records": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
    "tables.load_calls": "count",
    "tables.load_s": "s",
    **{
        f"{p}.{k}": u
        for p in JOB_LAYER_PREFIXES
        for k, u in (("calls", "count"), ("s", "s"), ("jobs", "count"))
    },
    "smalldf.calls": "count",
    "smalldf.s": "s",
    "spark.create_dataframe_calls": "count",
    "spark.create_dataframe_s": "s",
    "jvm.cpu_s": "s",
    "pyworker.cpu_s": "s",
    "driver_py.cpu_s": "s",
    "jvm.peak_rss_mb": "MB",
    "driver_py.peak_rss_mb": "MB",
    "host.steal_s": "s",
    "trace.overhead": "ratio",
}


def layer_metric(layer: str, kind: str) -> str:
    """Metric name of a layer's call count or time: ``tables.load`` and
    ``spark.create_dataframe`` name a function, so they take ``_calls``."""
    sep = "_" if layer in ("tables.load", "spark.create_dataframe") else "."
    return f"{layer}{sep}{kind}"


def _abort(signum, frame):
    """On SIGALRM (the run limit) or SIGTERM: kill the JVM and its workers,
    remove the run directory and exit non-zero.

    Raising instead would be unsafe: the program's own ``except
    Exception`` handlers can swallow an exception raised mid-query."""
    print(f"perfbench: aborted by {signal.Signals(signum).name}", file=sys.stderr)
    proc = _JVM.get("proc")
    if proc is not None:
        for pid in [*probes.descendants(proc.pid), proc.pid]:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        proc.wait()
    shutil.rmtree(_JVM.get("run_dir", ""), ignore_errors=True)
    os._exit(3)


#: the running JVM's launcher process and the run directory, for _abort
_JVM: dict = {}


def prepare_env(run_dir: str, trace: bool) -> None:
    """Point every scratch location of Spark and the program inside the
    run directory, and make the repository importable in Python workers."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    sys.path.insert(1, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    # no hsperfdata file in /tmp: a run writes only inside its checkout
    submit = [f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"]
    if trace:
        # the status store must keep every job and stage of the run
        submit += [
            "--conf spark.ui.retainedJobs=1000000",
            "--conf spark.ui.retainedStages=1000000",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    import tempfile

    tempfile.tempdir = None
    os.chdir(run_dir)


def load_driver_check():
    import importlib.util

    path = os.path.join(ROOT, "tools", "driver_check.py")
    spec = importlib.util.spec_from_file_location("driver_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Bench:
    def __init__(self, args):
        self.args = args
        self.wl = args.workload
        self.queries = WORKLOADS[self.wl]["queries"]
        self.trace = bool(args.trace)
        self.attempted = 0
        self.failed = 0
        self.errors: list[dict] = []
        self.passes: list[dict] = []
        self._duck = None  # DuckDB connection, opened on an oracle-cache miss

    # -- set-up -----------------------------------------------------
    def setup(self) -> None:
        t0 = time.perf_counter()
        if self.trace:
            # probes must be in place before load_all() imports modules
            # that bind the wrapped functions by name
            self.tracer = probes.LayerTracer(sc=None)
            self.tracer.install()
        from thrive_spark import registry

        registry.load_all()
        t1 = time.perf_counter()
        from thrive_spark.session import get_spark

        self.spark = get_spark("perfbench")
        t2 = time.perf_counter()
        self.registry = registry
        self.sc = self.spark.sparkContext
        self.jvm_pid = self.sc._gateway.proc.pid
        _JVM["proc"] = self.sc._gateway.proc
        self.cores = self.sc.defaultParallelism
        if self.trace:
            self.tracer.sc = self.sc
        self.setup_times = {
            "registry.load_all_s": t1 - t0,
            "session.get_spark_s": t2 - t1,
            "setup_s": t2 - T_PROCESS,
        }

    # -- one pass ---------------------------------------------------
    def run_pass(self, kind: str, traced: bool, collect: bool = False, order=None):
        """One timed pass over the workload; returns its record and, with
        ``collect``, each query's ``toPandas()`` output (or exception)
        instead of writing to the noop sink."""
        pass_no = len(self.passes)
        order = order or stats.query_order(self.queries, self.args.seed, pass_no)
        if traced:
            probes.wait_listener_bus(self.sc)
            jobs_before = probes.total_jobs(self.sc)
            layers_before = self.tracer.snapshot()
            self.tracer.take_groups()
            self.tracer.enabled = True
        cpu0, steal0 = self._cpu(), probes.host_steal_s()
        per_query, outputs = {}, {}
        t_pass = time.perf_counter()
        for q in order:
            base = f"pb{pass_no}:{q}"
            self.attempted += 1
            t0 = time.perf_counter()
            t1 = None
            try:
                if traced:
                    self.tracer.set_base(f"{base}:build")
                df = self.registry.QUERIES[q](self.spark, self.sf_dir)
                t1 = time.perf_counter()
                if traced:
                    self.tracer.set_base(f"{base}:exec")
                if collect:
                    outputs[q] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 - counted as a failure
                self.failed += 1
                self.errors.append({"pass": pass_no, "query": q, "error": repr(exc)[:300]})
                outputs[q] = exc
            finally:
                if traced:
                    self.tracer.set_base(None)
            t2 = time.perf_counter()
            per_query[q] = {"wall_s": t2 - t0, "build_s": (t1 or t2) - t0}
        wall = time.perf_counter() - t_pass
        cpu1, steal1 = self._cpu(), probes.host_steal_s()
        rec = {
            "pass": pass_no,
            "kind": kind,
            "timed": kind != "warmup",
            "traced": traced,
            "wall_s": wall,
            "cpu_s": sum(cpu1) - sum(cpu0),
            "steal_s": steal1 - steal0,
            "order": order,
            "queries": per_query,
        }
        if traced:
            self.tracer.enabled = False
            rec["layers"] = self._pass_layers(
                pass_no, order, per_query, jobs_before, layers_before
            )
            for k, a, b in zip(("jvm.cpu_s", "pyworker.cpu_s", "driver_py.cpu_s"), cpu0, cpu1):
                rec["layers"][k] = b - a
        self.passes.append(rec)
        return rec, outputs

    def _cpu(self) -> tuple[float, float, float]:
        """CPU seconds so far of the JVM, its Python workers and this process."""
        return (
            probes.proc_cpu_s(self.jvm_pid),
            probes.pyworker_cpu_s(self.jvm_pid),
            probes.self_cpu_s(),
        )

    def _pass_layers(self, pass_no, order, per_query, jobs_before, layers_before) -> dict:
        probes.wait_listener_bus(self.sc)
        new_jobs = probes.total_jobs(self.sc) - jobs_before
        groups = self.tracer.take_groups()
        seen_stages: set = set()
        m = dict.fromkeys(
            ["registry.build_s", "registry.build_jobs", "registry.build_stages",
             "registry.build_tasks", "spark.exec_s", "spark.exec_jobs",
             "spark.exec_stages", "spark.exec_tasks", "spark.stage_busy_s",
             "spark.driver_gap_s", *probes.STAGE_SUMS],
            0.0,
        )
        for q in order:
            base = f"pb{pass_no}:{q}"
            b, e = (
                probes.group_counters(
                    self.sc, [g for g in groups if g.startswith(f"{base}:{phase}")], seen_stages
                )
                for phase in ("build", "exec")
            )
            busy = stats.interval_union(b["intervals"] + e["intervals"])
            pq = per_query[q]
            pq.update(build_jobs=b["jobs"], exec_jobs=e["jobs"], stage_busy_s=busy)
            m["registry.build_s"] += pq["build_s"]
            m["registry.build_jobs"] += b["jobs"]
            m["registry.build_stages"] += b["stages"]
            m["registry.build_tasks"] += b["tasks"]
            m["spark.exec_s"] += pq["wall_s"] - pq["build_s"]
            m["spark.exec_jobs"] += e["jobs"]
            m["spark.exec_stages"] += e["stages"]
            m["spark.exec_tasks"] += e["tasks"]
            m["spark.stage_busy_s"] += busy
            m["spark.driver_gap_s"] += pq["wall_s"] - busy
            for k in probes.STAGE_SUMS:
                m[k] += b[k] + e[k]
        accounted = m["registry.build_jobs"] + m["spark.exec_jobs"]
        if accounted != new_jobs:
            raise RuntimeError(
                f"job accounting: pass {pass_no} attributed {accounted:.0f} jobs to "
                f"queries but the status store recorded {new_jobs} new jobs"
            )
        busy = m["spark.stage_busy_s"]
        m["spark.slot_util"] = m["spark.executor_run_s"] / (busy * self.cores) if busy else 0.0
        for layer, (calls, secs) in self.tracer.snapshot().items():
            c0, s0 = layers_before.get(layer, (0, 0.0))
            m[layer_metric(layer, "calls")] = calls - c0
            m[layer_metric(layer, "s")] = secs - s0
        for p in JOB_LAYER_PREFIXES:
            m[f"{p}.jobs"] = len(
                probes.group_jobs(self.sc, [g for g in groups if p in g.split("|")[1:]])
            )
        m["total_jobs"] = new_jobs
        return m

    # -- correctness ------------------------------------------------
    def oracle_canon(self, q: str, dc):
        """Canonical oracle result of ``q``, from DuckDB over the corpus.

        The corpus is fixed, so the result is cached next to it, keyed by
        the oracle SQL: only the first run in a checkout pays for DuckDB."""
        import hashlib

        sql = self.registry.ORACLE[q]
        with open(dc.__file__, "rb") as fh:  # the canonicalization's source
            key = hashlib.sha256(fh.read() + sql.encode()).hexdigest()[:16]
        path = os.path.join(f"{self.sf_dir}-oracle", f"{q}-{key}.json")
        if os.path.exists(path):
            with open(path) as fh:
                cols, rows = json.load(fh)
            return cols, [tuple(r) for r in rows]
        if self._duck is None:
            import duckdb

            self._duck = duckdb.connect()
            for t in dc.TABLES:
                src = os.path.join(self.sf_dir, f"{t}.parquet")
                self._duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
        canon = dc.canon(self._duck.execute(sql).df())
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(canon, fh)
        os.replace(tmp, path)
        return canon

    def check_outputs(self, outputs: dict) -> dict:
        """Compare each collected output with its DuckDB oracle.

        A query without an oracle is checked on rows only; one that
        returns 0 rows on both sides is marked vacuous.  A query that
        raised was already counted as failed by its pass."""
        dc = load_driver_check()
        verdicts = {}
        for q in sorted(outputs):
            out = outputs[q]
            if isinstance(out, Exception):
                verdicts[q] = {"status": "error", "why": repr(out)[:300]}
                continue
            verdict = {"status": "ok", "rows": len(out)}
            if q not in self.registry.ORACLE:
                verdict["status"] = "rows-only"
            else:
                cols, rows = dc.canon(out)
                ocols, orows = self.oracle_canon(q, dc)
                if cols != ocols:
                    verdict = {"status": "mismatch", "why": f"columns {cols} vs {ocols}"}
                elif rows != orows:
                    verdict = {"status": "mismatch", "why": f"rows {len(rows)} vs {len(orows)}"}
                elif not rows:
                    verdict["status"] = "vacuous"
            if verdict["status"] == "mismatch":
                self.failed += 1
                self.errors.append({"query": q, **verdict})
            verdicts[q] = verdict
        if self._duck is not None:
            self._duck.close()
            self._duck = None
        return verdicts

    # -- the run ----------------------------------------------------
    def warm_passes(self) -> int:
        """Number of timed warm passes: ``--seconds`` over the workload's
        nominal pass time.  The count is fixed rather than timed, because warm
        passes keep getting faster as the JIT settles: a time window would
        let a fast run make more, faster passes and so skew its median."""
        n = max(MIN_WARM_PASSES, round(self.args.seconds / WORKLOADS[self.wl]["pass_s"]))
        if self.trace:
            k = len(TRACE_PATTERN)
            n = k * max(1, round(n / k))
        return n

    def run(self) -> dict:
        from corpus import ensure_corpus

        load_start, steal_start = os.getloadavg(), probes.host_steal_s()
        self.setup()
        self.sf_dir = ensure_corpus(WORK, SF, CORPUS_SEED)
        cold, outputs = self.run_pass(
            "cold", traced=self.trace, collect=True, order=self.queries
        )
        verdicts = self.check_outputs(outputs)
        del outputs
        for _ in range(WARMUP_PASSES):
            self.run_pass("warmup", traced=False)
        warm = [
            self.run_pass("warm", traced=self.trace and TRACE_PATTERN[i % len(TRACE_PATTERN)])[0]
            for i in range(self.warm_passes())
        ]
        steal = probes.host_steal_s() - steal_start
        return self.report(cold, warm, verdicts, load_start, steal)

    def report(self, cold, warm, verdicts, load_start, steal) -> dict:
        untraced = [p for p in warm if not p["traced"]]
        samples = [v["wall_s"] for p in untraced for v in p["queries"].values()]
        p_tail = stats.tail_percentile(len(samples))
        e2e = {
            "setup_s": self.setup_times["setup_s"],
            "cold_pass_cpu_s": cold["cpu_s"],
            "warm_pass_cpu_s": statistics.median([p["cpu_s"] for p in untraced]),
            "cold_pass_s": cold["wall_s"],
            "warm_pass_s": statistics.median([p["wall_s"] for p in untraced]),
            "query_p50_s": statistics.median(samples),
            # reported, not gated: a run holds too few samples for a tail
            # percentile with ten beyond it to sit far above the median
            "query_tail_s": stats.percentile(samples, p_tail) if p_tail else None,
            "error_rate": stats.error_rate(self.attempted, self.failed),
        }
        artifact = {
            "workload": self.wl,
            "seed": self.args.seed,
            "trace": self.trace,
            "sf": SF,
            "corpus_seed": CORPUS_SEED,
            "cores": self.cores,
            "queries": self.queries,
            "end_to_end": e2e,
            "query_samples": len(samples),
            "query_tail_percentile": p_tail,
            "attempted": self.attempted,
            "failed": self.failed,
            "errors": self.errors,
            "correctness": verdicts,
            "vacuous": sorted(q for q, v in verdicts.items() if v["status"] == "vacuous"),
            "host": {
                "steal_s": steal,
                "loadavg_start": load_start,
                "loadavg_end": os.getloadavg(),
            },
            "setup": self.setup_times,
            "passes": [
                {k: v for k, v in p.items() if k != "layers"} for p in self.passes
            ],
        }
        if self.trace:
            layers = {
                k: statistics.median([p["layers"].get(k, 0.0) for p in warm if p["traced"]])
                for k in PER_LAYER
            }
            for k in ("cold_pass_s", "warm_pass_s", "warm_pass_cpu_s", "query_p50_s"):
                layers[k] = e2e[k]
            layers["registry.cold_build_jobs"] = cold["layers"]["registry.build_jobs"]
            layers["session.get_spark_s"] = self.setup_times["session.get_spark_s"]
            layers["registry.load_all_s"] = self.setup_times["registry.load_all_s"]
            layers["jvm.peak_rss_mb"] = probes.proc_peak_rss_mb(self.jvm_pid)
            layers["driver_py.peak_rss_mb"] = probes.self_peak_rss_mb()
            layers["host.steal_s"] = steal
            traced_wall = statistics.median([p["wall_s"] for p in warm if p["traced"]])
            layers["trace.overhead"] = traced_wall / e2e["warm_pass_s"] - 1
            artifact["per_layer"] = layers
            artifact["traced_passes"] = [
                {"pass": p["pass"], "kind": p["kind"], "layers": p["layers"]}
                for p in self.passes
                if p["traced"]
            ]
        return artifact


def stop_spark(bench) -> None:
    """Stop the session and wait for the JVM and its Python workers."""
    spark = getattr(bench, "spark", None)
    if spark is None:
        return
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    kids = probes.descendants(proc.pid)
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        for pid in kids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def run_one(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "thrive_spark")):
        print(f"perfbench: no thrive_spark package under {ROOT}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _abort)
    signal.signal(signal.SIGTERM, _abort)
    signal.alarm(RUN_LIMIT_S)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _JVM["run_dir"] = run_dir
    bench = Bench(args)
    try:
        prepare_env(run_dir, bench.trace)
        artifact = bench.run()
    finally:
        try:
            stop_spark(bench)
        finally:
            os.chdir(ROOT)
            shutil.rmtree(run_dir, ignore_errors=True)
            signal.alarm(0)
    names = PER_LAYER if bench.trace else END_TO_END
    source = artifact["per_layer"] if bench.trace else artifact["end_to_end"]
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": source[k], "unit": u} for k, u in names.items()},
    }
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{int(bench.trace)}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)
    print(json.dumps(artifact, default=str))
    print(json.dumps(result), flush=True)
    return 0


def run_all(args) -> int:
    """Run every workload in its own process and print one table."""
    rows, ok = [], True
    for wl in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            return proc.returncode
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        art = json.loads(proc.stdout.strip().splitlines()[-2])
        ok &= res["correct"]
        rows.append((wl, res, art))
    for wl, res, art in rows:
        e = art["end_to_end"]
        print(f"== {wl}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} vacuous={art['vacuous']}")
        extra = [("cold_pass_s", "s"), ("warm_pass_s", "s"), ("warm_pass_cpu_s", "s"),
                 ("query_p50_s", "s"), ("query_tail_s", "s"), ("error_rate", "ratio")]
        for k, unit in [*END_TO_END.items(), *extra]:
            note = ""
            if k == "query_tail_s":
                note = f"p{art['query_tail_percentile']} of n={art['query_samples']}"
            elif k == "query_p50_s":
                note = f"n={art['query_samples']}"
            value = "n/a" if e[k] is None else f"{e[k]:.4f}"
            print(f"   {k:<44} {value:>14} {unit:<6} {note}")
        if args.trace:
            for k, v in res["metrics"].items():
                print(f"   {k:<44} {v['value']:>14.4f} {v['unit']}")
    print(json.dumps({wl: res for wl, res, _ in rows}))
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())

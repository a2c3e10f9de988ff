#!/usr/bin/env python3
"""Run one workload of the pipes_spark benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One run: start a Spark session, generate the
workload's inputs from the seed and build its ingest artifacts (three
times, into fresh paths), run one cold pass, the workload's untimed
warm-up passes, then timed warm passes until ``--seconds`` have elapsed,
then check the outputs of the cold and the
last warm pass. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics``, holding the
end-to-end metrics with ``--trace 0`` and the per-layer metrics with
``--trace 1``. Lines before it print every metric with its unit and the
run's labels. Details go to ``.perfbench_out/<workload>-s<seed>-t<trace>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import trace  # noqa: E402
from perfbench.workloads import FAMILIES, WORKLOADS, family, ingest  # noqa: E402

SETUP_REPS = 3
TAIL_PCT = 90  # job_tail_s percentile
SPARK_WAIT_S = 30

E2E_UNITS = {
    "setup_s": "s",
    "batch_s": "s",
    "cold_s": "s",
    "job_p50_s": "s",
    "job_tail_s": "s",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "inputs.generate_s": "s",
    "warehouse.ingest_s": "s",
    "catalog.construct_s": "s",
    "spark.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.residual_s": "s",
    "executor.busy_frac": "ratio",
    "executor.gc_s": "s",
    "shuffle.read_mb": "MB",
    "shuffle.write_mb": "MB",
    "shuffle.spill_mb": "MB",
    "sources.input_mb": "MB",
    "sources.scan_tasks": "count",
    "caching.cached_mb": "MB",
    "pipeline.build_s": "s",
    "pipeline.start_s": "s",
    "pipeline.done_s": "s",
    "pipeline.sink_overlap": "ratio",
    "sinks.write_s": "s",
    "sinks.output_mb": "MB",
    "warehouse.append_s": "s",
    "streaming.batches": "count",
    "streaming.batch_p50_ms": "ms",
    "streaming.state_rows": "count",
    **{f"operators.{f}_s": "s" for f in FAMILIES},
    "trace.overhead_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class _Awaited:
    """A streaming query whose ``awaitTermination`` also records when the
    stream ended, so a streaming sink's wall time covers the whole stream."""

    def __init__(self, query, on_end):
        self._query = query
        self._on_end = on_end

    def awaitTermination(self, *args):
        try:
            return self._query.awaitTermination(*args)
        finally:
            self._on_end()

    def __getattr__(self, name):
        return getattr(self._query, name)


class Bench:
    """One run of one workload: the session, the inputs and every sample."""

    def __init__(self, args, work: str):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = work
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.spark = None
        self.sf_dir = ""
        self.manifest: dict = {}
        self.tracer = trace.Tracer()
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0

    # -- set-up ---------------------------------------------------------
    def setup(self) -> dict:
        from pipes_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # a fixed heap size: no run-dependent heap growth in peak_rss_mb
                "spark.driver.extraJavaOptions": f"-Xms{os.environ['PIPES_SPARK_DRIVER_MEM']}",
            },
        )
        session_s = time.perf_counter() - t0
        from perfbench import gen, pipelines

        data = os.path.join(self.work, "data")
        gens, ingests = [], []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            sf_dir, manifest = gen.generate(data, self.args.seed, self.wl.spec, rep)
            if "stream_ingest" in self.wl.pipelines:
                pipelines.prepare(sf_dir, self.args.seed)
            gens.append(time.perf_counter() - t)
            t = time.perf_counter()
            ingest(self.spark, sf_dir, self.wl.jobs)
            ingests.append(time.perf_counter() - t)
            if rep == 0:
                self.sf_dir, self.manifest = sf_dir, manifest
        reps = [g + i for g, i in zip(gens, ingests)]
        return {
            "setup_s": session_s + statistics.median(reps),
            "session.start_s": session_s,
            "inputs.generate_s": statistics.median(gens),
            "warehouse.ingest_s": statistics.median(ingests),
        }

    # -- one job ----------------------------------------------------------
    def run_query(self, name: str, job: str):
        """One catalog query, its result collected to this process as a
        user of the result would (and kept for the check)."""
        from pipes_spark.catalog import QUERIES

        with self.tracer.span(name, "job", status=True, job=job, family=family(name)) as js:
            with self.tracer.span("construct", "construct", job=job):
                df = QUERIES[name].fn(self.spark, self.sf_dir)
            with self.tracer.span("action", "action", job=job) as act:
                if js is not None:
                    js["action_start_s"] = act["start_epoch_s"]
                return df.toPandas()

    def run_pipeline(self, name: str, pass_no: int, job: str):
        from pipes_spark.streaming import progress_summary

        from perfbench import pipelines

        out = os.path.join(self.work, "out", f"{name}-{pass_no}")
        sink_walls: dict[str, tuple[float, float, bool]] = {}

        with self.tracer.span(
            name, "job", status=True, job=job, family=pipelines.FAMILY.get(name), pipeline=True
        ) as js:
            parent = self.tracer.current()

            def wrap(sink, fn, append=False):
                def timed(df):
                    with self.tracer.span(sink, "sink", job=job, parent=parent, append=append):
                        t0 = time.perf_counter()
                        res = fn(df)
                        if hasattr(res, "awaitTermination"):
                            return _Awaited(
                                res,
                                lambda: sink_walls.__setitem__(
                                    sink, (t0, time.perf_counter(), append)
                                ),
                            )
                        sink_walls[sink] = (t0, time.perf_counter(), append)
                        return res

                return timed

            with self.tracer.span("build", "build", job=job):
                runner = pipelines.declare(
                    name, self.spark, self.sf_dir, out, pass_no, wrap
                ).build()
            with self.tracer.span("start", "start", job=job):
                runner.start()
            if js is not None:
                js["cached_mb"] = self.tracer.reader.cached_mb()
            with self.tracer.span("done", "done", job=job):
                results = dict(runner.done())
            t_end = time.perf_counter()
            for res in list(results.values()):
                if isinstance(res, _Awaited):
                    results["progress"] = progress_summary(res)
            if js is not None:
                js["sinks"] = {k: v[1] - v[0] for k, v in sink_walls.items()}
                js["append_s"] = sum(v[1] - v[0] for v in sink_walls.values() if v[2])
                first = min((v[0] for v in sink_walls.values()), default=t_end)
                js["sink_window_s"] = t_end - first
                js["progress"] = results.get("progress", [])
        return results

    # -- passes -----------------------------------------------------------
    def run_pass(self, pass_no: int, cold: bool, traced: bool) -> dict:
        self.tracer.enabled = traced
        self.spark.catalog.clearCache()
        walls, results = {}, {}
        with self.tracer.span(f"pass{pass_no}", "pass", cold=cold):
            t0 = time.perf_counter()
            for name in self.wl.jobs:
                job = f"p{pass_no}:{name}"
                self.attempted += 1
                tj = time.perf_counter()
                try:
                    if name in self.wl.queries:
                        results[name] = self.run_query(name, job)
                    else:
                        results[name] = self.run_pipeline(name, pass_no, job)
                except Exception as e:  # noqa: BLE001 — a failed job is a sample
                    self.failed += 1
                    self.problems.append(f"pass {pass_no} {name}: {type(e).__name__}: {e}")
                walls[name] = time.perf_counter() - tj
            wall = time.perf_counter() - t0
        return {"pass": pass_no, "cold": cold, "traced": traced, "wall_s": wall,
                "jobs": walls, "results": results}

    def measure(self) -> tuple[dict, list[dict]]:
        """The cold pass, the workload's untimed ``warmup_passes``, then
        timed warm passes for ``--seconds`` (at least the workload's
        ``warm_passes``). With tracing on, one more untraced pass settles the
        warm-up first, then traced and untraced passes alternate (at least
        one of each); the tracing overhead is their difference. Only the
        results of the cold and the latest pass are kept."""
        if self.args.trace:
            self.tracer = trace.Tracer(self.spark, enabled=True)
        cold = self.run_pass(0, cold=True, traced=bool(self.args.trace))
        for n in range(1, 1 + self.wl.warmup_passes):
            self.run_pass(n, cold=False, traced=False)
        first = 1 + self.wl.warmup_passes
        warm: list[dict] = []
        least = 3 if self.args.trace else self.wl.warm_passes
        t0 = time.perf_counter()
        while len(warm) < least or time.perf_counter() - t0 < self.args.seconds:
            traced = bool(self.args.trace) and len(warm) % 2 == 1
            if warm:
                warm[-1]["results"] = {}
            warm.append(self.run_pass(first + len(warm), cold=False, traced=traced))
        self.tracer.enabled = bool(self.args.trace)
        return cold, warm

    # -- checks -------------------------------------------------------------
    def check(self, cold: dict, warm: list[dict]) -> None:
        """Compare the query results of the cold and the last warm pass
        with their oracles and the pipelines' last outputs with recomputed
        counts. A wrong output counts as one failed job."""
        from pipes_spark.catalog import QUERIES

        from perfbench import check, pipelines

        con = check.duckdb_over(self.sf_dir)
        try:
            last = warm[-1]
            for name in self.wl.queries:
                oracle = QUERIES[name].oracle
                expected = check.oracle_rows(con, oracle) if oracle else None
                for p in (cold, last):
                    if name not in p["results"]:
                        continue
                    bad = check.check_query(name, p["results"][name], expected)
                    if bad:
                        self.failed += 1
                        self.problems.append(f"pass {p['pass']} {bad}")
            for name in self.wl.pipelines:
                if name not in last["results"]:
                    continue
                out = os.path.join(self.work, "out", f"{name}-{last['pass']}")
                bad = pipelines.check(
                    name, con, self.sf_dir, out, os.path.join(self.work, "warehouse"),
                    last["results"][name], passes=last["pass"] + 1,
                )
                if bad:
                    self.failed += 1
                    self.problems.extend(bad)
        finally:
            con.close()

    # -- metrics ------------------------------------------------------------
    def end_to_end(self, setup: dict, cold: dict, warm: list[dict], peak_mb: float) -> dict:
        # each job-latency percentile is taken within a pass, then the
        # median over passes, as batch_s is
        per_pass = [list(p["jobs"].values()) for p in warm]
        return {
            "setup_s": setup["setup_s"],
            "batch_s": statistics.median(p["wall_s"] for p in warm),
            "cold_s": cold["wall_s"],
            "job_p50_s": statistics.median(statistics.median(j) for j in per_pass),
            "job_tail_s": statistics.median(
                statistics.quantiles(j, n=100, method="inclusive")[TAIL_PCT - 1] for j in per_pass
            ),
            "peak_rss_mb": peak_mb,
        }, {"job_samples": sum(map(len, per_pass)), "job_tail_pct": TAIL_PCT}

    def per_layer(self, setup: dict, warm: list[dict]) -> dict:
        traced = [p for p in warm if p["traced"]]
        plain = [p for p in warm[1:] if not p["traced"]]  # the first one settles
        by_pass: dict[int, list[dict]] = {}
        spans = self.tracer.spans
        pass_ids = {s["id"]: int(s["name"][4:]) for s in spans if s["kind"] == "pass"}
        for s in spans:
            if s["kind"] == "job" and s["parent"] in pass_ids:
                by_pass.setdefault(pass_ids[s["parent"]], []).append(s)
        kids: dict[int, list[dict]] = {}
        for s in spans:
            kids.setdefault(s["parent"], []).append(s)

        rows = []
        for p in traced:
            jobs = by_pass.get(p["pass"], [])
            m = dict.fromkeys(LAYER_UNITS, 0.0)
            batch_ms, overlap_num, overlap_den = [], 0.0, 0.0
            for j in jobs:
                st = j["status"]
                for key in ("jobs", "stages", "tasks"):
                    m[f"spark.{key}"] += st[key]
                m["executor.run_s"] += st["run_s"]
                m["executor.cpu_s"] += st["cpu_s"]
                m["executor.gc_s"] += st["gc_s"]
                m["shuffle.read_mb"] += st["shuffle_read_mb"]
                m["shuffle.write_mb"] += st["shuffle_write_mb"]
                m["shuffle.spill_mb"] += st["spill_mb"]
                m["sources.input_mb"] += st["input_mb"]
                m["sources.scan_tasks"] += st["scan_tasks"]
                wall = {c["kind"]: c["wall_s"] for c in kids.get(j["id"], [])}
                if j["family"]:
                    m[f"operators.{j['family']}_s"] += j["wall_s"]
                if j.get("pipeline"):
                    m["pipeline.build_s"] += wall.get("build", 0.0)
                    m["pipeline.start_s"] += wall.get("start", 0.0)
                    m["pipeline.done_s"] += wall.get("done", 0.0)
                    sinks = j.get("sinks", {})
                    m["caching.cached_mb"] = max(m["caching.cached_mb"], j.get("cached_mb", 0.0))
                    m["sinks.write_s"] += sum(sinks.values())
                    m["sinks.output_mb"] += st["output_mb"]
                    m["warehouse.append_s"] += j.get("append_s", 0.0)
                    overlap_num += sum(sinks.values())
                    overlap_den += j.get("sink_window_s", 0.0)
                    progress = j.get("progress", [])
                    for b in progress:
                        m["streaming.batches"] += 1
                        batch_ms.append(b["batch_duration_ms"] or 0)
                    if progress:
                        m["streaming.state_rows"] += sum(
                            s["state_rows"] or 0 for s in progress[-1]["state"]
                        )
                else:
                    m["catalog.construct_s"] += wall.get("construct", 0.0)
                    after = [t for t in st["submits"] if t >= j.get("action_start_s", 1e18)]
                    if after:
                        m["spark.plan_s"] += min(after) - j["action_start_s"]
            m["executor.residual_s"] = m["executor.run_s"] - m["executor.cpu_s"]
            m["pipeline.sink_overlap"] = overlap_num / overlap_den if overlap_den else 0.0
            m["streaming.batch_p50_ms"] = statistics.median(batch_ms) if batch_ms else 0.0
            rows.append(m)
        out = {k: statistics.fmean(r[k] for r in rows) for k in LAYER_UNITS}
        out["session.start_s"] = setup["session.start_s"]
        out["inputs.generate_s"] = setup["inputs.generate_s"]
        out["warehouse.ingest_s"] = setup["warehouse.ingest_s"]
        plain_wall = statistics.fmean(p["wall_s"] for p in plain)
        # the untraced wall: tracing adds driver-side status reads while
        # executors sit idle, which would bias the share low
        out["executor.busy_frac"] = out["executor.run_s"] / (plain_wall * self.cores)
        out["trace.overhead_s"] = statistics.fmean(p["wall_s"] for p in traced) - plain_wall
        return out

    def labels(self, warm: list[dict]) -> dict:
        import pyspark

        walls = [p["wall_s"] for p in warm]
        return {
            "workload": self.wl.name,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "nproc": len(os.sched_getaffinity(0)),
            "spark_graft_cpus": self.cores,
            "pyspark": pyspark.__version__,
            "spark": self.spark.version,
            "java": self.spark._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "inputs": self.manifest,
            "warm_passes": len(warm),
            "pass_spread": max(walls) / min(walls),
        }


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait until it and every process
    it started (the Python worker daemon and its workers) have ended."""
    started = trace.descendants(os.getpid())
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits at end of its standard input
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    for pid in started:
        while trace.alive(pid):
            if time.time() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
            time.sleep(0.1)


def result_line(attempted: int, failed: int, metrics: dict, units: dict) -> str:
    """The run's last line of standard output."""
    return json.dumps(
        {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    )


def _metric_line(name: str, value: float, unit: str) -> str:
    return f"{name:26s} {value:14.6f} {unit}"


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pipes_spark", "__init__.py")):
        print(f"perfbench: no pipes_spark package under {ROOT}", file=sys.stderr)
        return 2
    load_avg = os.getloadavg()
    ticks = trace.cpu_ticks()
    waited = time.time()
    while trace.other_spark_jvms():
        if time.time() - waited > SPARK_WAIT_S:
            print(
                "perfbench: another Spark JVM is running (pids "
                f"{trace.other_spark_jvms()}); run one Spark process at a time",
                file=sys.stderr,
            )
            return 3
        time.sleep(0.5)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "local"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    # every JVM, the launcher's too: temp files in the run's directory and
    # no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                      f"-Djava.io.tmpdir={work}/tmp"])
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # not the program's 8g: with -Xms8g a sql_analytics run peaks near 7 GB
    # RSS (2.2-2.4 GB at 2g), too much for a shared 15 GB host; see README
    os.environ.setdefault("PIPES_SPARK_DRIVER_MEM", "2g")

    bench = Bench(args, work)
    try:
        phases = {"start": time.perf_counter()}
        with trace.RssSampler() as rss:
            setup = bench.setup()
            phases["setup"] = time.perf_counter()
            cold, warm = bench.measure()
            phases["passes"] = time.perf_counter()
        bench.check(cold, warm)
        phases["check"] = time.perf_counter()
        e2e, tail = bench.end_to_end(setup, cold, warm, rss.peak_mb)
        labels = {
            **bench.labels(warm),
            **tail,
            "load_avg_at_start": load_avg,
            "cpu_steal_share": trace.steal_share(ticks, trace.cpu_ticks()),
            "jvm_peak_rss_mb": rss.jvm_peak_mb,
            "workers_peak_rss_mb": rss.workers_peak_mb,
            # wall time of each phase of the run, for sizing it
            "phase_s": {
                b: phases[b] - phases[a] for a, b in zip(phases, list(phases)[1:])
            },
        }
        if args.trace:
            metrics = bench.per_layer(setup, warm)
            units = LAYER_UNITS
        else:
            metrics, units = e2e, E2E_UNITS
        detail = {
            "labels": labels,
            "problems": bench.problems,
            "metrics": metrics,
            "end_to_end": e2e,
            "passes": [
                {k: v for k, v in p.items() if k != "results"} for p in [cold, *warm]
            ],
            "spans": bench.tracer.spans,
        }
    finally:
        if bench.spark is not None:
            _stop(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)

    for p in bench.problems:
        print(f"problem: {p}")
    print("labels: " + json.dumps(labels, default=str))
    for name, value in e2e.items():
        print(_metric_line(name, value, E2E_UNITS[name]))
    print(_metric_line("fail_ratio", bench.failed / bench.attempted, "ratio"))
    if args.trace:
        for name, value in metrics.items():
            print(_metric_line(name, value, units[name]))
    print(result_line(bench.attempted, bench.failed, metrics, units))
    return 0


if __name__ == "__main__":
    sys.exit(main())

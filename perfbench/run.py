#!/usr/bin/env python3
"""The repository benchmark: one seeded workload through the package's
public entry points on ``local[nproc]``.

    python3 perfbench/run.py --workload star_ingest --seed 1 --seconds 10 --trace 0

Run it from the repository root.  A run generates its inputs from the
seed (cached under ``.perfbench_work/data``), sets a Spark session up
from a cold JVM (``setup_s``), then runs the workload's steps in order,
at least once and again while fewer than ``--seconds`` have passed.
The end-to-end metrics come from the first pass, on a fresh JVM, so
that they mean the same whether or not a run has time for another
pass.  Every step's output is checked after its timed window.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same steps with every call wrapped in a span (also used as the Spark
job group) and prints the per-layer split.  The last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the
lines before it (prefixed ``# ``) carry the host and configuration
record and the full report.  Result and span files are written to
``.perfbench_work/results``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import pandas as pd  # noqa: E402
from gen import SF, generate  # noqa: E402
from layers import MB, PeakRss, Rest, collect, driver_gap, gc_seconds, process_tree  # noqa: E402
from spans import Tracer, self_times  # noqa: E402
from stats import geomean, percentile, valid_metric_name  # noqa: E402
from workloads import WORKLOADS, steps  # noqa: E402

WORK = ".perfbench_work"


def load_spec(root: str) -> dict:
    """``BENCHMARK.json``: the metric names and units this run prints."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
    names += [w["name"] for w in spec["workloads"]]
    bad = [n for n in names if not valid_metric_name(n)]
    if bad:
        raise ValueError(f"invalid metric or workload names: {bad}")
    return spec


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _meminfo_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def _inputs(root: str, seed: int) -> tuple[str, dict]:
    """Generated inputs for *seed*, made once per checkout and seed."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    data = os.path.join(root, WORK, "data", f"seed-{seed}-sf{SF}-{version}")
    manifest = os.path.join(data, "manifest.json")
    if not os.path.exists(manifest):
        tmp = f"{data}.tmp-{os.getpid()}"
        generate(tmp, seed)
        shutil.rmtree(data, ignore_errors=True)
        os.rename(tmp, data)
    with open(manifest) as f:
        return data, json.load(f)


def _source_digest(root: str) -> str:
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(root, "cid_etl_spark", "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _git_commit(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True)
    return r.stdout.strip() or None


def _plus_one(s: pd.Series) -> pd.Series:
    return s + 1


class Session:
    """Set-up, timing and teardown of the one driver process."""

    def __init__(self):
        self.spark = None
        self.jvm_pid: int | None = None
        self.start_s = self.warm_s = 0.0

    def start(self) -> None:
        """The cold set-up that ``cli.main`` pays: ``get_spark`` launches
        the JVM (*start_s*), then a trivial query and a pandas UDF on
        ``nproc`` partitions start the Python worker pool (*warm_s*)."""
        from pyspark.sql import functions as F

        from cid_etl_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        t2 = time.perf_counter()
        self.spark.range(1).collect()
        n = _nproc()
        self.spark.range(n, numPartitions=n).select(
            F.pandas_udf(_plus_one, "long")("id")
        ).collect()
        self.start_s, self.warm_s = t1 - t0, time.perf_counter() - t2

    def stop(self) -> None:
        """Stop Spark, then the JVM, and wait for it and its Python
        workers to end."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        pids = process_tree(self.jvm_pid) if self.jvm_pid else set()
        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 20
        while pids and time.time() < deadline:
            pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
            time.sleep(0.1)
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        self.spark = None


def _one_line(e: BaseException) -> str:
    msg = str(e).strip().splitlines()
    return f"{type(e).__name__}: {msg[0] if msg else ''}"


class Runner:
    """Runs the steps of one workload and checks each output."""

    def __init__(self, spark, data: str, manifest: dict, out_dir: str, traced: bool):
        from cid_etl_spark.queries import oracle_queries, spark_queries

        self.spark, self.data, self.manifest = spark, data, manifest
        self.out_dir, self.traced = out_dir, traced
        self.queries, self.oracle = spark_queries(), oracle_queries()
        self.duck = check.duck_connect(data)
        sc = spark.sparkContext
        if traced:
            self.tracer = Tracer(
                on_enter=lambda s: sc.setJobGroup(s.id, s.name),
                on_exit=lambda p: (
                    sc.setJobGroup(p.id, p.name) if p
                    else (sc.setLocalProperty("spark.jobGroup.id", None),
                          sc.setLocalProperty("spark.job.description", None))
                ),
            )
        else:
            self.tracer = Tracer()
        self.sink_files: list[str] = []

    def _build(self, step):
        from cid_etl_spark.plans.cid_pipeline import run_etl

        if step.kind == "query":
            return self.queries[step.name](self.spark, self.data), None
        return run_etl(self.spark, *(os.path.join(self.data, p) for p in step.inputs))

    def _execute(self, step, df):
        from cid_etl_spark.sources.sinks import write_csv_single

        if step.kind == "query":
            return df.toPandas()
        path = os.path.join(self.out_dir, f"{step.name}.csv")
        write_csv_single(df, path)
        self.sink_files.append(path)
        return path

    def _check(self, step, out, metrics) -> str | None:
        if step.kind == "query":
            return check.compare_frames(out, self._oracle(step.name))
        return check.check_cid_csv(out, self.manifest["cid_truth"]["combined"], metrics)

    def _oracle(self, name: str):
        """The DuckDB twin's answer on this seed's files.  It depends only
        on the inputs and the SQL, so it is kept next to the inputs and
        reused by later runs with the same seed."""
        sql = self.oracle[name]
        key = hashlib.sha256(sql.encode()).hexdigest()[:12]
        path = os.path.join(self.data, "oracle", f"{name}-{key}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        want = self.duck.execute(sql).fetchdf()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        want.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return want

    def run_pass(self, todo) -> tuple[list[float], dict[str, str]]:
        """One timed pass; returns per-step seconds and failures."""
        times, failures = [], {}
        tr = self.tracer
        for step in todo:
            with tr.span(f"query:{step.name}") as q:
                out = err = metrics = None
                try:
                    with tr.span("build"):
                        df, metrics = self._build(step)
                    if self.traced:
                        with tr.span("plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tr.span("execute"):
                        out = self._execute(step, df)
                except Exception as e:  # a failing step counts; the pass goes on
                    err = _one_line(e)
                    traceback.print_exc(file=sys.stderr)
                timed = sum(s.duration for s in tr.spans if s.parent == q.id)
                if err is None:
                    with tr.span("check"):
                        try:
                            err = self._check(step, out, metrics)
                        except Exception as e:
                            err = "check: " + _one_line(e)
            times.append(timed)
            if err:
                failures[step.name] = err
        return times, failures


def _layer_metrics(runner: Runner, todo, records, session, gc_s, stream, wall, manifest, n):
    """The per-layer split, per pass (averaged over the *n* passes)."""
    spans = runner.tracer.spans
    by_id = {s.id: s for s in spans}
    kind = {f"query:{st.name}": st.kind for st in todo}

    def spans_named(name, cid):
        """Child spans *name* of registry steps, or of CID steps."""
        return [
            s for s in spans
            if s.name == name and (kind[by_id[s.parent].name] != "query") == cid
        ]

    jobs, stages, python = records["jobs"], records["stages"], records["python"]
    build_ids = {s.id for s in spans_named("build", False)}
    build_jobs = [j for j in jobs if j["span"] in build_ids]
    gap = 0.0
    for s in spans:
        if s.name.startswith("query:"):
            chk = [c for c in spans if c.parent == s.id and c.name == "check"]
            hi = chk[0].start if chk else s.end
            gap += driver_gap((s.start, hi), jobs)
    cid_exec = {s.id for s in spans_named("execute", True)}
    sink_bytes = sum(os.path.getsize(p) for p in runner.sink_files if os.path.exists(p))
    sink_stage_bytes = sum(
        st["outputBytes"] + st["shuffleWriteBytes"] for st in stages if st["span"] in cid_exec
    )
    touched = sum(manifest["inputs"][i]["bytes"] for st in todo for i in st.inputs)
    input_bytes = sum(st["inputBytes"] for st in stages)

    def total(rows, key):
        return sum(r.get(key, 0.0) for r in rows)

    per_pass = {
        "queries.build_s": sum(s.duration for s in spans_named("build", False)),
        "queries.build_jobs": len(build_jobs),
        "queries.build_job_s": sum(j["end"] - j["start"] for j in build_jobs),
        "queries.execute_s": sum(s.duration for s in spans_named("execute", False)),
        "spark.plan_s": sum(s.duration for s in spans if s.name == "plan"),
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(st["numTasks"] for st in stages),
        "spark.driver_gap_s": gap,
        "spark.executor_run_s": total(stages, "executorRunTime") / 1e3,
        "spark.executor_cpu_s": total(stages, "executorCpuTime") / 1e9,
        "spark.shuffle_write_mb": total(stages, "shuffleWriteBytes") / MB,
        "spark.shuffle_read_mb": total(stages, "shuffleReadBytes") / MB,
        "spark.spill_mb": total(stages, "diskBytesSpilled") / MB,
        "spark.gc_s": gc_s,
        "spark.failed_tasks": total(stages, "numFailedTasks"),
        "functions.python_mb_sent": total(python, "data sent to Python workers") / MB,
        "functions.python_rows": total(python, "number of output rows"),
        "functions.python_stage_s": total(python, "time to run Python workers"),
        "sources.input_mb": input_bytes / MB,
        "plans.etl_s": sum(s.duration for s in spans_named("build", True)),
        "sinks.write_s": sum(s.duration for s in spans_named("execute", True)),
        "sinks.output_mb": sink_bytes / MB,
        "streaming.batches": stream.batches,
        "streaming.batch_s": stream.batch_ms / 1e3,
    }
    return {
        "session.start_s": session.start_s,
        "session.warm_s": session.warm_s,
        **{k: v / n for k, v in per_pass.items()},
        "sources.scan_amplification": input_bytes / (n * touched) if touched else 0.0,
        "sinks.write_amplification": (sink_stage_bytes + sink_bytes) / sink_bytes if sink_bytes else 0.0,
        "trace.wall_s": wall,
    }


def _stream_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamStats(StreamingQueryListener):
        batches = 0
        batch_ms = 0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.batches += 1
            self.batch_ms += event.progress.batchDuration

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return StreamStats()


def _span_summary(spans) -> dict:
    """Self time per span kind (``query:*`` pooled), with the check
    that no child's self time exceeds its parent's span."""
    st = self_times(spans)
    by_id = {s.id: s for s in spans}
    out: dict[str, float] = {}
    for s in spans:
        k = "query" if s.name.startswith("query:") else s.name
        out[k] = out.get(k, 0.0) + st[s.id]
    ok = all(st[s.id] <= by_id[s.parent].duration + 1e-9 for s in spans if s.parent)
    return {"self_s": out, "children_within_parents": ok, "spans": len(spans)}


def run(args, root: str, spec: dict) -> int:
    nproc = _nproc()
    work = os.path.join(root, WORK)
    tmp = os.path.join(work, f"tmp-{os.getpid()}")
    results = os.path.join(work, "results")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(results, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = None
    sys.path.insert(0, root)

    data, manifest = _inputs(root, args.seed)
    from cid_etl_spark.queries import oracle_queries

    todo = steps(args.workload, oracle_queries())
    session, runner = Session(), None
    try:
        session.start()
        spark = session.spark
        import pyspark

        host = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace, "sf": SF,
            "nproc": nproc, "mem_total_kb": _meminfo_kb(),
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "spark": spark.version, "pyspark": pyspark.__version__,
            "python": platform.python_version(),
            "git_commit": _git_commit(root), "source_sha256": _source_digest(root),
            "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
        }
        runner = Runner(spark, data, manifest, os.path.join(tmp, "out"), bool(args.trace))
        stream = _stream_listener() if args.trace else None
        if stream:
            spark.streams.addListener(stream)
            gc0 = gc_seconds(spark)
        t_start = time.time()
        passes = []
        with PeakRss(session.jvm_pid) as rss, runner.tracer.span("run"):
            while not passes or time.time() - t_start < args.seconds:
                passes.append(runner.run_pass(todo))
        per_query = [x for t, _ in passes for x in t]
        step_s = passes[0][0]
        failures = {k: v for _, f in passes for k, v in f.items()}
        failed = sum(len(f) for _, f in passes)
        attempted = len(per_query)
        wall = sum(step_s)
        input_rows = sum(
            manifest["inputs"][i]["rows"] for i in sorted({i for st in todo for i in st.inputs})
        )
        e2e = {
            "wall_s": wall,
            "rows_per_s": input_rows / wall,
            "query_geomean_s": geomean(step_s),
            "setup_s": session.start_s + session.warm_s,
        }
        report = {
            "end_to_end": {
                m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]
            },
            "query_p50_s": {"value": percentile(per_query, 50), "unit": "s", "n": attempted},
            "query_p90_s": {"value": percentile(per_query, 90), "unit": "s", "n": attempted},
            "failed_frac": {"value": failed / attempted, "unit": "ratio"},
            "peak_rss_mb": {"value": rss.peak / MB, "unit": "MB"},
            "failures": failures,
            "passes": len(passes), "input_rows": input_rows,
            "pass_wall_s": [sum(t) for t, _ in passes],
            "setup_split_s": {"start": session.start_s, "warm": session.warm_s},
            "per_query_s": {st.name: step_s[i] for i, st in enumerate(todo)},
            "family_wall_s": {
                fam: sum(step_s[i] for i, st in enumerate(todo) if st.family == fam)
                for fam in WORKLOADS[args.workload]
            },
        }
        tag = f"{args.workload}-seed{args.seed}"
        if args.trace:
            gc_s = gc_seconds(spark) - gc0
            records = collect(Rest(spark.sparkContext), runner.tracer.spans, t_start)
            time.sleep(0.5)  # let the listener bus deliver the last progress events
            spark.streams.removeListener(stream)
            layer = _layer_metrics(
                runner, todo, records, session, gc_s, stream, wall, manifest, len(passes)
            )
            metrics = {
                m["name"]: {"value": layer[m["name"]], "unit": m["unit"]} for m in spec["per_layer"]
            }
            report["per_layer"] = metrics
            report["spans"] = _span_summary(runner.tracer.spans)
            untraced = os.path.join(results, f"{tag}-trace0.json")
            if os.path.exists(untraced):
                with open(untraced) as f:
                    base = json.load(f)["report"]["end_to_end"]["wall_s"]["value"]
                report["tracing_overhead_s"] = wall - base
            runner.tracer.dump(os.path.join(results, f"{tag}-spans.json"))
        else:
            metrics = report["end_to_end"]
        result = {
            "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics,
        }
        with open(os.path.join(results, f"{tag}-trace{args.trace}.json"), "w") as f:
            json.dump({"host": host, "report": report, "result": result}, f, indent=1)
    finally:
        if runner is not None:
            runner.duck.close()
        session.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    print("# host " + json.dumps(host))
    print("# report " + json.dumps(report))
    print(json.dumps(result))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="spark-graft benchmark (see perfbench/README.md)")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "cid_etl_spark", "__init__.py")):
        print("perfbench: run from the repository root (cid_etl_spark/ not found)", file=sys.stderr)
        return 2
    return run(args, root, load_spec(root))


if __name__ == "__main__":
    sys.exit(main())

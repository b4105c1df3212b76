"""Oracle-checked benchmark of the POI engine.

    python3 poibench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 poibench/run.py --selftest

Run from the repository root. One run is one fresh process and one
client in a closed loop (each op starts when the previous one has
finished) on ``local[<cores>]``:

1. start the Spark session and run a trivial job (``setup_s``, measured
   from process start);
2. generate the workload's inputs from ``--seed`` and compute the
   expected output of every op with DuckDB (not timed);
3. run passes over the op list until ``--seconds`` have elapsed (at least
   one pass), checking every op's output; a raise, a timeout or a
   mismatch counts the op as failed and the pass goes on;
4. print an environment/input line, then the result as the last line.

End-to-end metrics (``--trace 0``): ``setup_s``, ``wall_s`` (median pass;
at ``--seconds 1`` a run is exactly one cold pass, which is what a user's
job pays, memo caches included) and ``rows_per_s`` (input rows / wall_s).
``--trace 1`` adds scheduler, process, memo-cache, streaming and layer
probes and prints the per-layer metrics of ``PER_LAYER`` instead; a
layer the workload does not exercise reads 0, and ``trace.wall_s`` minus
the untraced ``wall_s`` is the tracing overhead. Spans go to
``.poibench_out/``; temporary files live in ``.poibench_work/`` and are
removed at exit.

Two workloads (see ``workloads.py``): ``poi_etl`` exercises the PBF
decoder, the tag cascade, ring assembly and the sinks; ``curation_replica``
exercises pair generation, the memo caches, dense numpy work and one
micro-batch stream, and bypasses the POI path. Each run starts a JVM and
pays a cold pass, so more workloads would not fit the time one benchmark
round may take.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

_T_SCRIPT = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

# the engine first: without it there is nothing to measure
import osm_poi_database_maker_spark  # noqa: E402,F401

import probe  # noqa: E402
import workloads  # noqa: E402

_AGE_AT_SCRIPT = probe.process_age_s() - (time.perf_counter() - _T_SCRIPT)
OP_TIMEOUT_S = 60.0
RUN_DEADLINE_S = 150.0

END_TO_END = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("rows_per_s", "rows/s"),
)


def _per_layer() -> list[tuple[str, str, str, str]]:
    """(name, unit, end-to-end metric it should move, workloads)."""
    out = [
        ("session.get_spark_s", "s", "setup_s", "all"),
        ("session.first_job_s", "s", "setup_s", "all"),
        ("op_p50_s", "s", "wall_s", "all"),
        ("peak_rss_mb", "MB", "memory", "all"),
        ("failed_op_ratio", "ratio", "correctness", "all"),
        ("trace.wall_s", "s", "tracing overhead = trace.wall_s - wall_s", "all"),
        ("io.scan_s", "s", "wall_s", "curation_replica"),
    ]
    cur = workloads.CurationReplica
    for m in sorted({cur.module_of(op) for op in cur.ops_list}):
        out.append((f"queries.{m}.plan_s", "s", "op_p50_s", "curation_replica"))
        out.append((f"queries.{m}.exec_s", "s", "wall_s", "curation_replica"))
    out += [(f"op.{op}.s", "s", "op_p50_s", "poi_etl") for op in workloads.POI_OPS]
    out += [(f"op.{op}.s", "s", "op_p50_s", cur.name) for op in cur.ops_list]
    out += [
        ("spark.jobs", "count", "op_p50_s", "all"),
        ("spark.stages", "count", "op_p50_s", "all"),
        ("spark.tasks", "count", "op_p50_s", "all"),
        ("spark.eager_jobs", "count", "op_p50_s", "all"),
        ("spark.failed_tasks", "count", "failed_op_ratio", "all"),
        ("spark.serial_stages", "count", "wall_s", "all"),
        ("proc.jvm_cpu_s", "s", "wall_s", "all"),
        ("proc.python_cpu_s", "s", "wall_s", "all"),
        ("proc.cpu_util", "ratio", "wall_s", "all"),
        ("memo.entries_added", "count", "wall_s", "curation_replica"),
        ("pbf.decode_us_per_entity", "us", "rows_per_s", "poi_etl"),
        ("pbf_datasource.scan_s", "s", "wall_s", "poi_etl"),
        ("pbf_datasource.partitions", "count", "rows_per_s", "poi_etl"),
        ("pipeline.dedup_s", "s", "wall_s", "poi_etl"),
        ("pipeline.cascade_s", "s", "wall_s", "poi_etl"),
        ("geo.assemble_rings_s", "s", "wall_s", "poi_etl"),
        ("geo.wkb_s", "s", "wall_s", "poi_etl"),
        ("pipeline.funnel.in", "count", "none (exact)", "poi_etl"),
        ("pipeline.funnel.nonempty", "count", "none (exact)", "poi_etl"),
        ("pipeline.funnel.named", "count", "none (exact)", "poi_etl"),
        ("pipeline.funnel.not_excluded", "count", "none (exact)", "poi_etl"),
        ("pipeline.funnel.toi", "count", "none (exact)", "poi_etl"),
        ("pipeline.survival_ratio", "ratio", "none (exact)", "poi_etl"),
        ("geo.rings_invalid", "count", "none (exact)", "poi_etl"),
        ("sink.write_s", "s", "wall_s", "poi_etl"),
        ("sink.bytes_written", "bytes", "storage", "poi_etl"),
        ("sink.bytes_per_row", "bytes", "storage", "poi_etl"),
        ("sink.files_written", "count", "storage", "poi_etl"),
        ("streaming.batches", "count", "wall_s", "curation_replica"),
        ("streaming.trigger_s", "s", "wall_s", "curation_replica"),
        ("streaming.planning_s", "s", "op_p50_s", "curation_replica"),
        ("streaming.commit_s", "s", "op_p50_s", "curation_replica"),
        ("streaming.state_rows", "count", "wall_s", "curation_replica"),
        ("streaming.state_bytes", "bytes", "wall_s", "curation_replica"),
    ]
    return out


PER_LAYER = _per_layer()


def _configure_env(work: str) -> None:
    """Keep every temporary file of the JVM, Spark and Python inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


def _start_session(tracer):
    from osm_poi_database_maker_spark.session import get_spark

    with tracer.span("session.get_spark"):
        spark = get_spark("poibench")
    with tracer.span("session.first_job"):
        spark.range(1).collect()
    return spark


def _stop_session(spark) -> None:
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a stuck JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=10)


def _environment(spark) -> dict:
    import duckdb
    import pyspark

    sc = spark.sparkContext
    return {
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "nproc": len(os.sched_getaffinity(0)),
        "spark": pyspark.__version__,
        "python": sys.version.split()[0],
        "duckdb": duckdb.__version__,
    }


class _Watchdog:
    """Cancels the running Spark jobs of an op that exceeds its timeout."""

    def __init__(self, sc, seconds: float):
        self.fired = False
        self._timer = threading.Timer(seconds, self._fire, args=(sc,))
        self._timer.daemon = True

    def _fire(self, sc):
        self.fired = True
        sc.cancelAllJobs()

    def __enter__(self):
        self._timer.start()
        return self

    def __exit__(self, *exc):
        self._timer.cancel()


def run_pass(spark, wl, tracer, pass_no: int, traced: bool, deadline: float) -> dict:
    """One closed-loop pass over the op list; returns per-op latency and
    failures. Ops past the run deadline are counted as timed out."""
    sc = spark.sparkContext
    lat: dict[str, float] = {}
    failures: dict[str, str] = {}
    sched: dict[str, dict] = {}
    checks = []
    with tracer.span("pass", op=f"pass{pass_no}") as prec:
        if hasattr(wl, "begin_pass"):
            with tracer.span("compose"):
                wl.begin_pass(spark, pass_no)
        for op in wl.ops():
            if time.monotonic() > deadline:
                failures[op] = "timeout: run deadline reached before the op started"
                continue
            group = f"p{pass_no}:{op}"
            t0 = time.perf_counter()
            try:
                with _Watchdog(sc, OP_TIMEOUT_S) as dog, tracer.span(f"op.{op}", op=group):
                    if traced:
                        sc.setJobGroup(group + ":plan", op)
                    verify = wl.run_op(spark, op, _Grouped(tracer, sc, group, traced))
            except Exception as exc:  # noqa: BLE001 - a failing op is counted, the pass goes on
                kind = "timeout" if dog.fired else "raised"
                failures[op] = f"{kind}: {str(exc).splitlines()[0][:300] if str(exc) else type(exc).__name__}"
                continue
            finally:
                lat[op] = time.perf_counter() - t0
                if traced:
                    sc.setJobGroup("poibench:idle", "between ops")
                    sched[op] = {
                        ph: probe.job_group_stats(sc, f"{group}:{ph}") for ph in ("plan", "exec")
                    }
            checks.append((op, verify))
    with tracer.span("check", op=f"pass{pass_no}"):  # outside the timed pass
        for op, verify in checks:
            reason = verify()
            if reason:
                failures[op] = f"mismatch: {reason}"
    return {"wall": tracer.dur(prec), "lat": lat, "failures": failures, "sched": sched}


class _Grouped:
    """Tracer facade that moves Spark's job group to ``<op>:exec`` when the
    op's ``exec`` span opens, so eager jobs of the registry call stay in
    ``<op>:plan``."""

    def __init__(self, tracer, sc, group: str, traced: bool):
        self._tracer, self._sc, self._group, self._traced = tracer, sc, group, traced

    def span(self, name: str, op: str | None = None):
        if self._traced and name == "exec":
            self._sc.setJobGroup(f"{self._group}:exec", name)
        return self._tracer.span(name, op)

    def total(self, name: str) -> float:
        return self._tracer.total(name)


def _memo_sizes() -> int:
    from osm_poi_database_maker_spark.queries import curation, dedup, text

    return len(dedup._PAIRS_CACHE) + len(text._BPE_CACHE) + len(curation._PID_BOUNDS_CACHE)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args(argv)
    if not args.selftest and not args.workload:
        ap.error("--workload is required")

    name = "selftest" if args.selftest else args.workload
    work = os.path.join(ROOT, ".poibench_work", f"{name}-{args.seed}-{os.getpid()}")
    _configure_env(work)
    tracer = probe.Tracer()
    try:
        with probe.PeakRss() if args.trace else contextlib.nullcontext() as rss:
            with tracer.span("setup"):
                spark = _start_session(tracer)
            setup_s = _AGE_AT_SCRIPT + time.perf_counter() - _T_SCRIPT
            try:
                if args.selftest:
                    import selftest

                    return selftest.run(spark, work)
                result = _run(spark, args, work, tracer, setup_s, rss)
            finally:
                _stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result["context"], sort_keys=True))
    print(json.dumps(result["line"]))
    return 0


def _run(spark, args, work: str, tracer, setup_s: float, rss) -> dict:
    wl = workloads.WORKLOADS[args.workload]()
    with tracer.span("prepare"):
        inputs = wl.prepare(args.seed, work)
    traced = bool(args.trace)
    sc = spark.sparkContext
    listener = None
    if traced:
        listener = probe.streaming_listener()
        spark.streams.addListener(listener)

    deadline = time.monotonic() + RUN_DEADLINE_S - probe.process_age_s()
    passes = []
    cpu0, memo0 = probe.tree_cpu_s(), _memo_sizes()
    t_start = time.monotonic()
    while not passes or (
        time.monotonic() - t_start < args.seconds and time.monotonic() < deadline - 30
    ):
        passes.append(run_pass(spark, wl, tracer, len(passes), traced, deadline))
    cpu1, memo1 = probe.tree_cpu_s(), _memo_sizes()

    attempted = sum(len(wl.ops()) for _ in passes)
    failed = sum(len(p["failures"]) for p in passes)
    wall = statistics.median(p["wall"] for p in passes)
    e2e = {"setup_s": setup_s, "wall_s": wall, "rows_per_s": wl.input_rows / wall}
    if traced:
        metrics = _layer_metrics(spark, wl, tracer, passes, listener, cpu1, cpu0, memo1 - memo0)
        metrics["op_p50_s"] = statistics.median(
            statistics.median(p["lat"].values()) for p in passes
        )
        metrics["peak_rss_mb"] = rss.peak / 2**20
        metrics["failed_op_ratio"] = failed / attempted
        units = {n: u for n, u, _m, _w in PER_LAYER}
        line_metrics = {n: {"value": metrics.get(n, 0), "unit": units[n]} for n in units}
    else:
        units = dict(END_TO_END)
        line_metrics = {n: {"value": e2e[n], "unit": units[n]} for n in units}
    context = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "phase_s": {k: tracer.total(k) for k in ("setup", "prepare", "pass", "check")},
        "env": _environment(spark), "inputs": inputs,
        "passes": len(passes), "end_to_end": e2e,
        "failures": [p["failures"] for p in passes],
        "op_s": [p["lat"] for p in passes],
    }
    if traced:
        context["per_layer_moves"] = {n: {"moves": m, "on": w} for n, _u, m, w in PER_LAYER}
        out_dir = os.path.join(ROOT, ".poibench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(
            os.path.join(out_dir, f"trace-{wl.name}-{args.seed}.json"),
            {**context, "layers": {n: v["value"] for n, v in line_metrics.items()},
             "note": "poi_etl prefix differences are approximate: Catalyst fuses stages"},
        )
    return {
        "context": context,
        "line": {
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": line_metrics,
        },
    }


def _layer_metrics(spark, wl, tracer, passes, listener, cpu1, cpu0, memo_added) -> dict:
    sc = spark.sparkContext
    first = passes[0]
    m: dict[str, float] = {
        "session.get_spark_s": tracer.total("session.get_spark"),
        "session.first_job_s": tracer.total("session.first_job"),
        "trace.wall_s": first["wall"],
        "memo.entries_added": memo_added,
    }
    for op, s in first["lat"].items():
        m[f"op.{op}.s"] = s
    if hasattr(wl, "module_of"):
        for s in tracer.spans:
            if s["op"] and s["op"].startswith("p0:") and s["name"] in ("plan", "exec"):
                op = s["op"].split(":", 1)[1]
                key = f"queries.{wl.module_of(op)}.{s['name']}_s"
                m[key] = m.get(key, 0.0) + tracer.dur(s)
    tot = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0, "serial_stages": 0, "eager_jobs": 0}
    for st in first["sched"].values():
        for ph in ("plan", "exec"):
            for k, v in st[ph].items():
                tot[k] += v
        tot["eager_jobs"] += st["plan"]["jobs"]
    for k, v in tot.items():
        m[f"spark.{k}"] = v
    walls = sum(p["wall"] for p in passes)
    jvm, py = cpu1["jvm"] - cpu0["jvm"], cpu1["python"] - cpu0["python"]
    m["proc.jvm_cpu_s"], m["proc.python_cpu_s"] = jvm, py
    m["proc.cpu_util"] = (jvm + py) / (walls * len(os.sched_getaffinity(0)))
    sc.setJobGroup("poibench:probes", "layer probes")
    m.update(wl.layer_probes(spark, tracer))
    if listener is not None:
        time.sleep(1.0)  # progress events arrive asynchronously
        m.update(listener.metrics())
    return m


if __name__ == "__main__":
    raise SystemExit(main())

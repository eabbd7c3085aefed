"""Run one benchmark workload against the package in this checkout.

    python3 perfbench/run.py --workload small-fits --seed 1 --seconds 10 --trace 0

Run from the root of a checkout (the directory holding ``dask_glm_spark``
and ``__spark_entry__.py``). Inputs are generated from ``--seed`` into
``.bench_work/`` and the references are computed there before the Spark
session starts; neither is timed. Spark runs ``local[nproc]`` in this
process, sized from the machine (see ``machine_env``).

A run: the package import, two set-ups that each launch a fresh Spark
JVM, the workload's first operation once in the fresh session (the cold
one), then whole rounds of its operation list until ``--seconds`` have
passed.
Every operation's output is checked; a failed check or an exception
counts in ``failed``. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). Run
details (machine, source digest, every sample, the per-layer table) go to
``.bench_work/runs/<run>/result.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

# The reference computations and checks run in this process between timed
# operations. Multithreaded BLAS keeps its threads spinning after each call,
# which steals cores from the next Spark operation, so this process's numpy
# uses one thread. The setting is removed again before Spark starts, so the
# JVM and its Python workers see the caller's environment.
_BLAS_VARS = ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS")
_SAVED_BLAS = {k: os.environ.get(k) for k in _BLAS_VARS}
os.environ.update({k: "1" for k in _BLAS_VARS})
import numpy  # noqa: E402,F401

for _k, _v in _SAVED_BLAS.items():
    if _v is None:
        os.environ.pop(_k)
    else:
        os.environ[_k] = _v

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

SETUPS = 2
DEADLINE_S = 175  # a run must end within 180 s; give up rather than hang


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def machine_env(root: str, run_dir: str) -> dict:
    """Size Spark from this machine and make the package importable by
    Spark's Python workers; returns what was set, for the record."""
    cpus = len(os.sched_getaffinity(0))
    avail_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
    # A quarter of the available memory, 1-2 GiB. The inputs are ~10 MB of
    # parquet. With a larger heap the JVM's peak RSS follows GC timing and
    # read 1.8-2.2 GB from run to run at 3.8 GiB; a small heap is filled
    # and collected in every run, so the peak is steady.
    heap_mb = max(1024, min(2048, avail_kb // 4 // 1024))
    local = os.path.join(run_dir, "local")
    os.makedirs(local, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(env)
    return {"cpus": cpus, "mem_available_mb": avail_kb // 1024, **env}


def source_digest(root: str) -> str:
    """Identifies the code under test (the checkout is not a git repo)."""
    h = hashlib.sha256()
    paths = [os.path.join(root, "__spark_entry__.py")]
    for d, _, files in sorted(os.walk(os.path.join(root, "dask_glm_spark"))):
        paths += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the Spark JVM")


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def import_package() -> float:
    """Import pyspark and the package's session and sources modules; the
    first part of the set-up, paid once per process."""
    t0 = time.perf_counter()
    import pyspark.sql  # noqa: F401

    from dask_glm_spark import session  # noqa: F401
    from dask_glm_spark.sources import glm_source  # noqa: F401

    return time.perf_counter() - t0


def setup_once(data: str, extra_conf: dict) -> tuple:
    """JVM launch and session, plus registration of every generated input
    (first schema reads), the same for each workload; returns (spark,
    total_s, get_spark_s)."""
    from dask_glm_spark.session import get_spark
    from dask_glm_spark.sources.glm_source import load_glm_fast, load_table

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=extra_conf)
    t1 = time.perf_counter()
    load_glm_fast(spark, data)
    load_table(spark, data, "documents")
    return spark, time.perf_counter() - t0, t1 - t0


def run_op(op, tracer, results: dict) -> tuple[float, bool]:
    t0 = time.perf_counter()
    try:
        out = tracer.call(f"op.{op.name}", op.run) if tracer else op.run()
        wall = time.perf_counter() - t0
    except Exception as exc:  # an operation that raises counts as failed
        wall = time.perf_counter() - t0
        log(f"{op.name}: FAILED with {type(exc).__name__}: {str(exc)[:300]}")
        results.setdefault(op.name, []).append({"wall_s": wall, "ok": False})
        return wall, False
    try:
        ok, detail = op.check(out)
    except Exception as exc:
        ok, detail = False, f"check raised {type(exc).__name__}: {exc}"
    log(f"{op.name}: {wall:.3f} s {'ok' if ok else 'FAILED'} ({detail})")
    results.setdefault(op.name, []).append({"wall_s": wall, "ok": ok, "detail": detail})
    return wall, ok


def traced_queries(tracer, wl, spark, data: str) -> None:
    """Split each declared-query operation into its build and action
    spans, and record the held DataFrame's Catalyst planning time."""
    import __spark_entry__ as entry

    qs = entry.queries()
    for op in [wl.cold] + wl.ops:
        q = op.name
        if q not in qs:
            continue

        def run(q=q):
            df = tracer.call(f"queries.{q}.build", qs[q], spark, data)
            out = tracer.call(f"queries.{q}.action", df.toPandas)
            tracer.planning[q] = tracer.planning.get(q, 0.0) + spans.planning_s(df)
            spark.catalog.clearCache()
            return out

        op.run = run


def per_layer(tracer, table: dict, extra: dict) -> dict:
    rows, sp, py = table["spans"], table["spark"], table["python"]

    def g(name, key):
        return float(rows.get(name, {}).get(key, 0.0))

    m: dict[str, tuple[float, str]] = {}
    m["session.get_spark_s"] = (extra["get_spark_s"], "s")
    m["setup.import_s"] = (extra["import_s"], "s")
    m["jvm.peak_rss_mb"] = (extra["peak_rss_mb"], "MB")
    m["bench.cold_op_s"] = (extra["cold_op_s"], "s")
    m["bench.headline_op_s"] = (extra["headline_op_s"], "s")
    m["sources.calls"] = (g("sources", "calls"), "count")
    m["sources.wall_s"] = (g("sources", "wall_s"), "s")
    measures = (("calls", "count"), ("wall_s", "s"), ("jobs", "count"), ("exec_cpu_s", "s"))
    for key, unit in measures:
        m[f"kernels.{key}"] = (g("kernels", key), unit)
    for fn in spans.KERNELS:
        for key, unit in measures:
            m[f"kernels.{fn}.{key}"] = (g(f"kernels.{fn}", key), unit)
    for name in ["kernels_sparse"] + [f"kernels_sparse.{f}" for f in spans.KERNELS_SPARSE]:
        m[f"{name}.calls"] = (g(name, "calls"), "count")
        m[f"{name}.wall_s"] = (g(name, "wall_s"), "s")
    for key, unit in (("wall_s", "s"), ("self_s", "s"), ("n_iter", "count"), ("jobs", "count")):
        m[f"solvers.{key}"] = (g("solvers", key), unit)
        for s in spans.SOLVERS:
            m[f"solvers.{s}.{key}"] = (g(f"solvers.{s}", key), unit)
    m["estimators.fit.wall_s"] = (g("estimators.fit", "wall_s"), "s")
    m["estimators.fit.self_s"] = (g("estimators.fit", "self_s"), "s")
    for fn in ("predict", "score", "get_auc"):
        m[f"estimators.{fn}.wall_s"] = (g(f"estimators.{fn}", "wall_s"), "s")
    rp = "model_selection.regularization_path"
    m[f"{rp}.wall_s"] = (g(rp, "wall_s"), "s")
    m[f"{rp}.self_s"] = (g(rp, "self_s"), "s")
    m[f"{rp}.fits"] = (g(rp, "fits"), "count")
    m["metrics.roc_auc_score.wall_s"] = (g("metrics.roc_auc_score", "wall_s"), "s")
    m["metrics.roc_auc_score.jobs"] = (g("metrics.roc_auc_score", "jobs"), "count")
    m["metrics.accuracy_score.wall_s"] = (g("metrics.accuracy_score", "wall_s"), "s")
    m["text.fit_text_classifier.wall_s"] = (g("text.fit_text_classifier", "wall_s"), "s")
    m["text.fit_text_classifier.self_s"] = (g("text.fit_text_classifier", "self_s"), "s")
    qs = workloads.CURATION_QUERIES
    m["queries.build_s"] = (sum(g(f"queries.{q}.build", "wall_s") for q in qs), "s")
    m["queries.action_s"] = (sum(g(f"queries.{q}.action", "wall_s") for q in qs), "s")
    m["queries.jobs"] = (g("queries", "jobs"), "count")
    m["queries.shuffle_bytes"] = (g("queries", "shuffle_bytes"), "bytes")
    m["queries.planning_s"] = (sum(tracer.planning.values()), "s")
    for q in workloads.CURATION_QUERIES:
        m[f"queries.{q}.action_s"] = (g(f"queries.{q}.action", "wall_s"), "s")
        m[f"queries.{q}.jobs"] = (g(f"queries.{q}.build", "jobs")
                                  + g(f"queries.{q}.action", "jobs"), "count")
    units = {"jobs": "count", "stages": "count", "tasks": "count",
             "core_busy_ratio": "ratio", "unattributed_jobs": "count"}
    for k, v in sp.items():
        unit = units.get(k, "bytes" if k.endswith("_bytes") else "s")
        m[f"spark.{k}"] = (float(v), unit)
    m["python.bytes_sent"] = (py["bytes_sent"], "bytes")
    m["python.bytes_received"] = (py["bytes_received"], "bytes")
    m["trace.run_s"] = (extra["run_s"], "s")
    m["trace.bookkeeping_s"] = (tracer.bookkeeping_s, "s")
    return m


def give_up(*_) -> None:
    """Deadline handler: kill the Spark JVM, wait for it, exit non-zero."""
    log("deadline passed, giving up")
    try:
        from pyspark import SparkContext

        proc = SparkContext._gateway.proc
        proc.kill()
        proc.wait(timeout=30)
    except Exception:
        pass
    os._exit(3)


def main() -> int:
    ap = argparse.ArgumentParser(description="perfbench: one workload, one JSON line")
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "dask_glm_spark", "__init__.py"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        log(f"no dask_glm_spark package and __spark_entry__.py in {root}; "
            "run from the root of a checkout")
        return 2
    sys.path.insert(0, root)
    signal.signal(signal.SIGALRM, give_up)
    signal.alarm(DEADLINE_S)

    work = os.path.join(root, ".bench_work")
    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    run_dir = os.path.join(work, "runs", run_id)
    os.makedirs(run_dir, exist_ok=True)
    env = machine_env(root, run_dir)
    env["source_digest"] = source_digest(root)
    log(f"machine: {env['cpus']} cpus, {env['mem_available_mb']} MB available, "
        f"heap {env['SPARK_GRAFT_DRIVER_MEM']}, source {env['source_digest']}")

    # -- the import, the first part of the set-up: before the references,
    # which import the package too
    import_s = import_package()

    # -- inputs and references: neither is timed
    t = time.perf_counter()
    data = gen.generate(work, a.seed)
    refs = workloads.references(a.workload, data, work, env["cpus"])
    log(f"inputs and references ready in {time.perf_counter() - t:.1f} s")

    extra_conf: dict = {}
    log_dir = os.path.join(run_dir, "eventlog")
    if a.trace:
        os.makedirs(log_dir, exist_ok=True)
        extra_conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    # -- set-up: each sample launches a fresh JVM. The ones after the first
    # register the inputs through a fresh path alias, so the package's
    # per-path schema memo in this process cannot skip the schema reads.
    setup_s, get_spark_s = [], []
    spark = None
    path = data
    for i in range(SETUPS):
        if spark is not None:
            stop_spark(spark)
            path = os.path.join(os.path.dirname(data), f"alias-{os.getpid()}-{i}")
            os.symlink("data", path)
        spark, total, gs = setup_once(path, extra_conf)
        setup_s.append(total)
        get_spark_s.append(gs)
    data = path
    log(f"import {import_s:.3f} s, set-up samples {[round(s, 3) for s in setup_s]}")

    tracer = None
    if a.trace:  # before the workload binds the package's functions
        tracer = spans.Tracer(spark.sparkContext)
        tracer.install()
    wl = workloads.WORKLOADS[a.workload](spark, data, refs)
    if tracer:
        traced_queries(tracer, wl, spark, data)

    results: dict = {}
    attempted = failed = 0

    # -- cold operation: the first operation in the fresh session
    w0 = time.time()
    steal0 = cpu_steal_s()
    cold, ok = run_op(wl.cold, tracer, results)
    attempted, failed = 1, int(not ok)

    # -- timed section: whole rounds until --seconds have passed
    rounds: list[float] = []
    t0 = time.perf_counter()
    while not rounds or time.perf_counter() - t0 < a.seconds:
        r0 = time.perf_counter()
        for op in wl.ops:
            _, ok = run_op(op, tracer, results)
            attempted += 1
            failed += int(not ok)
        rounds.append(time.perf_counter() - r0)
    w1 = time.time()
    steal = cpu_steal_s() - steal0
    log(f"host steal during the timed section: {steal:.1f} CPU-s "
        f"({steal / (w1 - w0) / env['cpus']:.1%} of the cores)")
    run_s = statistics.median(rounds)
    headline = statistics.median(r["wall_s"] for r in results[wl.headline][-len(rounds):])
    rss = jvm_peak_rss_mb(spark)
    app_id = spark.sparkContext.applicationId
    if tracer:
        tracer.uninstall()
    stop_spark(spark)
    # the inputs are regenerated in ~2 s; keep the checkout small
    shutil.rmtree(gen.seed_dir(work, a.seed), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "local"), ignore_errors=True)

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "env": env, "import_s": import_s, "setup_samples_s": setup_s,
        "get_spark_samples_s": get_spark_s,
        "rounds_s": rounds, "ops": results, "steal_cpu_s": steal,
    }
    if a.trace:
        path_log = spans.find_eventlog(log_dir, app_id)
        table = spans.layer_table(tracer, spans.parse_eventlog(path_log), (w0, w1),
                                  env["cpus"])
        record["layers"] = table
        record["spans"] = tracer.spans
        metrics = per_layer(tracer, table, {
            "get_spark_s": statistics.median(get_spark_s), "import_s": import_s,
            "run_s": run_s,
            "peak_rss_mb": rss, "cold_op_s": cold, "headline_op_s": headline})
        prior = os.path.join(work, "runs", f"{a.workload}-seed{a.seed}-untraced.json")
        if os.path.exists(prior):
            with open(prior) as fh:
                untraced = json.load(fh)["run_s"]
            log(f"tracing overhead: {run_s - untraced:+.3f} s "
                f"(traced run_s {run_s:.3f} vs untraced {untraced:.3f}, same seed)")
        for name, (v, _) in sorted(metrics.items()):
            log(f"  {name:58s} {v:14.4f}")
    else:
        metrics = {
            "setup_s": (import_s + statistics.median(setup_s), "s"),
            "run_s": (run_s, "s"),
        }
        record["cold_op_s"], record["headline_op_s"] = cold, headline
        with open(os.path.join(work, "runs", f"{a.workload}-seed{a.seed}-untraced.json"),
                  "w") as fh:
            json.dump({"run_s": run_s}, fh)
    record["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    with open(os.path.join(run_dir, "result.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    signal.alarm(0)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": record["metrics"],
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

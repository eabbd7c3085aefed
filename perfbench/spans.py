"""Traced runs: spans around the package's public functions, Spark job
groups per innermost span, and the per-layer table built from the spans
plus the uncompressed Spark event log.

A span is ``(id, name, parent, start, end)`` with epoch-second times, kept
in memory and written at the end. Every span sets the Spark job group
``pb<id>`` while it is the innermost open span, so each job, stage and
task in the event log belongs to exactly one span. Names follow
``<module>.<function>``; the benchmark's own operations are ``op.<name>``
and the two halves of a declared query are ``queries.<q>.build`` (the
query function, which may run jobs of its own) and ``queries.<q>.action``.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict

# The public functions the workloads call, per layer. A function no
# workload reaches is left untraced, so no metric reads 0 by construction.
KERNELS = ["column_moments_full", "loss_gradient", "multi_loss_gradient", "gradient_hessian"]
KERNELS_SPARSE = ["softmax_loss_gradient_sparse"]
SOLVERS = ["admm", "newton", "proximal_grad", "softmax_lbfgs_sparse"]


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[tuple] = []
        self.stack: list[int] = []
        self.fit_iters: dict[int, int] = {}
        self.planning: dict[str, float] = {}  # query -> Catalyst planning s
        self.bookkeeping_s = 0.0
        self._next_id = 0
        self._patched: list[tuple] = []

    # ----------------------------------------------------------- spans

    def _enter(self, name: str) -> tuple:
        b0 = time.perf_counter()
        self._next_id += 1
        sid = self._next_id
        parent = self.stack[-1] if self.stack else None
        self.stack.append(sid)
        self.sc.setJobGroup(f"pb{sid}", name)
        self.bookkeeping_s += time.perf_counter() - b0
        return sid, parent, time.time()

    def _exit(self, name: str, sid: int, parent, t0: float) -> None:
        t1 = time.time()
        b0 = time.perf_counter()
        self.stack.pop()
        if parent is not None:
            self.sc.setJobGroup(f"pb{parent}", "")
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.spans.append((sid, name, parent, t0, t1))
        self.bookkeeping_s += time.perf_counter() - b0

    def call(self, name: str, fn, *args, **kwargs):
        sid, parent, t0 = self._enter(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self._exit(name, sid, parent, t0)

    def wrap(self, name: str, fn, solver: bool = False):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            # solvers report their iterations through the fit_info dict
            info = kwargs.setdefault("fit_info", {}) if solver else None
            sid, parent, t0 = tracer._enter(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._exit(name, sid, parent, t0)
                if solver:
                    tracer.fit_iters[sid] = int(info.get("n_iter") or 0)

        traced.__wrapped_by_bench__ = True
        return traced

    # --------------------------------------------------------- patching

    def _patch(self, owner, attr: str, name: str, solver: bool = False) -> None:
        orig = getattr(owner, attr, None)
        if orig is None or getattr(orig, "__wrapped_by_bench__", False):
            return
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(name, orig, solver=solver))

    def install(self) -> None:
        """Wrap the public functions of each layer in place."""
        from dask_glm_spark.functions import kernels, kernels_sparse, metrics
        from dask_glm_spark.operators import estimators, model_selection, solvers, text
        from dask_glm_spark.sources import glm_source

        for fn in ("load_glm_fast", "load_table"):
            self._patch(glm_source, fn, f"sources.{fn}")
        for fn in KERNELS:
            self._patch(kernels, fn, f"kernels.{fn}")
        for fn in KERNELS_SPARSE:
            self._patch(kernels_sparse, fn, f"kernels_sparse.{fn}")
        for fn in SOLVERS:
            self._patch(solvers, fn, f"solvers.{fn}", solver=True)
        # estimators and model_selection pick solvers from this registry
        for key, orig in list(solvers._solvers.items()):
            self._patched.append((solvers._solvers, key, orig))
            solvers._solvers[key] = getattr(solvers, key)
        # estimators: fit is the layer's entry; scoring runs on the fitted model
        self._patch(estimators._GLM, "fit", "estimators.fit")
        self._patch(estimators.SoftmaxRegression, "fit", "estimators.fit")
        self._patch(estimators.LogisticRegression, "predict_proba", "estimators.predict")
        self._patch(estimators.LogisticRegression, "score", "estimators.score")
        self._patch(estimators.LogisticRegression, "get_auc", "estimators.get_auc")
        self._patch(model_selection, "regularization_path",
                    "model_selection.regularization_path")
        for fn in ("roc_auc_score", "accuracy_score"):
            self._patch(metrics, fn, f"metrics.{fn}")
        self._patch(text, "fit_text_classifier", "text.fit_text_classifier")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)
        self._patched.clear()


def planning_s(df) -> float:
    """Catalyst analysis + optimization + planning time of a DataFrame's
    query execution, from its QueryPlanningTracker."""
    try:
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        total = 0
        while it.hasNext():
            total += it.next()._2().durationMs()
        return total / 1000.0
    except Exception:
        return 0.0


# --------------------------------------------------------- event log


def parse_eventlog(path: str) -> dict:
    """Jobs (group, submit, end, stages) and per-stage task sums."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "t0": ev["Submission Time"] / 1000.0,
                    "t1": None,
                    "stages": ev.get("Stage IDs", []),
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                s = stages[ev["Stage ID"]]
                dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                got = info.get("Getting Result Time", 0)
                getting = info.get("Finish Time", 0) - got if got else 0
                run = m.get("Executor Run Time", 0)
                deser = m.get("Executor Deserialize Time", 0)
                ser = m.get("Result Serialization Time", 0)
                s["tasks"] += 1
                s["run_s"] += run / 1000.0
                s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                s["deser_s"] += deser / 1000.0
                s["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                s["sched_s"] += max(0, dur - run - deser - ser - getting) / 1000.0
                s["result_bytes"] += m.get("Result Size", 0)
                s["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
                rd = m.get("Shuffle Read Metrics") or {}
                s["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0)
                wr = m.get("Shuffle Write Metrics") or {}
                s["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            elif kind == "SparkListenerStageCompleted":
                info = ev.get("Stage Info") or {}
                s = stages[info.get("Stage ID")]
                for acc in info.get("Accumulables", []):
                    name = (acc.get("Name") or "").lower()
                    if "python" in name and "data sent" in name:
                        s["py_sent"] += float(acc.get("Value") or 0)
                    elif "python" in name and "data returned" in name:
                        s["py_received"] += float(acc.get("Value") or 0)
    return {"jobs": jobs, "stages": stages}


def find_eventlog(log_dir: str, app_id: str) -> str | None:
    hits = [p for p in glob.glob(os.path.join(log_dir, f"{app_id}*"))
            if not p.endswith(".inprogress")]
    if not hits:
        hits = glob.glob(os.path.join(log_dir, f"{app_id}*"))
    return hits[0] if hits else None


# ------------------------------------------------------- layer table


def _union(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def layer_table(tracer: Tracer, log: dict, window: tuple[float, float], cores: int) -> dict:
    """Per-function and per-module aggregates over the spans that start
    inside ``window`` (the cold operation and the timed section), plus
    Spark totals for the window's jobs."""
    w0, w1 = window
    spans = [s for s in tracer.spans if w0 <= s[3] <= w1]
    children: dict[int, list] = defaultdict(list)
    for s in spans:
        children[s[2]].append(s)
    jobs_by_group: dict[str, list] = defaultdict(list)
    for jid, j in log["jobs"].items():
        if j["group"]:
            jobs_by_group[j["group"]].append(jid)

    def subtree(sid):
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(c[0] for c in children.get(cur, []))
        return out

    def stage_sum(jids, key):
        return sum(log["stages"][st][key] for j in jids for st in log["jobs"][j]["stages"]
                   if st in log["stages"])

    rows: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    by_id = {s[0]: s for s in spans}

    def has_ancestor(parent, same) -> bool:
        while parent is not None and parent in by_id:
            if same(by_id[parent][1]):
                return True
            parent = by_id[parent][2]
        return False

    for sid, name, parent, t0, t1 in spans:
        module = name.split(".")[0]
        # a row per function and one per module; a span enclosed by another
        # of the same function (or module) is already inside that one's totals
        keys = [k for k, same in ((name, lambda n: n == name),
                                  (module, lambda n: n.split(".")[0] == module))
                if not has_ancestor(parent, same)]
        if not keys:
            continue
        jids = [j for s in subtree(sid) for j in jobs_by_group.get(f"pb{s}", [])]
        for key in keys:
            r = rows[key]
            r["calls"] += 1
            r["wall_s"] += t1 - t0
            r["self_s"] += (t1 - t0) - _union((c[3], c[4]) for c in children.get(sid, []))
            r["jobs"] += len(jids)
            r["exec_cpu_s"] += stage_sum(jids, "cpu_s")
            r["shuffle_bytes"] += stage_sum(jids, "shuffle_read_bytes")
            r["n_iter"] += tracer.fit_iters.get(sid, 0)
        if module == "solvers" and parent in by_id and by_id[parent][1].startswith(
                "model_selection."):
            rows[by_id[parent][1]]["fits"] += 1

    # Spark totals over the jobs submitted inside the window
    wjobs = [j for j, v in log["jobs"].items() if w0 <= v["t0"] <= w1 and v["t1"]]
    wall = w1 - w0
    covered = _union((log["jobs"][j]["t0"], log["jobs"][j]["t1"]) for j in wjobs)
    st_ids = {st for j in wjobs for st in log["jobs"][j]["stages"] if st in log["stages"]}

    def tot(key):
        return sum(log["stages"][st][key] for st in st_ids)

    spark = {
        "jobs": len(wjobs),
        "stages": len(st_ids),
        "tasks": tot("tasks"),
        "job_gap_s": wall - covered,
        "scheduler_delay_s": tot("sched_s"),
        "deserialize_s": tot("deser_s"),
        "exec_run_s": tot("run_s"),
        "exec_cpu_s": tot("cpu_s"),
        "gc_s": tot("gc_s"),
        "spill_bytes": tot("spill_bytes"),
        "result_bytes": tot("result_bytes"),
        "core_busy_ratio": tot("run_s") / (wall * cores) if wall > 0 else 0.0,
        "shuffle_read_bytes": tot("shuffle_read_bytes"),
        "shuffle_write_bytes": tot("shuffle_write_bytes"),
        "unattributed_jobs": sum(1 for j in wjobs if not log["jobs"][j]["group"]),
    }
    python = {"bytes_sent": tot("py_sent"), "bytes_received": tot("py_received")}
    return {"spans": {k: dict(v) for k, v in rows.items()}, "spark": spark, "python": python}

"""Traced runs: spans around the calls into each layer of qdrant_spark,
and Spark's own execution metrics attributed to the request that caused
them.

Everything here is installed from the benchmark's own files by patching
attributes for the length of the traced window; the library is not
changed. Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import re
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

import probes
from stats import Span, self_times

ROUTES = ("exact_column", "exact_arrow", "ivf", "quant", "quant_ivf",
          "maxsim")

MAINTENANCE_ACTIONS = ("built", "loaded", "rebuilt", "skipped")

PER_LAYER_UNITS = {
    "client.self_ms": "ms", "client.hydrate_ms": "ms",
    "collect.rows_per_request": "count", "query.build_ms": "ms",
    "filters.compile_ms": "ms", "dispatch.estimate_ms": "ms",
    **{f"dispatch.route.{r}": "count" for r in ROUTES},
    "catalyst.plan_ms": "ms", "spark.action_ms": "ms",
    "spark.jobs_per_request": "count", "spark.tasks_per_request": "count",
    "spark.executor_run_s": "s", "spark.gc_s": "s",
    "spark.task_max_over_median": "ratio",
    "scan.bytes_read": "B", "scan.files_read": "count",
    "scan.rows_read": "count", "scan.rows_per_result": "ratio",
    "python.rows_in": "count", "python.bytes_to_worker": "B",
    "python.bytes_from_worker": "B", "python.udf_s": "s",
    "python.worker_peak_rss_mb": "MB",
    "exchange.shuffle_bytes": "B", "exchange.shuffle_records": "count",
    "mutate.build_ms": "ms", "ingest.write_ms": "ms",
    "ingest.files_written": "count", "ingest.bytes_written": "B",
    "ingest.files_live": "count", "maintenance.ensure_ms": "ms",
    **{f"maintenance.action.{a}": "count" for a in MAINTENANCE_ACTIONS},
    "trace_overhead": "ratio",
}


class Tracer:
    """Collects spans. Each span records its name, start, end, parent span
    and request id. Each thread keeps its own stack; a span opened on a
    thread the library starts (parallel legs) hangs under the span open on
    the client thread."""

    def __init__(self):
        self.spans: list[list] = []   # [name, start, end, parent, request]
        self._local = threading.local()
        self._client_stack = self._stack  # the creating thread's
        self._lock = threading.Lock()
        self.request: int | None = None
        self.collected_rows: dict[int | None, int] = {}
        self.plans: dict[int | None, list[str]] = {}
        self.ensure_actions: list[str] = []
        self.commits: list[tuple[int, int]] = []  # (data files, bytes)
        self._patches: list[tuple[object, str, object]] = []

    @property
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack
        outer = stack or self._client_stack
        with self._lock:
            idx = len(self.spans)
            self.spans.append([name, time.perf_counter(), None,
                               outer[-1] if outer else None, self.request])
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def as_spans(self) -> list[Span]:
        return [Span(n, s, e, p, r) for n, s, e, p, r in self.spans
                if e is not None]

    # -- patching ----------------------------------------------------------

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def patch(self, owner, attr: str, name: str, wrapper=None) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, (wrapper or self.wrap)(orig, name))

    def patch_everywhere(self, module, attr: str, name: str) -> None:
        """Patch a module-level function and every ``from ... import``
        copy of it in the other qdrant_spark modules."""
        orig = getattr(module, attr)
        wrapped = self.wrap(orig, name)
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("qdrant_spark")
                    and getattr(mod, attr, None) is orig):
                self._patches.append((mod, attr, orig))
                setattr(mod, attr, wrapped)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- wrappers with extra bookkeeping -----------------------------------

    def _action(self, fn, name: str):
        """A pyspark action: plan first (``catalyst``), remembering the
        physical plan for route attribution, then execute."""
        tracer = self

        @functools.wraps(fn)
        def traced(obj, *args, **kwargs):
            df = getattr(obj, "_df", obj)  # DataFrameWriter holds _df
            with tracer.span(name):
                jdf = getattr(df, "_jdf", None)
                if jdf is not None:
                    with tracer.span("catalyst"):
                        plan = jdf.queryExecution().executedPlan()
                    with tracer.span("bench"):
                        tracer.plans.setdefault(tracer.request, []).append(
                            plan.toString())
                out = fn(obj, *args, **kwargs)
                if isinstance(out, list):
                    tracer.collected_rows[tracer.request] = (
                        tracer.collected_rows.get(tracer.request, 0)
                        + len(out))
                return out
        return traced

    def _ensure(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            action = out[1] if isinstance(out, tuple) else out
            tracer.ensure_actions.append(str(action))
            return out
        return traced

    def _commit(self, fn, name: str):
        """The snapshot commit: also count what it left on disk."""
        tracer = self

        @functools.wraps(fn)
        def traced(client, col, *args, **kwargs):
            with tracer.span(name):
                out = fn(client, col, *args, **kwargs)
            if client.root is not None:
                path = os.path.join(client.root, col.name, "points")
                tracer.commits.append((probes.data_files(path),
                                       probes.dir_bytes(path)))
            return out
        return traced

    def install(self) -> None:
        """Wrap each layer's entry points."""
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        import qdrant_spark.client as client_mod
        import qdrant_spark.filters as filters_mod
        import qdrant_spark.operators.dispatch as dispatch_mod
        import qdrant_spark.operators.knn as knn_mod
        import qdrant_spark.operators.mutate as mutate_mod
        import qdrant_spark.plans.maintenance as maint_mod
        import qdrant_spark.query as query_mod

        C = client_mod.QdrantSparkClient
        for m in ("create_collection", "upsert", "ensure_vector_index",
                  "query_points", "query_batch_points",
                  "query_points_groups", "facet", "count", "retrieve",
                  "scroll", "_points_to_df"):
            self.patch(C, m, "client")
        self.patch(C, "_hydrate", "client.hydrate")
        self.patch(C, "_commit", "ingest", self._commit)
        self.patch(query_mod.QueryPlanner, "plan", "query")
        self.patch(query_mod.QueryPlanner, "plan_groups", "query")
        self.patch(query_mod, "query_batch", "query")
        for f in ("compile_filter", "apply_filter", "filter_column"):
            self.patch_everywhere(filters_mod, f, "filters")
        for f in ("estimate_filter", "sample_check_cardinality",
                  "per_cluster_matches", "select_probe_clusters",
                  "choose_filtered_strategy"):
            self.patch_everywhere(dispatch_mod, f, "dispatch")
        self.patch_everywhere(knn_mod, "_plan_size_bytes", "dispatch")
        self.patch_everywhere(mutate_mod, "upsert_points", "mutate")
        for f in dir(maint_mod):
            if f.startswith("ensure_") and callable(getattr(maint_mod, f)):
                self.patch(maint_mod, f, "maintenance", self._ensure)
        for m in ("collect", "count", "toPandas", "toLocalIterator",
                  "isEmpty"):
            self.patch(DataFrame, m, "spark.action", self._action)
        for m in ("save", "parquet", "saveAsTable", "insertInto"):
            self.patch(DataFrameWriter, m, "spark.action", self._action)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans,
                       "ensure_actions": self.ensure_actions,
                       "plans": {str(k): v for k, v in self.plans.items()}},
                      f)


_PY = r"MapInArrow|ArrowEvalPython|MapInPandas|BatchEvalPython|FlatMapGroupsIn"
_CODES = re.compile(r"\b__(sq|pq|bq|tq)\b")


def route_of(plans: list[str]) -> str | None:
    """The search route a request's physical plans show, from the columns
    its scans read: quantization codes (``__sq``/``__pq``/``__bq``/
    ``__tq``), IVF cluster ids (``__cluster``), or else the kernel that
    scored the float vectors (Spark's locations are truncated, so paths
    cannot tell the index files apart)."""
    text = "\n".join(plans)
    if not text:
        return None
    codes = _CODES.search(text) is not None
    clusters = "__cluster" in text
    if codes:
        return "quant_ivf" if clusters else "quant"
    if clusters:
        return "ivf"
    if re.search(_PY, text):
        return "maxsim" if "vec_mv" in text else "exact_arrow"
    return "exact_column"


# ---------------------------------------------------------------------------
# Spark's execution metrics (REST API of the driver UI)
# ---------------------------------------------------------------------------

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40}
_NUM = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)?")
_PY_NODES = ("MapInArrow", "ArrowEvalPython", "MapInPandas",
             "BatchEvalPython", "FlatMapGroupsInPandas",
             "FlatMapGroupsInArrow", "AggregateInPandas",
             "WindowInPandas", "FlatMapCoGroupsInPandas",
             "PythonMapInArrow")


def metric_value(text: str) -> float:
    """A SQL metric's total: plain ("2,000"), sized ("7.5 MiB") or the
    multi-task form ("total (min, med, max ...)\\n7.5 MiB (...)")."""
    text = text.strip()
    if text.startswith("total"):
        text = text.split("\n", 1)[1] if "\n" in text else ""
    m = _NUM.match(text.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "B")


def _epoch(stamp: str | None) -> float | None:
    """Spark REST time ("2026-01-01T00:00:00.000GMT") in epoch seconds."""
    if not stamp:
        return None
    return datetime.strptime(stamp[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


def _owner(windows, t: float | None, slack: float = 0.005) -> int | None:
    if t is None:
        return None
    for rid, lo, hi in windows:
        if lo - slack <= t <= hi + slack:
            return rid
    return None


class SparkRest:
    """Reads the driver UI's REST API (bound to the loopback address)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = re.search(r":(\d+)", sc.uiWebUrl.split("//", 1)[1]).group(1)
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def request_metrics(self, windows: list[tuple[int, float, float]]
                        ) -> dict[int, dict]:
        """Per request id: jobs, tasks, executor and GC seconds, stage task
        skew, scan, Python-boundary and shuffle counts. ``windows`` holds
        each request's (id, start, end) in epoch seconds; one client sends
        one request at a time, so a job belongs to the request whose
        window holds its submission (jobs the library submits from its
        own threads carry no job group)."""
        out: dict[int, dict] = {}

        def acc(rid: int) -> dict:
            return out.setdefault(rid, {
                "jobs": 0, "tasks": 0, "executor_run_s": 0.0, "gc_s": 0.0,
                "skew": [], "scan_bytes": 0.0, "scan_files": 0.0,
                "scan_rows": 0.0, "py_rows_in": 0.0, "py_bytes_to": 0.0,
                "py_bytes_from": 0.0, "shuffle_bytes": 0.0,
                "shuffle_records": 0.0})

        job_req: dict[int, int] = {}
        stage_req: dict[int, int] = {}
        for job in self.get("/jobs"):
            rid = _owner(windows, _epoch(job.get("submissionTime")))
            if rid is None:
                continue
            job_req[job["jobId"]] = rid
            acc(rid)["jobs"] += 1
            for sid in job.get("stageIds", []):
                stage_req[sid] = rid
        for st in self.get("/stages"):
            rid = stage_req.get(st["stageId"])
            if rid is None or st.get("status") != "COMPLETE":
                continue
            a = acc(rid)
            a["tasks"] += st.get("numCompleteTasks", 0)
            a["executor_run_s"] += st.get("executorRunTime", 0) / 1e3
            a["gc_s"] += st.get("jvmGcTime", 0) / 1e3
            a["shuffle_bytes"] += st.get("shuffleWriteBytes", 0)
            a["shuffle_records"] += st.get("shuffleWriteRecords", 0)
            if st.get("numCompleteTasks", 0) >= 2:
                q = self.get(f"/stages/{st['stageId']}/{st['attemptId']}"
                             "/taskSummary?quantiles=0.5,1.0")
                med, mx = q["executorRunTime"]
                a["skew"].append(mx / med if med > 0 else 1.0)
        for ex in self.get("/sql?details=true&planDescription=false"
                           "&offset=0&length=1000000"):
            rids = {job_req[j] for j in ex.get("successJobIds", [])
                    if j in job_req}
            if len(rids) != 1:
                continue
            a = acc(rids.pop())
            nodes = {n["nodeId"]: n for n in ex.get("nodes", [])}
            child_of: dict[int, list[int]] = {}
            for e in ex.get("edges", []):
                child_of.setdefault(e["toId"], []).append(e["fromId"])

            def metric(node, name):
                for m in node.get("metrics", []):
                    if m["name"] == name:
                        return metric_value(m["value"])
                return None

            def rows_out(nid, depth=0):
                n = nodes.get(nid)
                if n is None or depth > 20:
                    return 0.0
                v = metric(n, "number of output rows")
                if v is not None:
                    return v
                return sum(rows_out(c, depth + 1)
                           for c in child_of.get(nid, []))

            for nid, n in nodes.items():
                name = n.get("nodeName", "")
                if "Scan" in name:
                    a["scan_bytes"] += metric(n, "size of files read") or 0
                    a["scan_files"] += metric(n, "number of files read") or 0
                    a["scan_rows"] += metric(n, "number of output rows") or 0
                if any(name.startswith(p) for p in _PY_NODES):
                    a["py_bytes_to"] += metric(
                        n, "data sent to Python workers") or 0
                    a["py_bytes_from"] += metric(
                        n, "data returned from Python workers") or 0
                    a["py_rows_in"] += sum(rows_out(c)
                                           for c in child_of.get(nid, []))
        return out


def udf_seconds(spark) -> float:
    """Total time the Python UDF profiler recorded (cProfile's total)."""
    results = spark._profiler_collector._perf_profile_results
    return sum(st.total_tt for st in results.values())


def summarize(tracer: Tracer, requests: list[dict], rest: dict[int, dict],
              udf_s: float, worker_peak_rss: int, ops_traced: float,
              ops_untraced: float, collection_dirs: list[str]
              ) -> dict[str, float]:
    """The per-layer metrics of one traced run. ``requests`` are the
    traced window's request records (``rid``, ``kind``, ``results``);
    the write-path and maintenance metrics cover set-up too."""
    spans = tracer.as_spans()
    selfs = self_times(spans)
    n = max(len(requests), 1)
    rids = {r["rid"] for r in requests}
    per_layer: dict[str, float] = {}
    for s, t in zip(spans, selfs):
        if s.request in rids:
            per_layer[s.name] = per_layer.get(s.name, 0.0) + t

    def ms(layer):
        return 1e3 * per_layer.get(layer, 0.0) / n

    m: dict[str, float] = {
        "client.self_ms": ms("client"),
        "client.hydrate_ms": ms("client.hydrate"),
        "collect.rows_per_request": sum(
            tracer.collected_rows.get(r, 0) for r in rids) / n,
        "query.build_ms": ms("query"),
        "filters.compile_ms": ms("filters"),
        "dispatch.estimate_ms": ms("dispatch"),
        "catalyst.plan_ms": ms("catalyst"),
        "spark.action_ms": ms("spark.action"),
    }
    routes = {r: 0 for r in ROUTES}
    for r in requests:
        if r["kind"] in SEARCH_KINDS:
            route = route_of(tracer.plans.get(r["rid"], []))
            if route:
                routes[route] += 1
    m.update({f"dispatch.route.{k}": float(v) for k, v in routes.items()})

    def total(key):
        return sum(rest.get(r, {}).get(key, 0.0) for r in rids)

    skews = sorted(x for r in rids for x in rest.get(r, {}).get("skew", []))
    results = sum(r["results"] for r in requests)
    m.update({
        "spark.jobs_per_request": total("jobs") / n,
        "spark.tasks_per_request": total("tasks") / n,
        "spark.executor_run_s": total("executor_run_s") / n,
        "spark.gc_s": total("gc_s") / n,
        "spark.task_max_over_median": (skews[len(skews) // 2]
                                       if skews else 1.0),
        "scan.bytes_read": total("scan_bytes") / n,
        "scan.files_read": total("scan_files") / n,
        "scan.rows_read": total("scan_rows") / n,
        "scan.rows_per_result": total("scan_rows") / max(results, 1),
        "python.rows_in": total("py_rows_in") / n,
        "python.bytes_to_worker": total("py_bytes_to") / n,
        "python.bytes_from_worker": total("py_bytes_from") / n,
        "python.udf_s": udf_s / n,
        "python.worker_peak_rss_mb": worker_peak_rss / 2**20,
        "exchange.shuffle_bytes": total("shuffle_bytes") / n,
        "exchange.shuffle_records": total("shuffle_records") / n,
        "trace_overhead": (ops_traced / ops_untraced
                           if ops_untraced else 0.0),
    })

    def mean_wall_ms(layer):
        walls = [s.duration for s in spans if s.name == layer]
        return 1e3 * sum(walls) / len(walls) if walls else 0.0

    commits = tracer.commits or [(0, 0)]
    m.update({
        "mutate.build_ms": mean_wall_ms("mutate"),
        "ingest.write_ms": mean_wall_ms("ingest"),
        "ingest.files_written": sum(f for f, _ in commits) / len(commits),
        "ingest.bytes_written": sum(b for _, b in commits) / len(commits),
        "ingest.files_live": float(sum(probes.data_files(d)
                                       for d in collection_dirs)),
        "maintenance.ensure_ms": mean_wall_ms("maintenance"),
    })
    for a in MAINTENANCE_ACTIONS:
        m[f"maintenance.action.{a}"] = float(tracer.ensure_actions.count(a))
    return m


SEARCH_KINDS = frozenset({"batch", "single", "filtered", "maxsim_batch",
                          "read_indexed", "read_batch", "nearest",
                          "hybrid_rrf",
                          "groups"})


def unattributed_share(tracer: Tracer, rids: set[int]) -> float:
    """Largest share of a request's traced wall time that its spans' self
    times do not account for (0 by construction when spans nest)."""
    spans = tracer.as_spans()
    selfs = self_times(spans)
    walls: dict[int, float] = {}
    sums: dict[int, float] = {}
    for s, t in zip(spans, selfs):
        if s.request not in rids:
            continue
        sums[s.request] = sums.get(s.request, 0.0) + t
        if s.name == "request":
            walls[s.request] = s.duration
    return max((abs(walls[r] - sums.get(r, 0.0)) / walls[r]
                for r in walls if walls[r] > 0), default=0.0)

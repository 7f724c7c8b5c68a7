"""Per-layer tracing for the benchmark, built only from the benchmark's
own files.

Two sources feed the layer table:

- **Spans.** The package's public entry points are wrapped in this
  process with recorders (name, start, end, parent): sources,
  operators, sinks, the catalog, the streaming drains and the store
  manifest functions. ``service`` imports some of them by name, so
  those names are patched there too. Spans stay in memory and are
  written when the run ends; self time is a span's duration minus the
  part of it its children cover.
- **Spark status stores.** After each operation the stage, job and SQL
  execution lists are read through py4j (they are populated with the
  UI off). Everything newer than the watermark taken when the
  operation began belongs to it: the benchmark is one closed-loop client,
  so operations never overlap, and jobs launched from the product's
  own helper threads (which do not inherit the job group) are still
  attributed correctly.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import re
import threading
import time
from collections import defaultdict

PKG = "blackroad_data_pipeline_spark"

# (module, attribute, layer) — the wrapped public entry points. A name
# that another module imported by value is listed once per module.
_FUNCS = [
    ("sources", "read_source", "sources"),
    ("sources.readers", "read_source", "sources"),
    ("operators", "apply_operator", "operators"),
    ("operators.registry", "apply_operator", "operators"),
    ("sinks", "write_sink", "sinks"),
    ("service", "read_source", "sources"),
    ("service", "apply_operator", "operators"),
    ("service", "write_sink", "sinks"),
    ("streaming.ops", "run_stream_ingest_dedup", "streaming"),
    ("streaming.ops", "run_stream_vector_ingest", "streaming"),
    ("streaming.ops", "vector_store_maintain", "store"),
    ("streaming.ops", "vector_store_maintain_managed", "store"),
]
_STORE_FUNCS = ["store_init", "store_current_version", "store_resolve",
                "store_read", "store_next_version", "store_swap",
                "store_gc", "store_versions", "is_managed"]
_CATALOG_METHODS = ["create_pipeline", "list_pipelines", "add_source",
                    "add_transform", "add_sink", "components",
                    "get_source", "start_run", "finish_run", "list_runs"]

# plan nodes that run Python workers (pandas / Arrow UDF boundary)
_PY_NODES = re.compile(
    r"\b(ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|BatchEvalPython"
    r"|MapInArrow|FlatMapCoGroupsInPandas|AggregateInPandas"
    r"|WindowInPandas|FlatMapGroupsInPandasWithState)\b")
_BUILD = ("read_source", "apply_operator")

# Every per-layer metric: name -> (unit, the end-to-end metric it should
# move, on which workload). Printed with the traced table.
LAYERS = {
    "session.start_s": ("s", "setup_s", "all"),
    "session.warm_s": ("s", "setup_s", "all"),
    "session.peak_rss_mb": ("MB", "setup_s", "all"),
    "catalog.calls": ("count", "op1_s..op4_s (marginal)", "etl_relational"),
    "catalog.busy_s": ("s", "op1_s..op4_s (marginal)", "etl_relational"),
    "service.build_s": ("s", "semdedup_s, knn_join_s / vector_drain_s",
                        "corpus_dedup, stream_ingest (~0 on etl_relational)"),
    "service.build_jobs": ("count", "semdedup_s, knn_join_s / vector_drain_s",
                           "corpus_dedup, stream_ingest (~0 on etl_relational)"),
    "sources.input_bytes": ("B", "rows_per_s, filter_agg_s, dedup_sort_s",
                            "etl_relational"),
    "sources.input_rows": ("count", "rows_per_s, filter_agg_s, dedup_sort_s",
                           "etl_relational"),
    "sources.scan_task_s": ("s", "rows_per_s, filter_agg_s, dedup_sort_s",
                            "etl_relational"),
    "operators.task_s": ("s", "rows_per_s", "etl_relational, corpus_dedup"),
    "operators.cpu_s": ("s", "rows_per_s", "etl_relational, corpus_dedup"),
    "operators.gc_s": ("s", "rows_per_s", "etl_relational, corpus_dedup"),
    "operators.tasks": ("count", "rows_per_s", "etl_relational, corpus_dedup"),
    "operators.core_util": ("frac", "rows_per_s",
                            "etl_relational, corpus_dedup"),
    "exchange.shuffles": ("count", "dedup_sort_s, join_s / knn_join_s",
                          "etl_relational / corpus_dedup"),
    "exchange.broadcasts": ("count", "dedup_sort_s, join_s / knn_join_s",
                            "etl_relational / corpus_dedup"),
    "exchange.shuffle_write_bytes": ("B", "dedup_sort_s, join_s / knn_join_s",
                                     "etl_relational / corpus_dedup"),
    "exchange.shuffle_read_bytes": ("B", "dedup_sort_s, join_s / knn_join_s",
                                    "etl_relational / corpus_dedup"),
    "exchange.fetch_wait_s": ("s", "dedup_sort_s, join_s / knn_join_s",
                              "etl_relational / corpus_dedup"),
    "spill.disk_bytes": ("B", "dedup_sort_s, join_s / knn_join_s",
                         "etl_relational / corpus_dedup"),
    "spill.mem_bytes": ("B", "dedup_sort_s, join_s / knn_join_s",
                        "etl_relational / corpus_dedup"),
    "llmops.python_stages": ("count", "all medians / vector_drain_s",
                             "corpus_dedup / stream_ingest (0 on etl)"),
    "llmops.python_stage_s": ("s", "all medians / vector_drain_s",
                              "corpus_dedup / stream_ingest (0 on etl)"),
    "llmops.python_rows": ("count", "all medians / vector_drain_s",
                           "corpus_dedup / stream_ingest (0 on etl)"),
    "sinks.rows": ("count", "upsert_s", "etl_relational"),
    "sinks.bytes": ("B", "upsert_s", "etl_relational"),
    "sinks.files": ("count", "upsert_s", "etl_relational"),
    "sinks.write_amp": ("ratio", "upsert_s", "etl_relational"),
    "streaming.batches": ("count", "text_drain_s, vector_drain_s",
                          "stream_ingest"),
    "streaming.input_rows": ("count", "text_drain_s, vector_drain_s",
                             "stream_ingest"),
    "streaming.trigger_s": ("s", "text_drain_s, vector_drain_s",
                            "stream_ingest"),
    "streaming.add_batch_s": ("s", "text_drain_s, vector_drain_s",
                              "stream_ingest"),
    "streaming.planning_s": ("s", "text_drain_s, vector_drain_s",
                             "stream_ingest"),
    "streaming.commit_s": ("s", "text_drain_s, vector_drain_s",
                           "stream_ingest"),
    "store.files_before": ("count", "maintain_s", "stream_ingest"),
    "store.files_after": ("count", "maintain_s", "stream_ingest"),
    "store.bytes_rewritten": ("B", "maintain_s", "stream_ingest"),
    "trace.overhead_frac": ("frac", "rows_per_s (traced vs untraced)",
                            "each workload"),
}

# metrics whose per-round value is a ratio of totals, not a sum
_RATIOS = {"operators.core_util", "sinks.write_amp"}


def _num(s: str) -> float:
    """A SQL metric value as the status store renders it ('2,000')."""
    m = re.match(r"\s*([\d,]+)", s or "")
    return float(m.group(1).replace(",", "")) if m else 0.0


class Tracer:
    def __init__(self, spark, cores: int):
        self.spark = spark
        self.cores = cores
        self.spans: list[dict] = []
        self.rows: list[dict] = []       # one layer row per traced op
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple] = []
        sc = spark.sparkContext
        self._sc = sc
        jvm = sc._jvm
        self._jvm = jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala,
                            "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self._mapper = mapper
        self._app = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    # -- spans ---------------------------------------------------------

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            stack = getattr(tracer._tls, "stack", None)
            if stack is None:
                stack = tracer._tls.stack = []
            span = {"name": name, "layer": layer, "t0": time.time(),
                    "parent": stack[-1] if stack else None,
                    "op": getattr(tracer, "_op", None)}
            with tracer._lock:
                span["id"] = len(tracer.spans)
                tracer.spans.append(span)
            stack.append(span["id"])
            try:
                out = fn(*args, **kwargs)
                if name == "write_sink" and isinstance(out, int):
                    span["rows"] = out
                return out
            finally:
                stack.pop()
                span["t1"] = time.time()

        return wrapper

    def _patch(self, obj, attr, name, layer):
        orig = getattr(obj, attr)
        setattr(obj, attr, self._wrap(orig, name, layer))
        self._patches.append((obj, attr, orig))

    def install(self) -> None:
        for mod, attr, layer in _FUNCS:
            self._patch(importlib.import_module(f"{PKG}.{mod}"), attr,
                        attr, layer)
        store = importlib.import_module(f"{PKG}.store")
        for attr in _STORE_FUNCS:
            self._patch(store, attr, attr, "store")
        cat = importlib.import_module(f"{PKG}.catalog").Catalog
        for attr in _CATALOG_METHODS:
            self._patch(cat, attr, f"Catalog.{attr}", "catalog")

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._patches):
            setattr(obj, attr, orig)
        self._patches.clear()

    # -- status-store snapshots ---------------------------------------

    def _json(self, jobj):
        return json.loads(self._mapper.writeValueAsString(jobj))

    def _stages(self):
        gw = self._sc._gateway
        return self._json(self._app.stageList(
            None, False, False, gw.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList()))

    def _watermarks(self):
        st = max((s["stageId"] for s in self._stages()), default=-1)
        jobs = self._json(self._app.jobsList(None))
        jb = max((j["jobId"] for j in jobs), default=-1)
        ex = self._sql.executionsList()
        ed = max((ex.apply(i).executionId() for i in range(ex.size())),
                 default=-1)
        return st, jb, ed

    def _settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores hold the finished operation's final metrics."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def begin_op(self, label: str) -> None:
        self._settle()
        self._marks = self._watermarks()
        self.install()
        self._op = label
        self._sc.setJobGroup(label, label)
        self._wall0 = time.time()

    def end_op(self, label: str, info: dict) -> None:
        """Snapshot the stores and record this operation's layer row."""
        wall = time.time() - self._wall0
        self._op = None
        self.uninstall()
        self._sc.setJobGroup("", "")
        self._settle()
        st_mark, job_mark, ex_mark = self._marks
        stages = [s for s in self._stages() if s["stageId"] > st_mark]
        jobs = [j for j in self._json(self._app.jobsList(None))
                if j["jobId"] > job_mark]
        ex = self._sql.executionsList()
        execs = [ex.apply(i).executionId() for i in range(ex.size())]
        execs = [e for e in execs if e > ex_mark]

        row = defaultdict(float)
        row["op"] = label
        row["wall_s"] = wall
        ran = [s for s in stages if s["status"] in ("COMPLETE", "FAILED")]
        for s in ran:
            run_s = s["executorRunTime"] / 1e3
            row["operators.task_s"] += run_s
            row["operators.cpu_s"] += s["executorCpuTime"] / 1e9
            row["operators.gc_s"] += s["jvmGcTime"] / 1e3
            row["operators.tasks"] += s["numCompleteTasks"]
            row["sources.input_bytes"] += s["inputBytes"]
            row["sources.input_rows"] += s["inputRecords"]
            row["exchange.shuffle_write_bytes"] += s["shuffleWriteBytes"]
            row["exchange.shuffle_read_bytes"] += s["shuffleReadBytes"]
            row["exchange.fetch_wait_s"] += s["shuffleFetchWaitTime"] / 1e3
            row["spill.disk_bytes"] += s["diskBytesSpilled"]
            row["spill.mem_bytes"] += s["memoryBytesSpilled"]
            dot = str(self._jvm.org.apache.spark.ui.scope.RDDOperationGraph
                      .makeDotFile(self._app.operationGraphForStage(
                          s["stageId"])))
            if "FileScanRDD" in dot:
                row["sources.scan_task_s"] += run_s
            if _PY_NODES.search(dot):
                row["llmops.python_stages"] += 1
                row["llmops.python_stage_s"] += run_s
        for e in execs:
            metrics = self._json(self._sql.executionMetrics(e))
            for n in self._json(self._sql.planGraph(e).allNodes()):
                name = n.get("name", "")
                if name == "Exchange":
                    row["exchange.shuffles"] += 1
                elif name == "BroadcastExchange":
                    row["exchange.broadcasts"] += 1
                elif _PY_NODES.fullmatch(name):
                    for m in n.get("metrics", []):
                        if m["name"] == "number of output rows":
                            row["llmops.python_rows"] += _num(
                                metrics.get(str(m["accumulatorId"]), ""))

        spans = [s for s in self.spans if s["op"] == label and "t1" in s]
        by_id = {s["id"]: s for s in spans}

        def nested_in(s, names):
            p = s["parent"]
            while p is not None and p in by_id:
                if by_id[p]["name"] in names:
                    return True
                p = by_id[p]["parent"]
            return False

        build = [s for s in spans
                 if s["name"] in _BUILD and not nested_in(s, _BUILD)]
        row["service.build_s"] = sum(s["t1"] - s["t0"] for s in build)
        row["service.build_jobs"] = sum(
            1 for j in jobs
            if any(b["t0"] * 1e3 <= (j.get("submissionTime") or 0)
                   <= b["t1"] * 1e3
                   for b in build))
        cat = [s for s in spans if s["layer"] == "catalog"]
        names = {s["name"] for s in cat}
        row["catalog.calls"] = len(cat)
        row["catalog.busy_s"] = sum(s["t1"] - s["t0"] for s in cat
                                    if not nested_in(s, names))
        row["sinks.rows"] = sum(s.get("rows", 0) for s in spans
                                if s["name"] == "write_sink"
                                and not nested_in(s, {"write_sink"}))
        for key in ("store.files_before", "store.files_after",
                    "store.bytes_rewritten"):
            row[key] += info.get(key, 0)
        for q in info.get("queries", []):
            for p in q.recentProgress:
                d = p.durationMs or {}
                row["streaming.batches"] += 1
                row["streaming.input_rows"] += p.numInputRows or 0
                row["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1e3
                row["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
                row["streaming.planning_s"] += d.get("queryPlanning", 0) / 1e3
                row["streaming.commit_s"] += (d.get("walCommit", 0)
                                              + d.get("commitOffsets", 0)) / 1e3
        self.rows.append(dict(row))

    def add_checked(self, label: str, info: dict) -> None:
        """Add what the output check measured on disk (sink files and
        bytes, upsert rewrite) to the operation's row."""
        if self.rows and self.rows[-1]["op"] == label:
            for key in ("sinks.files", "sinks.bytes", "sinks.rewritten_bytes",
                        "sinks.update_bytes"):
                self.rows[-1][key] = info.get(key, 0)

    # -- reporting -----------------------------------------------------

    def layer_metrics(self) -> dict:
        """Per-round values: the mean traced row of each operation kind,
        summed over the kinds of one round; ratios from those sums."""
        tot = defaultdict(float)
        for row in self.op_table():
            for k, v in row.items():
                if k not in ("op", "n"):
                    tot[k] += v
        out = {k: tot[k] for k in LAYERS
               if k.split(".")[0] not in ("session", "trace")
               and k not in _RATIOS}
        wall = tot["wall_s"]
        out["operators.core_util"] = (tot["operators.task_s"]
                                      / (wall * self.cores) if wall else 0.0)
        out["sinks.write_amp"] = (tot["sinks.rewritten_bytes"]
                                  / tot["sinks.update_bytes"]
                                  if tot["sinks.update_bytes"] else 0.0)
        return out

    def op_table(self) -> list[dict]:
        """Mean layer row per operation name (label 'name#round')."""
        groups = defaultdict(list)
        for r in self.rows:
            groups[r["op"].split("#")[0]].append(r)
        out = []
        for name, rs in groups.items():
            keys = {k for r in rs for k in r if k != "op"}
            out.append({"op": name, "n": len(rs),
                        **{k: sum(r.get(k, 0) for r in rs) / len(rs)
                           for k in keys}})
        return out

    def self_times(self) -> dict:
        """Self time per span name: duration minus the part of it its
        children cover (children never outlive a same-thread parent)."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and "t1" in s:
                kids[s["parent"]].append(s)
        out = defaultdict(float)
        for s in self.spans:
            if "t1" not in s:
                continue
            covered, end = 0.0, s["t0"]
            for c in sorted(kids[s["id"]], key=lambda c: c["t0"]):
                lo, hi = max(c["t0"], end), min(c["t1"], s["t1"])
                if hi > lo:
                    covered += hi - lo
                    end = hi
            out[s["name"]] += (s["t1"] - s["t0"]) - covered
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "ops": self.rows,
                       "self_s": self.self_times(), **extra}, fh)

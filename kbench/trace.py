"""Tracing for the per-layer run, entirely from outside the program.

Three sources, all joined on wall-clock time (Python's ``time.time`` and
the JVM's ``currentTimeMillis`` read the same clock):

- Spans recorded by wrappers this module installs around the public
  entry points of ``server``, ``parser``, ``engine``, ``operators`` (at
  their ``kstore_spark.engine`` import names), ``catalog`` and the
  DataFrame actions. Spans live in memory and are written out at the end.
- A PySpark ``StreamingQueryListener`` for micro-batch progress.
- The Spark event log, enabled by submit-time conf
  (``PYSPARK_SUBMIT_ARGS``) and read back after the session stops. Each
  job belongs to the request whose [start, end] holds its submit time;
  with one request in flight this is exact, and it also catches jobs
  submitted from a library's own threads. Plan nodes are counted by a
  structural walk of ``SparkPlanInfo`` trees, once per node.
"""

from __future__ import annotations

import bisect
import functools
import itertools
import json
import os
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from datetime import datetime

from kbench.stats import SEARCH_KINDS, SPARK_FIELDS, SPARK_KINDS, p50

class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.req = None  # id of the request in flight (one at a time)
        self.batches: list[tuple] = []  # (start_s, trigger_ms, addbatch_ms, rows)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # per-op spans only count ops: time is attributed past them to
        # the enclosing script, so engine self time stays script minus layers
        outer = [s for s in stack if s["name"] != "engine.op"]
        rec = {"id": next(self._ids), "name": name, "req": self.req,
               "parent": outer[-1]["id"] if outer else None,
               "pname": outer[-1]["name"] if outer else None,
               "in_engine": any(s["name"] == "engine.script" for s in stack),
               "start": time.time()}
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    # -- wrappers -------------------------------------------------------
    def _patch(self, owner, attr, wrapper_factory):
        orig = owner[attr] if isinstance(owner, dict) else getattr(owner, attr)
        new = functools.wraps(orig)(wrapper_factory(orig))
        if isinstance(owner, dict):
            owner[attr] = new
        else:
            setattr(owner, attr, new)

    def wrap(self, owner, attr, name, after=None):
        def factory(orig):
            def wrapper(*a, **kw):
                with self.span(name) as rec:
                    out = orig(*a, **kw)
                if after is not None:
                    with self.span("trace.probe"):
                        after(rec, a, out)
                return out
            return wrapper
        self._patch(owner, attr, factory)

    def install(self, spark) -> None:
        from kstore_spark import catalog, engine, parser, server

        # the concrete class: under Spark 4 the classic DataFrame overrides
        # the actions of pyspark.sql.DataFrame
        DataFrame = type(spark.range(0))

        self.wrap(server.KstoreClient, "query", "client.query")
        self.wrap(parser, "parse_script", "parser.parse")
        self.wrap(engine.Engine, "run_script", "engine.script")
        self.wrap(engine.Engine, "eval", "engine.op")
        for name in ("select_all", "select_range", "select_value", "fetch",
                     "equijoin", "apply_delete", "apply_insert", "apply_update"):
            self.wrap(engine, name, "operators.call")
        for table in (engine._AGGS, engine._MATH):
            for key in list(table):
                self.wrap(table, key, "operators.call")
        self.wrap(catalog.Catalog, "_reload", "catalog.reload")
        self.wrap(catalog.Catalog, "read", "catalog.read", after=_read_probe)
        self.wrap(catalog.Catalog, "group_prov", "catalog.read", after=_prov_probe)
        for name in ("load_group", "append_segment", "replace", "detach"):
            self.wrap(catalog.Catalog, name, "catalog.write")
        self._wrap_compaction(catalog.Catalog)
        self._wrap_artifacts(catalog.ArtifactStore)
        for name in ("count", "collect", "toPandas"):
            self.wrap(DataFrame, name, "spark.action")
        self.wrap(DataFrame, "persist", "spark.persist")

    def _wrap_compaction(self, cls) -> None:
        def segs(cat, key, group):
            return len(cat.groups[key]["segments"] if group else cat.meta(key)["segments"])

        for attr, group in (("_maybe_compact_column", False), ("_maybe_compact_group", True)):
            def factory(orig, group=group):
                def wrapper(cat, key):
                    before = segs(cat, key, group)
                    with self.span("catalog.compact") as rec:
                        out = orig(cat, key)
                    rec["compacted"] = segs(cat, key, group) < before
                    return out
                return wrapper
            self._patch(cls, attr, factory)

    def _wrap_artifacts(self, cls) -> None:
        def factory(orig):
            def wrapper(store, name, version, build, *a, **kw):
                built = []

                def timed_build(out_dir):
                    built.append(True)
                    with self.span("artifacts.build"):
                        return build(out_dir)
                with self.span("artifacts.get") as rec:
                    out = orig(store, name, version, timed_build, *a, **kw)
                rec["hit"] = not built
                return out
            return wrapper
        self._patch(cls, "get_or_build", factory)

    def listen(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
                dur = p.durationMs or {}
                with tracer._lock:
                    tracer.batches.append((start.timestamp(),
                                           dur.get("triggerExecution", 0),
                                           dur.get("addBatch", 0),
                                           p.numInputRows))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Progress())

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _r, _d, fs in os.walk(path) for f in fs)


def _column_files(cat, column: str) -> int:
    m = cat.meta(column)
    n = 0
    if m["group"] is not None:
        n += _parquet_files(os.path.join(cat.db_dir, "data", f"_group_{m['group']}"))
    for seg in m["segments"]:
        n += _parquet_files(os.path.join(cat.db_dir, "data", column, seg))
    return n


def _read_probe(rec, args, out) -> None:
    cat, column = args[0], args[1]
    rec["files_kept"], rec["files_all"] = len(out.inputFiles()), _column_files(cat, column)


def _prov_probe(rec, args, out) -> None:
    if out is not None:
        cat, column = args[0], args[1]
        rec["files_kept"] = len(out.frame.inputFiles())
        rec["files_all"] = _column_files(cat, column)


# -- event log ------------------------------------------------------------

def submit_args(log_dir: str) -> list[str]:
    return ["--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
            # Spark 4 rolls event logs by default; one file is simpler to read
            "--conf", "spark.eventLog.rolling.enabled=false"]


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the one application logged under ``log_dir``: one
    uncompressed file, as ``submit_args`` configures it (beside it, at
    most Hadoop's hidden ``.crc`` checksum)."""
    (name,) = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    with open(os.path.join(log_dir, name)) as fh:
        return [json.loads(line) for line in fh if line.strip()]


PY_EVAL_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                 "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
                 "WindowInPandas", "FlatMapGroupsInPandasWithState", "PythonMapInArrow",
                 "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF", "FlatMapGroupsInArrow",
                 "FlatMapCoGroupsInArrow")


def node_kind(name: str) -> str | None:
    if name == "Exchange":
        return "exchanges"
    if name == "BroadcastExchange":
        return "broadcasts"
    if name.startswith(("Scan ", "FileScan", "BatchScan")):
        return "scans"
    if name in PY_EVAL_NODES:
        return "python"
    return None


def count_nodes(plan: dict, seen: set, counts: Counter, py_row_ids: set,
                scope=None) -> None:
    """Walk a SparkPlanInfo tree, counting each physical node once.

    A node is identified by its metric accumulator ids, which are unique
    to one physical operator instance: a reused exchange, a cached
    subtree shown under InMemoryTableScan, or a query stage listed twice
    in an AQE plan all repeat the same ids and are counted once, and a
    node already seen is not descended into again. Nodes without metrics
    are identified by their position in the plan of ``scope``."""
    stack = [(plan, (scope,))]
    while stack:
        node, path = stack.pop()
        ids = tuple(sorted(m["accumulatorId"] for m in node.get("metrics", [])))
        key = ids or (node["nodeName"], node.get("simpleString", ""), path)
        if key in seen:
            continue
        seen.add(key)
        kind = node_kind(node["nodeName"])
        if kind:
            counts[kind] += 1
        if kind == "python":
            py_row_ids.update(m["accumulatorId"] for m in node.get("metrics", [])
                              if m["name"] == "number of output rows")
        for i, child in enumerate(node.get("children", [])):
            stack.append((child, path + (i,)))


def attribute(submit_ms: float, windows: list[tuple]):
    """The window (start_ms, end_ms, key) holding ``submit_ms``, or None.
    ``windows`` must be sorted by start and non-overlapping."""
    i = bisect.bisect_right([w[0] for w in windows], submit_ms) - 1
    if i >= 0 and windows[i][0] <= submit_ms <= windows[i][1]:
        return windows[i][2]
    return None


def _union_ms(intervals, lo, hi) -> float:
    total, cur_end = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur_end), min(e, hi)
        if e > s:
            total += e - s
            cur_end = e
    return total


def spark_by_request(events: list[dict], windows: list[tuple]):
    """Per-request Spark work, from the event log.

    ``windows``: sorted (start_ms, end_ms, request_key) of every request
    measured. Returns ({request_key: {field: value}}, unattributed_task_ms,
    attributed_task_ms) where unattributed counts jobs submitted between
    the first and last window but inside none of them."""
    lo, hi = windows[0][0], windows[-1][1]
    job_req, job_span, job_exec = {}, {}, {}
    stage_job: dict[int, int] = {}
    plans: dict[int, dict] = {}
    per: dict = defaultdict(Counter)
    unattributed = attributed = 0.0
    ended = {}
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            jid, sub = e["Job ID"], e["Submission Time"]
            key = attribute(sub, windows)
            job_req[jid] = key if key is not None else ("unattributed" if lo <= sub <= hi else None)
            job_span[jid] = sub
            props = e.get("Properties") or {}
            if "spark.sql.execution.id" in props:
                job_exec[jid] = int(props["spark.sql.execution.id"])
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif ev == "SparkListenerJobEnd":
            ended[e["Job ID"]] = e["Completion Time"]
        elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"):
            plans[e["executionId"]] = e["sparkPlanInfo"]  # the last version wins
    task_events = defaultdict(list)
    stages_run = defaultdict(set)
    for e in events:
        if e["Event"] == "SparkListenerTaskEnd":
            jid = stage_job.get(e["Stage ID"])
            key = job_req.get(jid)
            if key is None:
                continue
            m = e.get("Task Metrics") or {}
            run_ms = m.get("Executor Run Time", 0)
            if key == "unattributed":
                unattributed += run_ms
                continue
            attributed += run_ms
            task_events[key].append(e)
            stages_run[key].add(e["Stage ID"])
            c = per[key]
            c["tasks"] += 1
            c["task_ms"] += run_ms
            c["gc_ms"] += m.get("JVM GC Time", 0)
            c["scan_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            c["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
    jobs_of = defaultdict(list)
    for jid, key in job_req.items():
        if key not in (None, "unattributed"):
            jobs_of[key].append(jid)
    for start, end, key in windows:
        c = per[key]
        jids = jobs_of.get(key, [])
        c["jobs"] = len(jids)
        c["stages"] = len(stages_run.get(key, ()))
        busy = _union_ms([(job_span[j], ended.get(j, end)) for j in jids], start, end)
        c["driver_gap_ms"] = (end - start) - busy
        seen, counts, py_ids = set(), Counter(), set()
        for ex in sorted({job_exec[j] for j in jids if j in job_exec}):
            if ex in plans:
                count_nodes(plans[ex], seen, counts, py_ids, scope=ex)
        for f in ("exchanges", "broadcasts", "scans"):
            c[f] = counts[f]
        for te in task_events.get(key, []):
            for acc in (te.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == "time to run Python workers":
                    c["python_eval_ms"] += int(acc.get("Update") or 0)
                elif acc.get("ID") in py_ids:
                    c["python_rows"] += int(acc.get("Update") or 0)
    return per, unattributed, attributed


# -- per-layer metrics -----------------------------------------------------

def layer_metrics(tracer: Tracer, records: list, spark_per: dict,
                  unattributed_ms: float, attributed_ms: float,
                  catalog_state: dict, write_bytes: float, user_bytes: float) -> dict:
    """Per-layer metrics over the measured requests ``records`` (dicts
    with id, kind, spark_kind, start, end). Time and count metrics are
    per measured request; state metrics are at run end."""
    measured = {r["id"] for r in records}
    n = max(1, len(records))
    spans = [s for s in tracer.spans if s["req"] in measured]
    dur = lambda s: (s["end"] - s["start"]) * 1000  # noqa: E731
    children = defaultdict(float)
    for s in spans:
        if s["parent"] is not None and s["name"] != "engine.op":
            children[s["parent"]] += dur(s)

    def total(pred):
        return sum(dur(s) for s in spans if pred(s))

    def count(pred):
        return sum(1 for s in spans if pred(s))

    top_script = lambda s: s["name"] == "engine.script" and s["parent"] is None  # noqa: E731
    top_reload = lambda s: s["name"] == "catalog.reload" and s["parent"] is None  # noqa: E731
    scripts = [s for s in spans if s["name"] == "engine.script"]
    reads = [s for s in spans if s["name"] == "catalog.read" and "files_all" in s]
    compactions = [s for s in spans if s["name"] == "catalog.compact" and s.get("compacted")]
    art = [s for s in tracer.spans if s["name"] == "artifacts.get"]
    out = {
        "server.lines": count(top_script) / n,
        "server.wire_ms": (total(lambda s: s["name"] == "client.query")
                           - total(top_script) - total(top_reload)) / n,
        "server.reload_ms": total(top_reload) / n,
        "parser.parse_ms": total(lambda s: s["name"] == "parser.parse") / n,
        "engine.script_ms": sum(dur(s) for s in scripts) / n,
        "engine.self_ms": sum(dur(s) - children[s["id"]] for s in scripts) / n,
        "engine.ops": count(lambda s: s["name"] == "engine.op") / n,
        "engine.actions": count(lambda s: s["name"] == "spark.action" and s["in_engine"]) / n,
        "engine.persisted_frames": count(
            lambda s: s["name"] == "spark.persist" and s["in_engine"]) / n,
        "operators.calls": count(lambda s: s["name"] == "operators.call") / n,
        "operators.build_ms": sum(dur(s) - children[s["id"]] for s in spans
                                  if s["name"] == "operators.call") / n,
        "catalog.read_ms": total(lambda s: s["name"] == "catalog.read"
                                 and s["pname"] != "catalog.write") / n,
        "catalog.files_kept_ratio": (sum(s["files_kept"] for s in reads)
                                     / max(1, sum(s["files_all"] for s in reads))),
        "catalog.write_ms": total(lambda s: s["name"] == "catalog.write"
                                  and s["pname"] != "catalog.write") / n,
        "catalog.write_bytes_per_user_byte": write_bytes / user_bytes if user_bytes else 0.0,
        "catalog.segments_live": catalog_state.get("segments_live", 0),
        "catalog.tombstoned_bytes": catalog_state.get("tombstoned_bytes", 0),
        "catalog.compactions": len(compactions),
        "catalog.compaction_ms": sum(dur(s) for s in compactions),
        "artifacts.calls": len(art),
        "artifacts.hit_ratio": sum(1 for s in art if s.get("hit")) / max(1, len(art)),
        "artifacts.build_ms": sum(dur(s) for s in tracer.spans if s["name"] == "artifacts.build"),
    }
    lat = defaultdict(list)
    for r in records:
        lat[r["kind"]].append((r["end"] - r["start"]) * 1000)
    out["functions.curate_ms"] = p50(lat["curate"]) or 0.0
    for k in SEARCH_KINDS:
        out[f"functions.search.{k}_ms"] = p50(lat[f"search.{k}"]) or 0.0
    windows = sorted((r["start"], r["end"]) for r in records)
    batches = [b for b in tracer.batches
               if any(s <= b[0] <= e for s, e in windows)]
    out["streaming.batches"] = len(batches) / n
    out["streaming.batch_ms"] = sum(b[1] for b in batches) / n
    out["streaming.addbatch_ms"] = sum(b[2] for b in batches) / n
    out["streaming.rows"] = sum(b[3] for b in batches) / n
    by_kind = defaultdict(list)
    for r in records:
        by_kind[r["spark_kind"]].append(spark_per.get(r["id"], Counter()))
    for k in SPARK_KINDS:
        reqs = by_kind.get(k, [])
        for f in SPARK_FIELDS:
            out[f"spark.{k}.{f}"] = sum(c[f] for c in reqs) / len(reqs) if reqs else 0.0
    out["spark.unattributed_task_ms"] = unattributed_ms
    out["spark.unattributed_share"] = unattributed_ms / max(1.0, unattributed_ms + attributed_ms)
    return out

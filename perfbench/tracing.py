"""Traced-run tooling: spans, fs/logstore wrappers and the event-log fold.

Everything here measures the program from the outside. Spans are
recorded around calls into the package's public functions, the ``fs``
module's functions and the active ``LogStore`` are wrapped for the life
of a traced run, and Spark's own job/stage/task metrics come from its
event log. Untraced runs construct a disabled :class:`Tracer`, whose
``span`` and ``request`` are no-ops, and install nothing.
"""

from __future__ import annotations

import collections
import contextlib
import functools
import glob
import json
import os
import time

# fs functions whose calls are counted per commit, by operation
FS_OPS = ["exists", "listdir", "read_text", "write_text", "move_file", "promote", "delete"]
# the other public fs functions are wrapped too, and counted as "other"
FS_OTHER = [
    "create_exclusive", "read_bytes", "write_bytes", "list_data_files",
    "move_files", "mkdirs", "is_dir", "mtime_ms",
]
# delta_table entry points timed as their own spans
DELTA_FUNCS = ["write_delta", "read_delta"]


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request_id: str | None = None
        self.counts: dict[str, collections.Counter] = collections.defaultdict(
            collections.Counter
        )
        self._undo: list = []
        self._spark = None

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "request": self.request_id,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    @contextlib.contextmanager
    def request(self, rid: str, kind: str):
        """One request: its Spark jobs run in job group ``rid`` and its
        spans and counters carry ``rid``."""
        if not self.enabled:
            yield
            return
        prev = self.request_id
        self.request_id = rid
        sc = self._spark.sparkContext
        sc.setJobGroup(rid, kind)
        try:
            with self.span(kind):
                yield
        finally:
            sc.setJobGroup(prev or "idle", "idle")
            self.request_id = prev

    def count(self, key: str, n: float = 1) -> None:
        if self.enabled and self.request_id is not None:
            self.counts[self.request_id][key] += n

    # -- wrappers ------------------------------------------------------
    def install(self, spark) -> None:
        """Wrap fs functions, delta_table entry points and the active
        LogStore. Only module attributes are replaced; the package is
        not edited, and :meth:`uninstall` restores everything."""
        if not self.enabled:
            return
        self._spark = spark
        from changedatacapture_reporting_spark import fs, logstore
        from changedatacapture_reporting_spark.sources import delta_table

        for name in FS_OPS + FS_OTHER:
            label = name if name in FS_OPS else "other"
            self._patch(fs, name, self._fs_wrapper(getattr(fs, name), label))
        for name in DELTA_FUNCS:
            self._patch(
                delta_table, name, self._span_wrapper(getattr(delta_table, name), f"delta.{name}")
            )
        inner = logstore.get_log_store()
        tracer = self

        class CountingLogStore(logstore.LogStore):
            def put_if_absent(self, spark, path, text):
                t0 = time.perf_counter()
                ok = inner.put_if_absent(spark, path, text)
                tracer.count("logstore.put_calls")
                tracer.count("logstore.put_s", time.perf_counter() - t0)
                if not ok:
                    tracer.count("logstore.put_conflicts")
                return ok

        logstore.set_log_store(CountingLogStore())
        self._undo.append(lambda: logstore.set_log_store(inner))

    def uninstall(self) -> None:
        while self._undo:
            self._undo.pop()()

    def _patch(self, mod, name, new) -> None:
        old = getattr(mod, name)
        setattr(mod, name, new)
        self._undo.append(lambda: setattr(mod, name, old))

    def _fs_wrapper(self, fn, label):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                tracer.count(f"fs.{label}.calls")
                tracer.count(f"fs.{label}.s", time.perf_counter() - t0)

        return wrapped

    def _span_wrapper(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        return wrapped

    # -- output --------------------------------------------------------
    def span_total(self, rid: str, name: str) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["request"] == rid and s["name"] == name and s["end"] is not None
        )

    def self_times(self) -> dict[int, float]:
        """Span index → duration minus the union of its children."""
        kids: dict[int, list] = collections.defaultdict(list)
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        return {
            i: (s["end"] - s["start"]) - union_len(kids.get(i, []), s["start"], s["end"])
            for i, s in enumerate(self.spans)
            if s["end"] is not None
        }


def request_rows(requests: list[dict], tracer: Tracer, spark_rows: dict[str, dict]) -> list[dict]:
    """One layer row per request: its spans with self time, its fs and
    logstore counters, its Spark job metrics, and the Spark-driver time left
    outside its Spark jobs."""
    selft = tracer.self_times()
    rows = []
    for r in requests:
        srow = spark_rows.get(r["rid"], {})
        rows.append(
            {
                "rid": r["rid"],
                "kind": r["kind"],
                "latency_s": r["latency"],
                "ok": r["ok"],
                "spans": [
                    {"name": s["name"], "s": s["end"] - s["start"], "self_s": selft.get(i, 0.0)}
                    for i, s in enumerate(tracer.spans)
                    if s["request"] == r["rid"] and s["end"] is not None
                ],
                "counts": dict(tracer.counts.get(r["rid"], {})),
                "spark": {k: v for k, v in srow.items() if k != "job_spans"},
                "spark_driver_s": r["latency"]
                - union_len(srow.get("job_spans", []), r["start_epoch"], r["end_epoch"]),
            }
        )
    return rows


def union_len(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals if e and e > lo and s < hi):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Spark event log → one row per job group: jobs, stages, tasks,
    executor run/CPU/GC seconds, shuffle write bytes, input bytes and
    records, parquet files read, and the job spans (epoch seconds)."""
    # Spark 4 rolls event logs: eventlog_v2_<app>/events_<n>_<app>
    files = sorted(
        glob.glob(os.path.join(log_dir, "*", "events_*")),
        key=lambda f: int(os.path.basename(f).split("_")[1]),
    )
    stage_job: dict[int, int] = {}
    job_group: dict[int, str] = {}
    exec_group: dict[str, str] = {}  # SQL execution id → job group
    files_acc: set[int] = set()  # accumulators of "number of files read"
    files_read: dict[str, float] = collections.defaultdict(float)  # by execution
    rows: dict[str, dict] = collections.defaultdict(
        lambda: collections.defaultdict(float, {"job_spans": []})
    )
    job_start: dict[int, float] = {}

    def plan_metrics(node: dict) -> None:
        for m in node.get("metrics") or []:
            if m.get("name") == "number of files read":
                files_acc.add(m["accumulatorId"])
        for child in node.get("children") or []:
            plan_metrics(child)

    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or "none"
                    job_group[jid] = g
                    if "spark.sql.execution.id" in props:
                        exec_group.setdefault(str(props["spark.sql.execution.id"]), g)
                    job_start[jid] = ev["Submission Time"] / 1000.0
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                    rows[g]["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    g = job_group.get(jid, "none")
                    rows[g]["job_spans"].append(
                        (job_start.get(jid, ev["Completion Time"] / 1000.0),
                         ev["Completion Time"] / 1000.0)
                    )
                elif kind == "SparkListenerStageCompleted":
                    g = job_group.get(stage_job.get(ev["Stage Info"]["Stage ID"]), "none")
                    rows[g]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = job_group.get(stage_job.get(ev["Stage ID"]), "none")
                    m = ev.get("Task Metrics") or {}
                    r = rows[g]
                    r["tasks"] += 1
                    r["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    r["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    r["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    r["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    inp = m.get("Input Metrics") or {}
                    r["input_bytes"] += inp.get("Bytes Read", 0)
                    r["input_records"] += inp.get("Records Read", 0)
                elif kind.endswith(
                    ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")
                ):
                    plan_metrics(ev.get("sparkPlanInfo") or {})
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, value in ev.get("accumUpdates") or []:
                        if acc_id in files_acc:
                            files_read[str(ev["executionId"])] += value
    for eid, n in files_read.items():
        rows[exec_group.get(eid, "none")]["files_read"] += n
    return {g: dict(r) for g, r in rows.items()}

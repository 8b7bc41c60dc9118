"""Per-layer attribution for the traced run, from outside the package.

Three sources, none of them inside the program:

1. **Spans** recorded by the benchmark around calls into each module's
   public functions (the module attribute is wrapped for the run and
   restored after).  Spans are kept in memory with their parent; a span
   opened on a pool thread with no open span of its own gets the innermost
   span that contains it in time as parent.  Self time = span minus the
   union of its children.
2. **The Spark event log** (``spark.eventLog.enabled`` via
   ``get_spark(extra_conf=)``).  Spark runs the planned stages lazily inside
   ``LakeTable.overwrite_buckets``' pool threads, so they cannot be tagged
   from outside; each stage is attributed offline from the plan operators
   whose SQL metrics it updated (first rule that matches):

   ====================================================  ====================
   stage runs ...                                        layer
   ====================================================  ====================
   a Python node (MapInArrow, ArrowEvalPython, ...)      ``functions.html``
   a scan of tombstone files                             ``operators.cdc``
   a join other than the inner join on ``log_offset``    ``operators.cdc``
   the inner ``log_offset`` join or a ``max``/``max_by``  ``operators.lww``
   aggregate
   a ``pmod(xxhash64(..))`` aggregate (touched buckets)  ``apply``
   anything else (scans, exchanges, writes)              ``lake.table``
   ====================================================  ====================

   Within one ``apply_batch`` call, the wall time during which at least one
   Spark job runs is split between layers by their share of task time; the
   rest is driver-only time, given to the span (lww, cdc, lake.table, or
   apply itself) that was open.
3. **A ``StreamingQueryListener``** registered by the benchmark: per
   micro-batch ``triggerExecution``, ``addBatch``, ``latestOffset`` and
   ``getBatch`` durations.

The layer self-times of a batch add up to its wall (``triggerExecution``
for a micro-batch, the ``apply_batch`` call for the bulk load);
``trace.layer_sum_ratio`` reports the sum over the window against the sum
of walls.
"""

from __future__ import annotations

import contextlib
import importlib
import itertools
import json
import os
import statistics
import threading
import time

#: every per-layer metric, in BENCHMARK.json order: (name, unit)
PER_LAYER: list[tuple[str, str]] = [
    ("streaming.runner.trigger_s", "s"),
    ("streaming.runner.overhead_s", "s"),
    ("streaming.runner.self_s", "s"),
    ("streaming.runner.files_per_batch", "count"),
    ("streaming.runner.batches", "count"),
    ("sources.lag_files", "count"),
    ("sources.offsets_s", "s"),
    ("apply.self_s", "s"),
    ("apply.jobs", "count"),
    ("apply.driver_only_s", "s"),
    ("apply.touched_buckets", "count"),
    ("operators.lww.self_s", "s"),
    ("operators.lww.shuffle_bytes", "bytes"),
    ("operators.lww.task_skew", "ratio"),
    ("operators.cdc.self_s", "s"),
    ("operators.cdc.join_task_s", "s"),
    ("operators.cdc.tombstone_rows_read", "count"),
    ("functions.html.self_s", "s"),
    ("functions.html.rows", "count"),
    ("functions.html.task_s", "s"),
    ("functions.html.bytes_to_python", "bytes"),
    ("functions.html.bytes_from_python", "bytes"),
    ("lake.table.self_s", "s"),
    ("lake.table.overwrite_s", "s"),
    ("lake.table.rows_read", "count"),
    ("lake.table.rows_written", "count"),
    ("lake.table.bytes_written", "bytes"),
    ("lake.table.write_amp", "ratio"),
    ("lake.table.files_added", "count"),
    ("lake.table.data_files", "count"),
    ("lake.table.manifest_bytes", "bytes"),
    ("lake.table.compact_appends_s", "s"),
    ("trace.layer_sum_ratio", "ratio"),
    ("trace.ev_per_s", "events/s"),
]
UNITS = dict(PER_LAYER)

#: layers whose self-times partition a batch wall
SELF_LAYERS = ["sources", "streaming.runner", "apply", "operators.lww",
               "operators.cdc", "functions.html", "lake.table"]

#: (module, attribute, span name) wrapped while tracing
_PATCHES = [
    ("adsimportpipeline_spark.streaming.runner", "apply_batch", "apply"),
    ("adsimportpipeline_spark.apply", "lww_winner_rows", "operators.lww"),
    ("adsimportpipeline_spark.apply", "lww_dedup_semi", "operators.lww"),
    ("adsimportpipeline_spark.apply", "tombstone_guard", "operators.cdc"),
    ("adsimportpipeline_spark.lake.table:LakeTable", "overwrite_buckets", "lake.table"),
    ("adsimportpipeline_spark.lake.table:LakeTable", "read_buckets", "lake.table"),
    ("adsimportpipeline_spark.lake.table:LakeTable", "read_tombstones", "lake.table"),
    ("adsimportpipeline_spark.lake.table:LakeTable", "compact_appends", "lake.table.compact"),
]


# ------------------------------------------------------------ interval math

def _union(iv: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for s, e in sorted(iv):
        if e <= s:
            continue
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def _length(iv) -> float:
    return sum(e - s for s, e in _union(iv))


def _clip(iv, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in iv if min(e, hi) > max(s, lo)]


def _minus(a, b):
    """Parts of interval set ``a`` not covered by ``b``."""
    out = []
    b = _union(b)
    for s, e in _union(a):
        cur = s
        for bs, be in b:
            if be <= cur or bs >= e:
                continue
            if bs > cur:
                out.append((cur, bs))
            cur = max(cur, be)
        if cur < e:
            out.append((cur, e))
    return out


# ------------------------------------------------------------------- spans

class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "thread", "attrs")

    def __init__(self, sid, name, parent, attrs):
        self.id, self.name, self.parent, self.attrs = sid, name, parent, attrs
        self.thread = threading.get_ident()
        self.start = time.time()
        self.end = None


class _NullSpan:
    attrs: dict = {}


class ProgressListener:
    """Collects ``StreamingQueryProgress`` JSON of batches that read data."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []
        lock = self.lock = threading.Lock()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                if p.get("numInputRows", 0) > 0:
                    with lock:
                        events.append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()

    def reset(self) -> None:
        with self.lock:
            self.events.clear()

    def wait_for(self, pred, settle: float = 0.3, timeout: float = 30.0) -> list[dict]:
        """Progress events arrive on Spark's listener bus after the batch;
        wait until ``pred`` holds on them (then ``settle`` more seconds)."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self.lock:
                if pred(list(self.events)):
                    break
            time.sleep(0.05)
        time.sleep(settle)
        with self.lock:
            return sorted(self.events, key=lambda p: p["batchId"])


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self.listener = ProgressListener()
        self.stream: dict | None = None
        self.table_root: str | None = None
        self.v_range: tuple[int, int] | None = None

    # ---- recording
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield _NullSpan()
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sp = Span(next(self._ids), name, stack[-1].id if stack else None, dict(attrs))
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def _wrap(self, fn, name: str):
        tracer = self

        def wrapper(*args, **kwargs):
            attrs = {"fn": fn.__name__}
            if name == "apply":
                attrs["batch"] = args[2] if len(args) > 2 else kwargs.get("batch_id")
            with tracer.span(name, **attrs) as sp:
                out = fn(*args, **kwargs)
                if name == "apply" and isinstance(out, dict):
                    sp.attrs["touched_buckets"] = out.get("touched_buckets")
                return out

        wrapper.__wrapped__ = fn
        return wrapper

    @contextlib.contextmanager
    def installed(self):
        """Register the progress listener; while tracing, also wrap the
        public functions listed in ``_PATCHES`` (restored on exit)."""
        self.spark.streams.addListener(self.listener.listener)
        undo = []
        try:
            if self.enabled:
                for target, attr, name in _PATCHES:
                    mod_name, _, cls = target.partition(":")
                    obj = importlib.import_module(mod_name)
                    if cls:
                        obj = getattr(obj, cls)
                    orig = obj.__dict__[attr]
                    setattr(obj, attr, self._wrap(orig, name))
                    undo.append((obj, attr, orig))
            yield self
        finally:
            for obj, attr, orig in reversed(undo):
                setattr(obj, attr, orig)
            self.spark.streams.removeListener(self.listener.listener)

    # ---- span tree
    def _tree(self) -> dict[int, list[Span]]:
        """children by parent id; pool-thread spans without a recorded
        parent get the innermost span containing them in time."""
        spans = sorted(self.spans, key=lambda s: (s.start, -s.end))
        kids: dict[int, list[Span]] = {}
        for s in spans:
            pid = s.parent
            if pid is None:
                best = None
                for p in spans:
                    if p is not s and p.start <= s.start and s.end <= p.end and (
                        best is None or p.end - p.start < best.end - best.start
                    ):
                        best = p
                pid = best.id if best else None
                s.parent = pid
            if pid is not None:
                kids.setdefault(pid, []).append(s)
        return kids

    def _measured_applies(self) -> list[Span]:
        warm = (self.stream or {}).get("warm_batches", 0)
        return sorted((s for s in self.spans if s.name == "apply"
                       and (s.attrs.get("batch") or 0) >= warm), key=lambda s: s.start)

    # ---- metrics that need the live session or the lake
    def per_layer(self, out: dict, run) -> dict:
        """Stream, span and lake metrics; the event-log part follows after
        the session stopped (:meth:`attribute_eventlog`)."""
        self.kids = self._tree()
        self.applies = self._measured_applies()
        m: dict[str, float] = {}
        n = max(len(self.applies), 1)
        progress = self.listener.wait_for(lambda ps: True, settle=0.0)
        warm = (self.stream or {}).get("warm_batches", 0)
        progress = [p for p in progress if p["batchId"] >= warm]
        self.progress = {p["batchId"]: p for p in progress}
        if progress:
            d = [p["durationMs"] for p in progress]
            trig = [x.get("triggerExecution", 0) / 1e3 for x in d]
            add = [x.get("addBatch", 0) / 1e3 for x in d]
            offs = [(x.get("latestOffset", 0) + x.get("getBatch", 0)) / 1e3 for x in d]
            m["streaming.runner.trigger_s"] = statistics.fmean(trig)
            m["streaming.runner.overhead_s"] = statistics.fmean(t - a for t, a in zip(trig, add))
            m["sources.offsets_s"] = statistics.fmean(offs)
            m["streaming.runner.batches"] = len(progress)
            first = self.stream["first"]
            per_batch: dict[int, int] = {}
            for _f, b in first.items():
                per_batch[b] = per_batch.get(b, 0) + 1
            m["streaming.runner.files_per_batch"] = statistics.fmean(
                per_batch.get(p["batchId"], 0) for p in progress)
            # backlog seen by each landing file: files landed by then whose
            # micro-batch had not started yet
            landed = self.stream.get("landed") or self.stream["files"]
            start = {p["batchId"]: _iso_epoch(p["timestamp"]) for p in progress}
            began = {f: start.get(b, float("inf")) for f, b in first.items()}
            lags = [sum(1 for g, tg in landed.items()
                        if tg <= t and began.get(g, float("inf")) > t)
                    for t in landed.values()]
            m["sources.lag_files"] = statistics.fmean(lags) if lags else 0.0
        else:
            for k in ("streaming.runner.trigger_s", "streaming.runner.overhead_s",
                      "sources.offsets_s", "streaming.runner.batches",
                      "streaming.runner.files_per_batch", "sources.lag_files"):
                m[k] = 0.0

        tb = [s.attrs.get("touched_buckets") or 0 for s in self.applies]
        m["apply.touched_buckets"] = statistics.fmean(tb) if tb else 0.0
        over = [s for s in self.spans if s.attrs.get("fn") == "overwrite_buckets"
                and any(a.start <= s.start and s.end <= a.end for a in self.applies)]
        m["lake.table.overwrite_s"] = sum(s.end - s.start for s in over) / n
        comp = [s for s in self.spans if s.name == "lake.table.compact"]
        m["lake.table.compact_appends_s"] = sum(s.end - s.start for s in comp) / n

        m.update(self._lake_metrics(n))
        return m

    def _lake_metrics(self, n: int) -> dict:
        import pyarrow.parquet as pq

        from adsimportpipeline_spark.lake.table import LakeTable

        root = self.table_root
        tbl = LakeTable.load(self.spark, root)
        if self.stream:
            commits = self.stream["commits"]
            pairs = [(commits[b][0] - 1, commits[b][0]) for b in sorted(commits)
                     if b >= self.stream.get("warm_batches", 0)]
        else:
            pairs = [self.v_range]
        written = changed = added = 0
        for v0, v1 in pairs:
            old = {e["path"] for es in tbl.manifest(v0)["buckets"].values() for e in es}
            new = [e["path"] for es in tbl.manifest(v1)["buckets"].values() for e in es
                   if e["path"] not in old]
            added += len(new)
            written += sum(pq.ParquetFile(p).metadata.num_rows for p in new)
            changed += tbl.read_changes(v0, v1).count()
        k = max(len(pairs), 1)
        final = tbl.manifest()
        mpath = os.path.join(root, "_manifests", f"v{final['version']:08d}.json")
        return {
            "lake.table.rows_written": written / k,
            "lake.table.files_added": added / k,
            "lake.table.write_amp": written / changed if changed else 0.0,
            "lake.table.data_files": float(sum(len(es) for es in final["buckets"].values())),
            "lake.table.manifest_bytes": float(os.path.getsize(mpath)),
        }

    # ---- event log attribution (after spark.stop())
    def attribute_eventlog(self, evdir: str, m: dict) -> dict:
        log = _EventLog(evdir)
        root = self.table_root
        applies = self.applies
        n = max(len(applies), 1)
        tot = {k: 0.0 for k in SELF_LAYERS}
        walls = 0.0
        jobs_n = 0
        driver_only = 0.0
        task_s = {k: 0.0 for k in SELF_LAYERS}
        lww_shuffle = 0.0
        skews: list[float] = []
        py = {"rows": 0.0, "to": 0.0, "from": 0.0}
        tomb_rows = table_rows = 0.0
        bytes_written = 0.0
        for a in applies:
            lo, hi = a.start * 1e3, a.end * 1e3
            jobs = [j for j in log.jobs.values() if lo <= j["submit"] <= hi]
            jobs_n += len(jobs)
            busy = _union(_clip([(j["submit"], j["end"] or hi) for j in jobs], lo, hi))
            busy_s = _length(busy) / 1e3
            desc = self._descendants(a)
            # driver-only time, given to the innermost open span
            free = _minus([(lo, hi)], busy)
            d_total = _length(free) / 1e3
            driver_only += d_total
            claimed = []
            for layer, names in (("operators.lww", {"operators.lww"}),
                                 ("operators.cdc", {"operators.cdc"}),
                                 ("lake.table", {"lake.table", "lake.table.compact"})):
                iv = [(s.start * 1e3, s.end * 1e3) for s in desc if s.name in names]
                part = _minus(_clip(_minus(iv, claimed), lo, hi), busy)
                tot[layer] += _length(part) / 1e3
                claimed += iv
            tot["apply"] += d_total - _length(_minus(_clip(claimed, lo, hi), busy)) / 1e3
            # job time, split by task-time share
            t_layer = {k: 0.0 for k in SELF_LAYERS}
            heaviest = None  # (task time, max/median) of the batch's biggest lww stage
            for j in jobs:
                for sid in j["stages"]:
                    st = log.stages.get(sid)
                    if not st or not st["tasks"]:
                        continue
                    layer, nodes = log.classify(st, root)
                    durs = [t["finish"] - t["launch"] for t in st["tasks"]]
                    t_layer[layer] += sum(durs) / 1e3
                    bytes_written += sum(t["out_bytes"] for t in st["tasks"])
                    if layer == "operators.lww":
                        lww_shuffle += sum(t["shuffle_w"] for t in st["tasks"])
                        if len(durs) > 1 and statistics.median(durs) > 0 and (
                                heaviest is None or sum(durs) > heaviest[0]):
                            heaviest = (sum(durs), max(durs) / statistics.median(durs))
                    for name, simple, metric, value in nodes:
                        if _is_python(name):
                            if metric == "number of output rows":
                                py["rows"] += value
                            elif metric == "data sent to Python workers":
                                py["to"] += value
                            elif metric == "data returned from Python workers":
                                py["from"] += value
                        elif name.startswith("Scan") and metric == "number of output rows":
                            if f"{root}/data/tomb" in simple:
                                tomb_rows += value
                            elif f"{root}/data/c-" in simple:
                                table_rows += value
            if heaviest:
                skews.append(heaviest[1])
            tsum = sum(t_layer.values())
            for k, v in t_layer.items():
                task_s[k] += v
                if tsum:
                    tot[k] += busy_s * v / tsum
            wall = a.end - a.start
            p = self.progress.get(a.attrs.get("batch")) if self.stream else None
            if p is not None:
                d = p["durationMs"]
                trig = d.get("triggerExecution", 0) / 1e3
                offs = (d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1e3
                tot["sources"] += offs
                tot["streaming.runner"] += trig - offs - wall
                walls += trig
            else:
                walls += wall

        m["apply.self_s"] = tot["apply"] / n
        m["apply.jobs"] = jobs_n / n
        m["apply.driver_only_s"] = driver_only / n
        m["streaming.runner.self_s"] = tot["streaming.runner"] / n
        m["operators.lww.self_s"] = tot["operators.lww"] / n
        m["operators.lww.shuffle_bytes"] = lww_shuffle / n
        # skew of the heaviest lww stage of each batch, median over batches
        m["operators.lww.task_skew"] = statistics.median(skews) if skews else 0.0
        m["operators.cdc.self_s"] = tot["operators.cdc"] / n
        m["operators.cdc.join_task_s"] = task_s["operators.cdc"] / n
        m["operators.cdc.tombstone_rows_read"] = tomb_rows / n
        m["functions.html.self_s"] = tot["functions.html"] / n
        m["functions.html.task_s"] = task_s["functions.html"] / n
        m["functions.html.rows"] = py["rows"] / n
        m["functions.html.bytes_to_python"] = py["to"] / n
        m["functions.html.bytes_from_python"] = py["from"] / n
        m["lake.table.self_s"] = tot["lake.table"] / n
        m["lake.table.rows_read"] = table_rows / n
        m["lake.table.bytes_written"] = bytes_written / n
        m["trace.layer_sum_ratio"] = sum(tot.values()) / walls if walls else 0.0
        return {k: (float(v), UNITS[k]) for k, v in m.items()}

    def _descendants(self, root: Span) -> list[Span]:
        out, todo = [], [root.id]
        while todo:
            for c in self.kids.get(todo.pop(), []):
                out.append(c)
                todo.append(c.id)
        return out


def _iso_epoch(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


def _is_python(node: str) -> bool:
    return "Python" in node or "Arrow" in node or "Pandas" in node


class _EventLog:
    """The parts of one Spark event log the attribution needs."""

    def __init__(self, evdir: str):
        files = [os.path.join(evdir, f) for f in os.listdir(evdir)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {evdir}, found {len(files)}")
        self.nodes: dict[int, tuple[str, str, str]] = {}
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        with open(files[0]) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
                    self._walk(e["sparkPlanInfo"])
                elif ev == "SparkListenerJobStart":
                    self.jobs[e["Job ID"]] = {"submit": e["Submission Time"], "end": None,
                                              "stages": e["Stage IDs"]}
                elif ev == "SparkListenerJobEnd":
                    if e["Job ID"] in self.jobs:
                        self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    st = self.stages.setdefault(si["Stage ID"], {"tasks": []})
                    st["acc"] = {a["ID"]: a.get("Value") for a in si.get("Accumulables", [])}
                elif ev == "SparkListenerTaskEnd":
                    ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                    st = self.stages.setdefault(e["Stage ID"], {"tasks": []})
                    st["tasks"].append({
                        "launch": ti["Launch Time"], "finish": ti["Finish Time"],
                        "shuffle_w": (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        "out_bytes": (tm.get("Output Metrics") or {}).get("Bytes Written", 0),
                    })

    def _walk(self, info: dict) -> None:
        for mt in info.get("metrics", []):
            self.nodes[mt["accumulatorId"]] = (info["nodeName"], info.get("simpleString", ""),
                                              mt["name"])
        for c in info.get("children", []):
            self._walk(c)

    def classify(self, st: dict, root: str | None):
        """(layer, [(node, simpleString, metric, value)]) of one stage."""
        nodes = []
        for aid, v in (st.get("acc") or {}).items():
            if aid in self.nodes:
                try:
                    val = float(v)
                except (TypeError, ValueError):
                    val = 0.0
                nodes.append((*self.nodes[aid], val))
        names = [(n, s) for n, s, _m, _v in nodes]
        if any(_is_python(n) for n, _ in names):
            return "functions.html", nodes
        if any(n.startswith("Scan") and f"{root}/data/tomb" in s for n, s in names):
            return "operators.cdc", nodes

        def lww_join(n, s):
            return "Join" in n and "Inner" in s and "[log_offset" in s

        if any("Join" in n and not lww_join(n, s) for n, s in names):
            return "operators.cdc", nodes
        if any(lww_join(n, s) or ("Aggregate" in n and ("max(" in s or "max_by(" in s))
               for n, s in names):
            return "operators.lww", nodes
        if any("Aggregate" in n and "pmod(xxhash64" in s for n, s in names):
            return "apply", nodes
        return "lake.table", nodes

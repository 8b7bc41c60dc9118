"""The three CDC ingest workloads, run inside one short-lived child process.

Each workload drives the public API from outside the package
(``apply.apply_batch``, ``streaming.runner.run_replay``,
``lake.table.LakeTable``) over inputs made by ``datagen`` from ``--seed``:

- ``bulk_load``   one ``apply_batch`` of a whole log into an empty table,
                  once untimed, then repeated over the window (the fused
                  bulk path);
- ``incr_upsert`` closed loop: ``run_replay`` (availableNow) drains a log
                  tail against a preloaded table, one file per micro-batch;
- ``fresh_tail``  open loop: a continuous ``run_replay`` while a generator
                  thread renames tiny pre-written files into the log
                  directory on a fixed schedule that never waits on the
                  engine.

Every workload sets up the same way (datagen, then a table created and
bulk-loaded from a preload log, several times; ``setup_s`` is the median)
and ends with the correctness gate (:mod:`gate`); ``incr_upsert`` reads its
final table first (full rows, ``read_changes`` since the preload, a narrow
``read_range``).  Run as a script by ``run.py``; the result is one JSON
file.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time
from dataclasses import asdict, dataclass
from datetime import datetime, timedelta

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gate  # noqa: E402
import layers as tracing  # noqa: E402


@dataclass(frozen=True)
class Geometry:
    """Input sizes.  ``n_buckets`` is chosen so every micro-batch of
    ``incr_upsert`` touches every bucket (whole-table copy-on-write)."""

    n_urls: int = 1_200
    n_buckets: int = 8
    bulk_urls: int = 10_000
    preload_events: int = 10_000
    preload_files: int = 4
    bulk_events: int = 50_000
    bulk_files: int = 8
    incr_batch_events: int = 1_000
    incr_warm_files: int = 1         # drained untimed first: the cold micro-batch
    fresh_rate: float = 4.0          # files per second
    fresh_file_events: int = 5
    fresh_warm_files: int = 2
    fresh_max_files: int = 32        # run_replay max_files_per_trigger
    setups: int = 3                  # set-ups per run; setup_s is their median


DEFAULT = Geometry()
QUICK = Geometry(
    n_urls=600, n_buckets=8, bulk_urls=1_500, preload_events=6_000, preload_files=4,
    bulk_events=30_000, bulk_files=8, incr_batch_events=500,
    fresh_rate=3.0, setups=1,
)
#: ROADMAP re-anchor geometry (60 k urls / 64 buckets / 1.2 M events) —
#: far too slow for the timed runs, used only for the seed record
REANCHOR = Geometry(
    n_urls=60_000, n_buckets=64, bulk_urls=60_000, preload_events=1_200_000,
    preload_files=32,
    bulk_events=1_200_000, bulk_files=32, incr_batch_events=50_000,
    fresh_rate=1.0, fresh_file_events=10, setups=1,
)
GEOMETRIES = {"default": DEFAULT, "quick": QUICK, "reanchor": REANCHOR}

#: a generator rename later than this past its due time invalidates the run
LATENESS_BOUND_S = 0.5


# --------------------------------------------------------------- utilities

def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail_percentile(xs: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile of the ladder that keeps
    at least ten samples beyond it (nearest-rank)."""
    s = sorted(xs)
    n = len(s)
    best = (50.0, median(s))
    for p in (75.0, 80.0, 90.0, 95.0, 99.0, 99.9):
        rank = -(-int(p * n) // 100)  # ceil(p% of n), 1-based
        if n - rank >= 10:
            best = (p, s[rank - 1])
    return best


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and its python workers), sampled from /proc.  Each process
    counts its proportional set size (PSS), so a page shared by the forked
    python workers counts once: summing their RSS counted it once per
    worker, and the peak swung by GBs with the number of idle workers.
    The peak is the highest level held over two consecutive samples: a
    process caught mid-spawn reports its parent's whole mapping (one sample
    read 5.7 GB against 3.1 GB before and after)."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_kb = self.peak_java_kb = self.peak_procs = 0
        self._last: tuple[int, int, int] | None = None
        self._lock = threading.Lock()
        self._on = threading.Event()
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()

    def _tree_rss_kb(self) -> tuple[int, int, int]:
        """(PSS of the whole tree, PSS of its JVMs, processes) in KiB."""
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            for c, pp in parent.items():
                if pp == p and c not in tree:
                    tree.add(c)
                    frontier.append(c)
        total = java = 0
        for p in tree:
            try:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    kb = next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
                with open(f"/proc/{p}/comm") as f:
                    is_java = f.read().strip() == "java"
            except (OSError, IndexError, ValueError, StopIteration):
                continue
            total += kb
            java += kb if is_java else 0
        return total, java, len(tree)

    def _sample(self) -> None:
        with self._lock:  # the loop thread and start()/pause() both sample
            cur = self._tree_rss_kb()
            held = min(cur, self._last or cur)
            self._last = cur
            if held[0] > self.peak_kb:
                self.peak_kb, self.peak_java_kb, self.peak_procs = held

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._on.is_set():
                self._sample()
            time.sleep(self.period)

    def start(self) -> None:
        with self._lock:
            self.peak_kb = self.peak_java_kb = 0
            self._last = None
        self._sample()
        self._on.set()

    def pause(self) -> None:
        self._on.clear()
        self._sample()

    def close(self) -> None:
        self._stop.set()
        self._t.join(timeout=5)


def parquet_files(d: str) -> list[str]:
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))


def write_log(spark, spec, path: str, lo: int, hi: int, n_files: int, ordered: bool) -> list[str]:
    """Events with ``lo <= log_offset < hi`` of the datagen log as parquet;
    ``ordered`` range-partitions by offset so file order is delivery order."""
    from pyspark.sql import functions as F

    from adsimportpipeline_spark.datagen import generate_change_log

    df = generate_change_log(spark, spec).filter(
        (F.col("log_offset") >= lo) & (F.col("log_offset") < hi)
    )
    if ordered:
        df = df.repartitionByRange(n_files, "log_offset").sortWithinPartitions("log_offset")
    else:
        df = df.repartition(n_files)
    df.write.mode("overwrite").parquet(path)
    return parquet_files(path)


def n_events(paths: list[str]) -> int:
    """Rows in the given parquet files, from their footers (no Spark job)."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def read_events(spark, paths):
    from adsimportpipeline_spark.schema import CHANGE_EVENT_SCHEMA

    return spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(*paths)


def manifest_commit_times(table_root: str, source: str = "cdc") -> dict[int, tuple[int, float]]:
    """batch id -> (first manifest version recording it, that manifest's
    mtime): the moment the batch became visible to readers."""
    mdir = os.path.join(table_root, "_manifests")
    out: dict[int, tuple[int, float]] = {}
    for name in sorted(os.listdir(mdir)):
        if not (name.startswith("v") and name.endswith(".json")):
            continue
        p = os.path.join(mdir, name)
        with open(p) as f:
            m = json.load(f)
        b = m["committed_epochs"].get(source)
        if b is not None and int(b) not in out:
            out[int(b)] = (m["version"], os.stat(p).st_mtime)
    return out


def source_log_batches(checkpoint: str) -> dict[str, int]:
    """file name -> id of the first micro-batch that listed it, read from
    the file source's checkpoint log (``N`` and ``N.compact`` files)."""
    d = os.path.join(checkpoint, "sources", "0")
    first: dict[str, int] = {}
    if not os.path.isdir(d):
        return first
    for name in os.listdir(d):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                e = json.loads(line)
                base = os.path.basename(e["path"])
                b = int(e["batchId"])
                first[base] = min(b, first.get(base, b))
    return first


def _through(last_batch: int):
    """Listener predicate: the progress of micro-batch ``last_batch`` has
    arrived (the listener bus lags the commit, more so on a busy host)."""
    return lambda ps: any(p["batchId"] >= last_batch for p in ps)


# ----------------------------------------------------------------- the run

class Run:
    def __init__(self, spark, geo: Geometry, seed: int, seconds: float, work: str,
                 tracer: "tracing.Tracer", rss: RssSampler, runner: str):
        self.spark, self.geo, self.seed, self.seconds = spark, geo, seed, seconds
        self.work, self.tracer, self.rss, self.runner = work, tracer, rss, runner
        self.setup_samples: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.details: dict = {}

    # ---- set-up
    def spec(self, n_events: int, n_urls: int):
        from adsimportpipeline_spark.datagen import GenSpec

        return GenSpec(n_events=n_events, n_urls=n_urls, seed=self.seed)

    def setup(self, events: list[str], name: str, **create) -> "LakeTable":
        """Create a table and bulk-load ``events`` into it, ``geo.setups``
        times into fresh directories; setup_s is the median of these.  The
        last table is returned.  The first rep also pays the JVM's cold
        start (class loading, codegen, python workers), the median does not."""
        from adsimportpipeline_spark.apply import apply_batch
        from adsimportpipeline_spark.lake.table import LakeTable
        from adsimportpipeline_spark.schema import PAGES_SCHEMA

        for k in range(self.geo.setups):
            t0 = time.time()
            tbl = LakeTable.create(self.spark, f"{self.work}/{name}{k}", PAGES_SCHEMA,
                                   n_buckets=self.geo.n_buckets, **create)
            apply_batch(tbl, read_events(self.spark, events), 0, epoch_source="preload")
            self.setup_samples.append(time.time() - t0)
        return tbl

    def setup_preloaded(self, tail_events: int = 0, tail_files: int = 0) -> dict:
        """datagen (preload + ordered tail, if any), then :meth:`setup` of a
        table preloaded from the log's head."""
        g = self.geo
        spec = self.spec(g.preload_events + tail_events, g.n_urls)
        t0 = time.time()
        pre = write_log(self.spark, spec, f"{self.work}/preload", 0, g.preload_events,
                        g.preload_files, ordered=False)
        tail = write_log(self.spark, spec, f"{self.work}/staging", g.preload_events,
                         g.preload_events + tail_events, tail_files, ordered=True
                         ) if tail_files else []
        self.details["datagen_s"] = round(time.time() - t0, 3)
        tbl = self.setup(pre, "table", stats_cols=["warc_ts"])
        return {"preload": pre, "tail": tail, "table": tbl,
                "v_preload": tbl.current_version()}

    # ---- reads of the final table (outside the timed window)
    def final_reads(self, tbl, v_from: int) -> None:
        """Time one read of each kind of the final table; the times go to
        the details line.  They are not end-to-end metrics: their run-to-run
        spread on a shared 4-vCPU host (IQR/median 0.30-0.34 over ten runs)
        was above the largest bound a metric may have (SEED_RECORD.md).
        Each is the first read of its kind in the run, so it pays its plan's
        cold start."""
        from adsimportpipeline_spark.datagen import BASE_EPOCH

        lo = datetime.utcfromtimestamp(BASE_EPOCH)
        hi = lo + timedelta(seconds=10_000)  # 1 % of the datagen ts spread
        reads = {
            "read_final_s": lambda: tbl.read(),
            "read_changes_s": lambda: tbl.read_changes(v_from),
            "read_range_s": lambda: tbl.read_range("warc_ts", lo, hi),
        }
        out: dict[str, float] = {}
        for name, make in reads.items():
            self.attempted += 1
            t0 = time.time()
            try:
                make().write.format("noop").mode("overwrite").save()
            except Exception as e:  # a failed read is counted, not fatal
                self.failed += 1
                self.details.setdefault("errors", []).append(f"{name}: {e!r}"[:500])
                continue
            out[name] = time.time() - t0
        self.details["reads_s"] = out

    def check(self, tbl, log_files: list[str]) -> None:
        self.attempted += 1
        t0 = time.time()
        problems = gate.check(self.spark, tbl, log_files)
        self.details["gate_s"] = round(time.time() - t0, 3)
        self.details["gate"] = problems or "ok"
        if problems:
            self.failed += 1

    # ---- workloads
    def bulk_load(self) -> dict:
        from adsimportpipeline_spark.apply import apply_batch
        from adsimportpipeline_spark.lake.table import LakeTable
        from adsimportpipeline_spark.schema import PAGES_SCHEMA

        g = self.geo
        # the set-up (preloaded tables, unused after) doubles as the JVM's
        # warm-up for the bulk applies
        self.setup_preloaded()
        t0 = time.time()
        log = write_log(self.spark, self.spec(g.bulk_events, g.bulk_urls),
                        f"{self.work}/log", 0, g.bulk_events, g.bulk_files, ordered=False)
        self.details["datagen_s"] += round(time.time() - t0, 3)

        # one untimed apply of this log first: the first apply of a new log
        # ran 1.1-1.5x slower than the next ones
        t0 = time.time()
        warm = LakeTable.create(self.spark, f"{self.work}/warm", PAGES_SCHEMA,
                                n_buckets=g.n_buckets)
        apply_batch(warm, read_events(self.spark, log), 0)
        self.details["warm_s"] = round(time.time() - t0, 3)

        walls: list[float] = []
        self.rss.start()
        t_window = time.time()
        t_end = time.time() + self.seconds
        rep = 0
        while rep < 3 or time.time() < t_end:  # at least three applies
            tbl = LakeTable.create(self.spark, f"{self.work}/t{rep}", PAGES_SCHEMA,
                                   n_buckets=g.n_buckets)
            v0 = tbl.current_version()
            self.attempted += 1
            t0 = time.time()
            with self.tracer.span("apply", batch=rep) as sp:
                stats = apply_batch(tbl, read_events(self.spark, log), 0)
                sp.attrs["touched_buckets"] = stats.get("touched_buckets")
            walls.append(time.time() - t0)
            rep += 1
        self.rss.pause()
        window = time.time() - t_window
        self.details["window_s"] = round(window, 3)
        self.details["applies"] = rep
        self.check(tbl, log)
        self.tracer.table_root, self.tracer.v_range = tbl.root, (v0, tbl.current_version())
        return {
            # throughput over the window (table creation included); the
            # batch wall is the latency of one apply
            "ev_per_s": g.bulk_events * rep / window,
            "batch_walls": walls,
            "table": tbl,
        }

    def _replay_fn(self):
        from adsimportpipeline_spark.streaming import runner

        return runner.run_replay_stateful if self.runner == "stateful" else runner.run_replay

    def incr_upsert(self) -> dict:
        g = self.geo
        n_batches = max(3, int(round(self.seconds * 0.3)))
        n_files = g.incr_warm_files + n_batches
        s = self.setup_preloaded(g.incr_batch_events * n_files, n_files)
        log_dir = os.path.join(self.work, "log")
        os.makedirs(log_dir)
        ckpt = os.path.join(self.work, "ckpt")
        tbl = s["table"]
        replay = self._replay_fn()
        # warm-up: the first tail files as a drain of their own, untimed (the
        # first micro-batch pays the incremental path's codegen)
        tail = [os.path.join(log_dir, os.path.basename(f)) for f in s["tail"]]
        # the file source takes files in mtime order; distinct mtimes in log
        # order make each micro-batch's content, and so its counts, repeat
        t_file = int(time.time()) - len(tail)
        for i, (f, to) in enumerate(zip(s["tail"], tail)):
            os.utime(f, (t_file + i, t_file + i))
        for f, to in zip(s["tail"][: g.incr_warm_files], tail):
            os.rename(f, to)
        t_warm = time.time()
        replay(self.spark, log_dir, tbl.root, ckpt, max_files_per_trigger=1)
        self.details["warm_s"] = round(time.time() - t_warm, 3)
        warm_batches = tbl.last_epoch("cdc") + 1
        timed = tail[g.incr_warm_files:]
        for f, to in zip(s["tail"][g.incr_warm_files:], timed):
            os.rename(f, to)
        listener = self.tracer.listener
        listener.reset()
        self.rss.start()
        t0 = time.time()
        replay(self.spark, log_dir, tbl.root, ckpt, max_files_per_trigger=1)
        wall = time.time() - t0
        self.rss.pause()
        self.details["window_s"] = round(wall, 3)
        progress = [p for p in listener.wait_for(_through(tbl.last_epoch("cdc")))
                    if p["batchId"] >= warm_batches]
        self.attempted += n_batches
        commits = manifest_commit_times(tbl.root)
        first = source_log_batches(ckpt)
        self.failed += sum(1 for f in timed if os.path.basename(f) not in first)
        events = n_events(timed)
        self.details.update(batches=len(progress), tail_events=events)
        self.final_reads(tbl, s["v_preload"])
        self.check(tbl, s["preload"] + tail)
        self.tracer.stream = {"t0": t0, "files": {os.path.basename(f): t0 for f in timed},
                              "first": first, "commits": commits, "warm_batches": warm_batches}
        self.tracer.table_root, self.tracer.v_range = tbl.root, (s["v_preload"], tbl.current_version())
        return {
            "ev_per_s": events / wall,
            "batch_walls": [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress],
            "table": tbl,
        }

    def fresh_tail(self) -> dict:
        g = self.geo
        n_window = int(round(g.fresh_rate * self.seconds))
        n_files = g.fresh_warm_files + n_window
        s = self.setup_preloaded(g.fresh_file_events * n_files, n_files)
        staging = s["tail"]
        log_dir = os.path.join(self.work, "log")
        os.makedirs(log_dir)
        ckpt = os.path.join(self.work, "ckpt")
        tbl = s["table"]
        listener = self.tracer.listener
        q = self._replay_fn()(self.spark, log_dir, tbl.root, ckpt,
                              max_files_per_trigger=g.fresh_max_files, available_now=False)
        landed: dict[str, float] = {}
        due: dict[str, float] = {}
        try:
            # warm-up: the query's first batches, untimed
            for i, f in enumerate(staging[: g.fresh_warm_files]):
                name = f"f{i:05d}.parquet"
                os.rename(f, os.path.join(log_dir, name))
            q.processAllAvailable()
            warm_batches = tbl.last_epoch("cdc") + 1
            listener.reset()

            schedule = staging[g.fresh_warm_files:]
            t0 = time.time() + 0.2

            def generate() -> None:
                # fixed schedule: never waits on the engine
                for i, f in enumerate(schedule):
                    name = f"f{g.fresh_warm_files + i:05d}-due{i}.parquet"
                    d = t0 + i / g.fresh_rate
                    now = time.time()
                    if d > now:
                        time.sleep(d - now)
                    os.rename(f, os.path.join(log_dir, name))
                    landed[name] = time.time()
                    due[name] = d

            self.rss.start()
            t_window = time.time()
            gen = threading.Thread(target=generate, name="cdcbench-generator")
            gen.start()
            gen.join()
            q.processAllAvailable()
            self.rss.pause()
            self.details["window_s"] = round(time.time() - t_window, 3)
        finally:
            q.stop()
        progress = [p for p in listener.wait_for(_through(tbl.last_epoch("cdc")))
                    if p["batchId"] >= warm_batches]
        commits = manifest_commit_times(tbl.root)
        first = source_log_batches(ckpt)
        late = [landed[n] - due[n] for n in due]
        self.attempted += len(due)
        fresh = []
        for n, d in due.items():
            if n in first and first[n] in commits:
                fresh.append(commits[first[n]][1] - d)
            else:
                self.failed += 1
        last_visible = max(commits[first[n]][1] for n in due if n in first)
        events = n_events([os.path.join(log_dir, n) for n in due])
        tail_p, tail_v = tail_percentile(fresh)
        self.details.update(
            batches=len(progress), window_files=len(due), window_events=events,
            lateness_p50_s=median(late), lateness_max_s=max(late),
            lateness_bound_s=LATENESS_BOUND_S,
            # staleness of the lake behind the log: only the open loop
            # measures it (a closed loop has every file due at once)
            freshness_p50_s=median(fresh), freshness_tail_s=tail_v,
            freshness_tail_percentile=tail_p, freshness_n=len(fresh),
        )
        if max(late) > LATENESS_BOUND_S:
            self.details["invalid"] = f"generator ran {max(late):.3f}s late"
        self.attempted += len(progress)
        self.check(tbl, s["preload"] + parquet_files(log_dir))
        self.tracer.stream = {"t0": t0, "files": due, "first": first, "commits": commits,
                              "landed": landed, "warm_batches": warm_batches}
        self.tracer.table_root, self.tracer.v_range = tbl.root, (s["v_preload"], tbl.current_version())
        return {
            "ev_per_s": events / (last_visible - t0),
            "batch_walls": [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress],
            "table": tbl,
        }


#: the end-to-end metrics every untraced run prints, in BENCHMARK.json order
END_TO_END: list[tuple[str, str]] = [
    ("setup_s", "s"),
    ("ev_per_s", "events/s"),
    ("batch_wall_p50_s", "s"),
    ("peak_rss_mb", "MB"),
]


def end_to_end(run: Run, out: dict) -> dict[str, tuple[float, str]]:
    run.details.update(
        batch_walls_s=[round(w, 4) for w in out["batch_walls"]],
        setup_samples_s=[round(s, 4) for s in run.setup_samples],
        peak_rss_java_mb=round(run.rss.peak_java_kb / 1024.0, 1),
        peak_rss_processes=run.rss.peak_procs,
    )
    values = {
        "setup_s": median(run.setup_samples),
        "ev_per_s": out["ev_per_s"],
        "batch_wall_p50_s": median(out["batch_walls"]),
        "peak_rss_mb": run.rss.peak_kb / 1024.0,
    }
    return {k: (values[k], unit) for k, unit in END_TO_END}


WORKLOADS = ["bulk_load", "incr_upsert", "fresh_tail"]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    help="one of %s, or a comma-separated list (untraced only)" % WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--geometry", choices=sorted(GEOMETRIES), default="default")
    ap.add_argument("--cores", type=int, default=0)
    ap.add_argument("--runner", choices=["replay", "stateful"], default="replay")
    a = ap.parse_args(argv)
    names = a.workload.split(",")
    if any(n not in WORKLOADS for n in names) or (a.trace and len(names) > 1):
        ap.error(f"--workload: one traced workload or a list of {WORKLOADS}")

    geo = GEOMETRIES[a.geometry]
    cores = a.cores or len(os.sched_getaffinity(0))
    rss = RssSampler()
    t0 = time.time()
    from adsimportpipeline_spark.session import get_spark

    heap = os.environ.get("SPARK_DRIVER_MEMORY", "2g")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a driver heap resident from the start: left to grow on demand, its
        # size was bimodal across runs on equal inputs (2.1 vs 3.4 GB peak
        # RSS), so peak_rss_mb measured the collector's sizing policy
        "spark.driver.defaultJavaOptions": f"-Xms{heap} -XX:+AlwaysPreTouch",
    }
    evdir = os.path.join(a.work, "eventlog")
    if a.trace:
        os.makedirs(evdir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": evdir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false",
                     # full scan locations in plan strings: the attribution
                     # tells table, tombstone and log scans apart by path
                     "spark.sql.maxMetadataStringLength": "1000000"})
    spark = get_spark(f"cdcbench-{a.workload}", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.time() - t0
    results = []
    try:
        for name in names:
            tracer = tracing.Tracer(spark, enabled=bool(a.trace))
            run = Run(spark, geo, a.seed, a.seconds, os.path.join(a.work, name), tracer, rss,
                      a.runner)
            with tracer.installed():
                out = getattr(run, name)()
            e2e = end_to_end(run, out)
            layers = tracer.per_layer(out, run) if a.trace else {}
            run.details.update(session_s=round(session_s, 3), cores=cores,
                               geometry=asdict(geo), runner=a.runner)
            results.append({"workload": name, "attempted": run.attempted,
                            "failed": run.failed, "end_to_end": e2e,
                            "per_layer": layers, "details": run.details})
    finally:
        t_stop = time.time()
        spark.stop()
        rss.close()
        for r in results:
            r["details"]["stop_s"] = round(time.time() - t_stop, 3)
    if a.trace:
        r = results[0]
        layers = tracer.attribute_eventlog(evdir, r["per_layer"])
        layers["trace.ev_per_s"] = (r["end_to_end"]["ev_per_s"][0], "events/s")
        r["per_layer"] = layers
    with open(a.out, "w") as f:
        json.dump(results, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())

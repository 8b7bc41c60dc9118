"""CDC ingest benchmark: one workload, one seed, one JSON result line.

    python3 cdcbench/run.py --workload {bulk_load,incr_upsert,fresh_tail} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  The workload runs in its own short-lived
child process (``workloads.py``) with all scratch files, Spark local dirs
and temp files under ``.cdcbench_work/`` in the checkout, which is removed
afterwards.  The last line of standard output is the result; the line
before it carries run details (hardware, steal, generator lateness,
``failed_frac``, sample counts).

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separately traced run.  Exit codes: 0 ok, 1 the correctness
gate failed (result printed with ``correct: false``), 2 the program or its
inputs are missing or the child failed, 3 another Spark JVM or pytest is
running, 4 the open-loop generator ran late (run invalid, not slow).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CHILD_TIMEOUT_S = 170.0
RECORD_TIMEOUT_S = 1800.0


def _argv(pid: str) -> list[str]:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().decode(errors="replace").split("\0")
    except OSError:
        return []


def _ancestors() -> set[int]:
    out, pid = set(), os.getpid()
    while pid > 1:
        out.add(pid)
        try:
            with open(f"/proc/{pid}/stat") as f:
                pid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            break
    return out


def busy_others() -> list[str]:
    """Other Spark JVMs or pytest runs: they would share the CPUs."""
    mine = _ancestors()
    found = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) in mine:
            continue
        argv = _argv(d)
        spark_jvm = "org.apache.spark.deploy.SparkSubmit" in argv
        pytest = any(os.path.basename(a) in ("pytest", "py.test") for a in argv[:3])
        if spark_jvm or pytest:
            found.append(f"{d}: {' '.join(argv)[:120]}")
    return found


def cpu_times() -> dict[str, list[int]]:
    with open("/proc/stat") as f:
        return {ln.split()[0]: [int(x) for x in ln.split()[1:]]
                for ln in f if ln.startswith("cpu")}


def cpu_share(a: dict, b: dict, cpus: list[str], field: str) -> float:
    """Share of CPU time on ``cpus`` between two samples spent busy
    (``field='busy'``) or stolen by the hypervisor (``field='steal'``)."""
    tot = part = 0
    for c in cpus:
        d = [y - x for x, y in zip(a[c], b[c])]
        tot += sum(d[:8])
        part += d[7] if field == "steal" else sum(d[:8]) - d[3] - d[4]
    return part / tot if tot else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["bulk_load", "incr_upsert", "fresh_tail", "all"],
                    help="'all': the three in one child process, one result line each "
                         "(a smoke check, not a measurement)")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--geometry", choices=["default", "quick", "reanchor"], default="default",
                    help="input sizes: quick = small smoke-check inputs, reanchor = the "
                         "ROADMAP re-anchor sizes (SEED_RECORD.md)")
    ap.add_argument("--cores", type=int, default=0,
                    help="local[N] (default: all CPUs; SEED_RECORD.md uses 1)")
    ap.add_argument("--runner", choices=["replay", "stateful"], default="replay",
                    help="streaming runner (stateful: the one-off record in SEED_RECORD.md)")
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "adsimportpipeline_spark", "__init__.py")):
        print("cdcbench: adsimportpipeline_spark not found next to cdcbench/", file=sys.stderr)
        return 2
    others = busy_others()
    if others:
        print("cdcbench: refusing to start, other Spark JVM or pytest running:\n  "
              + "\n  ".join(others), file=sys.stderr)
        return 3

    work = os.path.join(ROOT, ".cdcbench_work", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    env = dict(os.environ)
    env.update(
        PYTHONPATH=ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    env.setdefault("SPARK_DRIVER_MEMORY", "2g")
    out = os.path.join(work, "result.json")
    geometry = a.geometry
    if a.workload == "all" and a.trace:
        ap.error("--workload all is untraced only")
    names = "bulk_load,incr_upsert,fresh_tail" if a.workload == "all" else a.workload
    cmd = [sys.executable, os.path.join(HERE, "workloads.py"), "--workload", names,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--out", out, "--geometry", geometry,
           "--cores", str(a.cores), "--runner", a.runner]

    cpus = [f"cpu{c}" for c in sorted(os.sched_getaffinity(0))]
    s0 = cpu_times()
    time.sleep(0.5)
    s1 = cpu_times()
    ambient = cpu_share(s0, s1, cpus, "busy")
    t0 = time.time()
    with open(os.path.join(work, "child.log"), "wb") as log:
        child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                                 start_new_session=True)
        try:
            # record runs (other sizes, fewer cores) may take longer
            record = geometry == "reanchor" or a.cores
            rc = child.wait(timeout=RECORD_TIMEOUT_S if record else CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
        # the JVM and python workers share the child's process group
        _kill_group(child.pid)
    s2 = cpu_times()
    wall = time.time() - t0

    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "child.log"), errors="replace") as f:
            tail = f.read()[-4000:]
        print(f"cdcbench: workload child failed (rc={rc}, {wall:.1f}s)\n{tail}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    with open(out) as f:
        results = json.load(f)
    shutil.rmtree(work, ignore_errors=True)

    steal = cpu_share(s1, s2, cpus, "steal")
    rc = 0
    for res in results:
        rc = max(rc, _report(res, a, ambient, steal, len(cpus), wall))
    return rc


def _report(res: dict, a, ambient: float, steal: float, n_cpus: int, wall: float) -> int:
    """Print the details line and the result line of one workload."""
    details = res["details"]
    details.update(
        workload=res["workload"], seed=a.seed, seconds=a.seconds, trace=a.trace,
        nproc=os.cpu_count(), cpus=n_cpus, ambient_busy=round(ambient, 4),
        steal=round(steal, 4), child_wall_s=round(wall, 2),
        failed_frac=res["failed"] / max(res["attempted"], 1),
    )
    metrics = res["per_layer"] if a.trace else res["end_to_end"]
    bad = [k for k, (v, _u) in metrics.items() if not math.isfinite(v)]
    if bad:
        details["non_finite"] = bad
    print(json.dumps({"details": details}))
    if "invalid" in details:
        print(f"cdcbench: run invalid: {details['invalid']}", file=sys.stderr)
        return 4
    correct = res["failed"] == 0 and not bad
    print(json.dumps({
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]) + (1 if bad else 0),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


def _kill_group(pgid: int) -> None:
    """SIGKILL whatever is left of the child's process group and wait until
    it is gone."""
    for _ in range(100):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        except PermissionError:
            return
        time.sleep(0.1)


if __name__ == "__main__":
    sys.exit(main())

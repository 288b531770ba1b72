"""Seeded batch benchmark for the pagerank_spark engine.

    python3 perfbench/run.py --workload crawl_rank --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload in turn

Closed loop, one client: each job is a fresh process (job.py) on
local[min(4, nproc)] with a pinned shuffle-partition count, started only
after the previous one ended, for ``--seconds`` and at least once. Inputs
are generated from ``--seed`` once and cached (inputs.py); the engine sees
only the generated tables. Every job's outputs are checked against the
oracle answers computed with the inputs.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` (layer calls plus checks) and ``metrics``, each metric the median
over the run's jobs. ``--trace 0`` reports the end-to-end metrics; ``--trace
1`` runs a traced and an untraced job and reports the per-layer metrics of
the traced one (README.md lists both).
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("crawl_rank", "rmat_analytics")

MAX_JOBS = 8
DEADLINE_S = 165  # every job is stopped by then, so a run ends within 180 s
WALL_LIMIT_S = 150  # start no optional job that would likely end after this
DRIVER_MEM = "1g"
PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>

END_TO_END = {  # name -> unit; job.py's result keys
    "setup_s": "s",
    "job_s": "s",
    "build_s": "s",
    "analytics_s": "s",
    "peak_rss_mb": "MB",
}
# workload-specific times, printed on stderr with the summary
DETAIL = {"rank_s": "s", "rank_csr_s": "s", "query_s": "s", "pages_per_s": "1/s",
          "structure_s": "s"}


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _tree_rss_mb(pid: int) -> float:
    """Resident memory of ``pid`` and all its descendants."""
    total, stack, page = 0, [pid], os.sysconf("SC_PAGE_SIZE")
    while stack:
        p = stack.pop()
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
        stack.extend(_children(p))
    return total / (1024.0 * 1024.0)


class RssSampler(threading.Thread):
    def __init__(self, pid: int, interval: float = 0.2):
        super().__init__(daemon=True)
        self.pid, self.interval, self.peak = pid, interval, 0.0
        self._done = threading.Event()

    def run(self):
        while not self._done.is_set():
            self.peak = max(self.peak, _tree_rss_mb(self.pid))
            self._done.wait(self.interval)

    def stop(self):
        self._done.set()
        self.join()


def _descendants(pid: int) -> list[int]:
    out, stack = [], _children(pid)
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(_children(p))
    return out


def _reap() -> None:
    """Collect every child of this process that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def become_subreaper() -> None:
    """Make this process the child subreaper of everything it starts, so an
    orphan (PySpark's worker daemon sets up a process group of its own and
    can outlive the JVM) is re-parented here instead of to init, and
    stop_descendants still finds it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_descendants() -> None:
    """Terminate every process this run started and wait until each ended."""
    me = os.getpid()
    for sig, wait in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        _reap()
        pids = _descendants(me)
        if not pids:
            return
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait
        while time.monotonic() < deadline:
            _reap()
            if not _descendants(me):
                return
            time.sleep(0.05)


def job_env(tmp: str) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env.update({
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
        "PAGERANK_CSR_CACHE_DIR": os.path.join(tmp, "csr-node-cache"),
    })
    return env


def run_job(workload: str, inp: str, k: int, log, trace: bool, edge_check: bool,
            timeout: float) -> dict:
    scratch = os.path.join(WORK, "jobs", f"{os.getpid()}-{k}")
    shutil.rmtree(scratch, ignore_errors=True)
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    out = os.path.join(scratch, "result.json")
    spawned = time.time()
    cmd = [sys.executable, os.path.join(HERE, "job.py"), "--workload", workload,
           "--inputs", inp, "--scratch", scratch, "--spawned", repr(spawned),
           "--trace", str(int(trace)), "--edge-check", str(int(edge_check)), "--out", out]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=job_env(tmp), stdout=log, stderr=log)
    sampler = RssSampler(proc.pid)
    sampler.start()
    try:
        code = proc.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        sampler.stop()
        stop_descendants()
        proc.wait()
    result = {}
    if code == 0 and os.path.exists(out):
        with open(out) as f:
            result = json.load(f)
    spans = os.path.join(scratch, "spans.jsonl")
    if os.path.exists(spans):
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        shutil.copy(spans, os.path.join(WORK, "traces", f"{workload}-{os.path.basename(scratch)}.jsonl"))
    result.update(exit_code=code, wall_s=time.time() - spawned, traced=trace,
                  peak_rss_mb=sampler.peak)
    shutil.rmtree(scratch, ignore_errors=True)
    return result


def run_workload(workload: str, seed: int, seconds: float, trace: bool, t_start: float) -> dict:
    """Jobs in a closed loop for ``seconds`` (measured from the first job;
    input generation before it is not counted)."""
    import inputs

    inp, manifest = inputs.prepare(WORK, workload, seed)
    t0 = time.monotonic()
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    history = os.path.join(WORK, "history", os.path.basename(inp) + ".json")
    untraced = []  # job_s of earlier untraced runs on these very inputs
    if os.path.exists(history):
        with open(history) as f:
            untraced = json.load(f)
    jobs: list[dict] = []
    # a traced run alternates traced and untraced jobs, traced first; the
    # untraced job gives the tracing overhead unless earlier runs did
    min_jobs = 2 if trace and not untraced else 1
    with open(os.path.join(WORK, "logs", f"{workload}-seed{seed}.log"), "w") as log:
        while True:
            k = len(jobs)
            jobs.append(run_job(workload, inp, k, log, trace and k % 2 == 0, k == 0,
                                DEADLINE_S - (time.monotonic() - t_start)))
            if len(jobs) < min_jobs:
                continue
            last = jobs[-1]["wall_s"]
            if (len(jobs) >= MAX_JOBS or time.monotonic() - t0 + last > seconds
                    or time.monotonic() - t_start + 1.2 * last > WALL_LIMIT_S):
                break
    if not trace:
        os.makedirs(os.path.dirname(history), exist_ok=True)
        with open(history, "w") as f:
            json.dump(untraced + [j["job_s"] for j in jobs if "job_s" in j], f)
    return summarize(manifest, jobs, trace, untraced)


def _median(jobs: list[dict], key: str) -> float | None:
    vals = [j[key] for j in jobs if key in j]
    return statistics.median(vals) if vals else None


def summarize(manifest: dict, jobs: list[dict], trace: bool, untraced: list[float]) -> dict:
    from spans import metric_names, unit

    attempted = failed = 0
    for j in jobs:
        checks = j.get("checks", [])
        ok = j.get("exit_code") == 0 and "job_s" in j
        attempted += j.get("calls", 0) + len(checks) + (0 if ok else 1)
        failed += j.get("calls_failed", 0) + sum(1 for c in checks if not c[1]) + (0 if ok else 1)
    plain = [j for j in jobs if not j["traced"]]
    metrics: dict = {}
    missing = []
    if trace:
        traced = [j for j in jobs if j["traced"] and "layers" in j]
        for name in metric_names():
            if name == "trace.overhead_s":
                a = _median(traced, "job_s")
                b = _median(plain, "job_s")
                if b is None and untraced:
                    b = statistics.median(untraced)
                value = None if a is None or b is None else a - b
            else:
                vals = [j["layers"][name] for j in traced]
                value = statistics.median(vals) if vals else None
            if value is None:
                missing.append(name)
            else:
                metrics[name] = {"value": value, "unit": unit(name)}
    else:
        for name, unit in END_TO_END.items():
            value = _median(plain, name)
            if value is None:
                missing.append(name)
            else:
                metrics[name] = {"value": value, "unit": unit}
    details = {k: _median(plain, k) for k in DETAIL if _median(plain, k) is not None}
    return {
        "correct": failed == 0 and not missing,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": metrics,
        "jobs": jobs,
        "details": details,
        "manifest": manifest,
    }


def report(workload: str, seed: int, res: dict) -> None:
    """Human-readable summary on stderr."""
    err = sys.stderr
    ok_jobs = [j for j in res["jobs"] if "job_s" in j]
    print(f"[{workload} seed={seed}] processes={len(res['jobs'])} jobs_ok={len(ok_jobs)} "
          f"attempted={res['attempted']} failed={res['failed']} "
          f"failed_frac={res['failed'] / res['attempted']:.4f} "
          f"job_walls={[round(j['wall_s'], 1) for j in res['jobs']]}", file=err)
    env = next((j["env"] for j in res["jobs"] if "env" in j), {})
    print("  env " + " ".join(f"{k}={v}" for k, v in env.items()), file=err)
    for name, m in res["metrics"].items():
        print(f"  {name:<36} {m['value']:12.4f} {m['unit']}", file=err)
    for name, value in res["details"].items():
        print(f"  {name:<36} {value:12.4f} {DETAIL[name]}", file=err)
    for j in res["jobs"]:
        for c in j.get("checks", []):
            if not c[1]:
                print(f"  CHECK FAILED {c[0]}: {c[2]}", file=err)
        for e in j.get("errors", []):
            print("  ERROR " + e.strip().splitlines()[-1], file=err)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a terminated run still stops what it started (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "pagerank_spark", "__init__.py")):
        print(f"perfbench: no pagerank_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    become_subreaper()
    names = WORKLOADS if a.workload == "all" else (a.workload,)
    results = {}
    try:
        for name in names:
            results[name] = run_workload(name, a.seed, a.seconds, bool(a.trace), time.monotonic())
            report(name, a.seed, results[name])
    finally:
        stop_descendants()
    if a.workload == "all":
        line = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
        }
    else:
        r = results[a.workload]
        line = {k: r[k] for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

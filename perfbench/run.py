"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It starts ``perfbench/workloads.py`` as a
child process in its own session, pinned to cores 0-3 and with the
workload's Spark environment set; samples the resident memory of the
child's process tree (driver Python, driver JVM, Python workers); stops
every process of the tree; and prints two JSON lines: the workload's
detail (every named metric with its unit, the environment and the host
conditions), then the result object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of BENCHMARK.json, with ``--trace 1`` its
per-layer ones. Scratch files stay under ``.bench_build/perfbench``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = "0,1,2,3"
DRIVER_MEM = "3g"
CHILD_TIMEOUT_S = 165


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid:
            pids.append(int(d))
    return pids


def _rss_by_process(pids: list[int]) -> dict[int, tuple[str, int]]:
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/statm") as f:
                out[pid] = (comm, int(f.read().split()[1])
                            * os.sysconf("SC_PAGE_SIZE"))
        except OSError:
            pass  # exited between listing and reading
    return out


class RssSampler(threading.Thread):
    """Peak of the summed RSS (MB) of the driver JVM, the driver Python
    (the group leader) and the Python workers, sampled every 100 ms, with
    its split at the peak. Group membership is re-read every second. The
    driver JVM is the pid the workload writes to ``jvm_pid_file`` once its
    session is up (spark-submit's launcher JVM is a different, short-lived
    process). Other processes of the group are left out: a process the
    JVM forks shares its pages until it execs, and counting it would add
    the whole JVM heap again for that instant."""

    def __init__(self, pgid: int, jvm_pid_file: str):
        super().__init__(daemon=True)
        self.pgid, self.peak, self.split, self.jvm = pgid, 0.0, {}, None
        self.jvm_pid_file = jvm_pid_file
        self._stop_evt = threading.Event()

    def run(self) -> None:
        pids, n = [], 0
        while not self._stop_evt.wait(0.1):
            if n % 10 == 0:  # group membership: a /proc scan, once a second
                pids = _group_pids(self.pgid)
                if self.jvm is None and os.path.exists(self.jvm_pid_file):
                    with open(self.jvm_pid_file) as f:
                        self.jvm = int(f.read())
            n += 1
            procs = _rss_by_process(pids)
            split = {"jvm_mb": 0.0, "driver_python_mb": 0.0,
                     "workers_mb": 0.0, "workers": 0}
            for pid, (comm, rss) in procs.items():
                if pid == self.jvm:
                    split["jvm_mb"] += rss / 2**20
                elif pid == self.pgid:
                    split["driver_python_mb"] += rss / 2**20
                elif comm.startswith("python"):
                    split["workers_mb"] += rss / 2**20
                    split["workers"] += 1
            total = sum(v for k, v in split.items() if k.endswith("_mb"))
            if total > self.peak:
                self.peak = total
                self.split = split

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


_GC_HEAP = re.compile(r"(\d+)([KMG])->(\d+)([KMG])\((\d+)([KMG])\)")
_MB = {"K": 1 / 1024, "M": 1, "G": 1024}


def _gc_heap(path: str) -> dict:
    """Peaks (MB) over the driver JVM's GC log: heap used before a
    collection, live after it, and committed."""
    peak = {"used_mb": 0.0, "after_gc_mb": 0.0, "committed_mb": 0.0,
            "collections": 0}
    if os.path.exists(path):
        with open(path) as f:
            for m in _GC_HEAP.finditer(f.read()):
                v = [float(m[i]) * _MB[m[i + 1]] for i in (1, 3, 5)]
                for k, x in zip(("used_mb", "after_gc_mb", "committed_mb"), v):
                    peak[k] = max(peak[k], x)
                peak["collections"] += 1
    return peak


def _reap_group(pgid: int) -> None:
    """SIGKILL whatever is left of the group and wait until it is gone."""
    deadline = time.time() + 10
    while time.time() < deadline:
        left = _group_pids(pgid)
        if not left:
            return
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="minimal input sizes (perfbench/smoke.py)")
    ap.add_argument("--tables", metavar="DIR",
                    help="pipeline_queries: read the tables from DIR (e.g. "
                    "the pipeline suite's sf0.1 test tables) instead of "
                    "generating them from the seed")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "crawler_to_md_spark")):
        print("perfbench: no crawler_to_md_spark package next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".bench_build", "perfbench")
    tmp = os.path.join(work, "tmp",
                       f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    jvm_pid_file = os.path.join(tmp, "jvm.pid")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT, "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(len(CPUS.split(","))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PERFBENCH_T_SPAWN": repr(time.time()),
        "PERFBENCH_JVM_PID_FILE": jvm_pid_file,
        "PERFBENCH_GC_LOG": os.path.join(tmp, "gc.log"),
    })
    out = os.path.join(work, f"result-{args.workload}-{args.seed}.json")
    for stale in (out, jvm_pid_file):
        if os.path.exists(stale):
            os.remove(stale)
    cmd = [sys.executable, os.path.join(HERE, "workloads.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cpus", CPUS, "--out", out]
    if args.smoke:
        cmd.append("--smoke")
    if args.tables:
        cmd += ["--tables", os.path.abspath(args.tables)]
    child = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=sys.stderr,
                             start_new_session=True)
    sampler = RssSampler(child.pid, jvm_pid_file)
    sampler.start()
    try:
        code = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    sampler.stop()
    _reap_group(child.pid)
    child.wait()
    heap = _gc_heap(os.path.join(tmp, "gc.log"))
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        print(f"perfbench: workload child failed (exit {code})",
              file=sys.stderr)
        return 1
    if not sampler.split.get("jvm_mb"):
        print("perfbench: the driver JVM was never sampled; peak_rss_mb "
              "would miss it", file=sys.stderr)
        return 1
    with open(out) as f:
        res = json.load(f)
    memory = {"peak_rss_mb": sampler.peak,
              "heap_peak_mb": heap["used_mb"],
              "heap_after_gc_mb": heap["after_gc_mb"]}
    named = {k: {"value": v, "unit": u} for k, (v, u) in res["named"].items()}
    named["setup_s"] = {"value": res["setup_s"], "unit": "s"}
    named["peak_exec_mem_mb"] = {"value": res["e2e"]["peak_exec_mem_mb"],
                                 "unit": "MB"}
    named.update({k: {"value": v, "unit": "MB"} for k, v in memory.items()})
    print(json.dumps({"detail": {
        "workload": args.workload, "seed": args.seed, "metrics": named,
        "env": res["env"], "c1_leg": res.get("c1_leg"), "host": res["host"],
        "checks": res["checks"],
        "session_start_s": res["session_start_s"],
        "session_warmup_s": res["session_warmup_s"],
        "peak_rss_split": sampler.split, "gc_heap": heap,
        "op_seconds": res.get("op_seconds"),
        "layer_self_s": res.get("layer_self_s"),
        "spans_path": res.get("spans_path")}}, default=str))
    values = {"setup_s": res["setup_s"], **res["e2e"]}
    listed = spec["end_to_end"]
    if args.trace:
        values = {"session.start_s": res["session_start_s"],
                  "session.warmup_s": res["session_warmup_s"],
                  **{f"session.{k}": v for k, v in memory.items()}}
        values.update(res["layers"])
        listed = spec["per_layer"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0) or 0.0),
                           "unit": m["unit"]} for m in listed}
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

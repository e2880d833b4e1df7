"""Benchmark entry point.

    python3 perfbench/run.py --workload {serve,batch,ingest} --seed N \
        --seconds S --trace {0,1} [--size {full,smoke}]

Run from the root of a checkout. Starts ``bench.py`` in a process
session of its own with every scratch file under ``.bench_work/``,
samples the summed resident memory of the whole process tree (Python
driver, JVM, Python workers) while it runs, then stops and reaps every
process of that session. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``peak_rss_mb`` is
added to the end-to-end metrics here.

Exits 0 only when the run finished and every correctness gate held;
with a gate mismatch it still prints the result (``"correct": false``)
and exits 2. Any other failure exits non-zero without a result.
"""

from __future__ import annotations

import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
#: a run, set-up included, must end well inside 180 s; the smoke size
#: runs every workload twice in one process
TIMEOUT_S = {"full": 170, "smoke": 900}
_PAGE = os.sysconf("SC_PAGE_SIZE")
_PR_SET_CHILD_SUBREAPER = 36


def session_procs(sid: int) -> "dict[int, tuple[str, int]]":
    """pid -> (command name, resident bytes) of every process in
    session ``sid``. A child caught between spawn and exec shares its
    parent's memory (same resident size as the parent) and is left
    out, so the JVM launching a Python worker is not counted twice."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue
        fields = tail.split()
        if int(fields[3]) == sid:
            procs[int(pid)] = (head.split("(", 1)[1], int(fields[1]),
                               int(fields[21]) * _PAGE)
    return {pid: (name, rss) for pid, (name, ppid, rss) in procs.items()
            if not (ppid in procs and procs[ppid][2] == rss)}


class RssSampler(threading.Thread):
    """Peak of the summed RSS of a process session, sampled every 50 ms."""

    def __init__(self, sid: int) -> None:
        super().__init__(daemon=True)
        self.sid = sid
        self.peak = 0
        self.at_peak: list = []  # (MB, command) of each process at the peak
        self.stop = threading.Event()

    def run(self) -> None:
        while not self.stop.wait(0.05):
            procs = session_procs(self.sid).values()
            total = sum(rss for _, rss in procs)
            if total > self.peak:
                self.peak = total
                self.at_peak = sorted((round(rss / 1e6), name) for name, rss in procs)


def reap(sid: int) -> None:
    """Stop every process left in session ``sid`` and wait for each:
    this process is a child subreaper, so orphans become its children."""
    deadline = time.monotonic() + 30
    sig = signal.SIGTERM
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        left = session_procs(sid)
        if not left:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def main() -> int:
    root = os.getcwd()
    work = os.path.join(root, ".bench_work", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYTHONUNBUFFERED="1",
    )
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    cmd = [sys.executable, os.path.join(HERE, "bench.py"), *sys.argv[1:],
           "--work", work]
    child = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, text=True,
                             start_new_session=True)
    sampler = RssSampler(child.pid)
    sampler.start()
    size = "smoke" if "smoke" in sys.argv else "full"
    timer = threading.Timer(TIMEOUT_S[size], lambda: os.killpg(child.pid, signal.SIGKILL))
    timer.start()
    results = []
    try:
        for line in child.stdout:
            if line.startswith("RESULT "):
                results.append(json.loads(line[len("RESULT "):]))
            else:
                sys.stdout.write(line)
        rc = child.wait()
    finally:
        timer.cancel()
        sampler.stop.set()
        sampler.join()
        reap(child.pid)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is using it
    if rc not in (0, 2) or not results:
        print(f"# benchmark process failed with exit code {rc}", file=sys.stderr)
        return rc or 1
    print("# peak rss by process " + json.dumps(sampler.at_peak))
    peak = {"value": sampler.peak / 1e6, "unit": "MB"}
    for res in results:
        if "setup_s" in res["metrics"]:
            res["metrics"]["peak_rss_mb"] = peak
    for res in results[:-1]:
        print("# result " + json.dumps(res))
    print(json.dumps(results[-1]), flush=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())

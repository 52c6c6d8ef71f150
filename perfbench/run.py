"""Repository benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads are listed in ``BENCHMARK.json``.
The workload runs in a child process with ``PYTHONPATH`` set to the
repository root and its working directory in a temporary root under
``.perfbench_tmp/`` (Spark warehouse, local dirs, archives and event logs
all land there), so Python workers import ``tstore_spark`` by name and
nothing is written into the source tree. The root sits inside the checkout
because the benchmark reads and writes nowhere else; it is removed on exit,
after every process the child started has ended, and a root left behind by a
killed launcher is removed by the next run.

The last line of standard output is the result object; the line before it
holds this launcher's record of the host (``nproc``, load average at start
and end) and the line before that the workload's own figures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEADLINE_S = 165  # the whole run, clean-up included, must end within 180 s


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _stop_group(pgid: int, grace_s: float) -> None:
    """Wait up to ``grace_s`` for every process in the child's group to end,
    then terminate, then kill the stragglers."""
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 3), (signal.SIGKILL, 3)):
        if sig is not None and _group_alive(pgid):
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        t_end = time.time() + wait_s
        while _group_alive(pgid) and time.time() < t_end:
            time.sleep(0.1)
        if not _group_alive(pgid):
            return


def _remove_stale_roots(parent: str) -> None:
    """Removes the temporary roots of runs whose launcher is gone (killed
    before its clean-up)."""
    for name in os.listdir(parent) if os.path.isdir(parent) else []:
        pid = name.removeprefix("run-")
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        workloads = [w["name"] for w in json.load(fh)["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full", help="smoke: tiny inputs for the tests")
    a = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "tstore_spark", "__init__.py")):
        print(f"perfbench: no tstore_spark package under {ROOT}; run from a repository checkout", file=sys.stderr)
        return 2

    host = {"nproc": os.cpu_count(), "loadavg_start": _loadavg()}
    _remove_stale_roots(os.path.join(ROOT, ".perfbench_tmp"))
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update(
        {
            "PYTHONPATH": ROOT,
            "TZ": "UTC",
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "SPARK_GRAFT_JAVA_OPTS": "-Xms2g -XX:+AlwaysPreTouch",
            # every JVM (the spark-submit launcher too): temp files under tmp,
            # no hsperfdata file in the system temp directory
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYTHONDONTWRITEBYTECODE": "1",
        }
    )
    cmd = [
        sys.executable, "-m", "perfbench.workloads",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--tmp", tmp, "--size", a.size,
    ]
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=subprocess.PIPE, text=True, start_new_session=True)
    grace_s = 10.0
    try:
        out, _ = proc.communicate(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        out, grace_s = "", 0.0
        print(f"perfbench: workload exceeded {DEADLINE_S} s", file=sys.stderr)
    finally:
        host["child_s"] = time.perf_counter() - t0
        _stop_group(proc.pid, grace_s)
        proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass  # another run's root is still there
        host["cleanup_s"] = time.perf_counter() - t0 - host["child_s"]

    lines = [ln for ln in (out or "").splitlines() if ln.strip()]
    if proc.returncode != 0 or len(lines) < 2:
        print(f"perfbench: workload process failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    host["loadavg_end"] = _loadavg()
    print(lines[-2])
    print(json.dumps(host))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

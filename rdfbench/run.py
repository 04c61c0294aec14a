"""Run one RDF store benchmark workload and print its result line.

    python3 rdfbench/run.py --workload {sparql_read,update_chain} \
        --seed N --seconds S --trace {0,1}

Run it from the root of a checkout of the repository. The workload runs in
a child process whose Spark session is pinned through the environment
variables the engine reads: ``SPARK_GRAFT_CPUS`` (half the CPUs this
process may use), ``SPARK_DRIVER_MEMORY`` (a quarter of host RAM, at most 2 GiB),
``SPARK_LOCAL_DIRS``, and ``PYTHONPATH`` so Spark's Python workers import
the engine. Everything the run writes stays under ``.rdfbench_work/`` in
the checkout and is removed at exit; a traced run keeps its spans in
``.rdfbench_out/``. The last line of standard output is the result object;
the exit code is not 0 if the run failed, and then no result is printed.
"""

from __future__ import annotations

import argparse
import ctypes
import os
import shutil
import signal
import subprocess
import sys
import time

TIMEOUT_S = 160
PR_SET_CHILD_SUBREAPER = 36


def driver_memory() -> str:
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_kib = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
    return f"{max(512, min(2048, total_kib // 4 // 1024))}m"


def spark_cpus() -> int:
    """Half the CPUs this process may use: the other half runs the client,
    the driver's planning thread, the JVM's compiler and collector and
    the Python UDF workers, which would otherwise queue behind the task
    threads."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def reap_all(pgid: int) -> None:
    """Stop what is left of the child's process group and wait for every
    descendant (this process adopts them as a child subreaper)."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            time.sleep(0.05)


def main() -> int:
    t0 = time.time()
    ap = argparse.ArgumentParser(description="RDF store benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "rippledb_spark")):
        print("rdfbench: run from the root of a repository checkout", file=sys.stderr)
        return 2
    work = os.path.join(root, ".rdfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out_dir = os.path.join(root, ".rdfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(spark_cpus()),
        SPARK_DRIVER_MEMORY=driver_memory(),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYTHONPATH=os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        TMPDIR=tmp,
        # every JVM the run starts, spark-submit's launcher included
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        RDFBENCH_T0=repr(t0),
    )
    cmd = [
        sys.executable, "-m", "rdfbench.workloads",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work,
        "--trace-out", os.path.join(out_dir, f"trace-{a.workload}-{a.seed}.json"),
    ]
    pinned = ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "SPARK_LOCAL_DIRS", "PYTHONPATH")
    print("rdfbench: session pinned with "
          + " ".join(f"{k}={env[k]}" for k in pinned), file=sys.stderr, flush=True)
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    # the child runs in the scratch directory so Spark's stray files
    # (spark-warehouse, metastore) land there too
    proc = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=subprocess.PIPE,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"rdfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        out, code = "", 124
    else:
        code = proc.returncode
    finally:
        reap_all(proc.pid)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        print(f"rdfbench: workload exited with code {code}", file=sys.stderr)
        return code or 1
    print(lines[-1], flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

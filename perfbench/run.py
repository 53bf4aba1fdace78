"""golucene_spark benchmark: build, serve and churn over a seeded corpus.

    python3 perfbench/run.py --workload {build_bulk,query_serve,nrt_churn} \
        --seed N --seconds S --trace {0,1}

Run from the repository root.  Each run gets its own directory under
``.perfbench_runs/`` with a fresh TMPDIR (so the tokenizer's
``golucene_wb_table_v1.npy`` cache never carries over), a fresh
SPARK_LOCAL_DIRS and fresh index directories; the worker PYTHONPATH and
SPARK_GRAFT_CPUS=$(nproc) are exported here, so the run works from any
cwd.  The run itself (perfbench/workload.py) executes in a child
process group that is killed and awaited before this script exits.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).  The
line before it records the engine identity, the engine settings pinned
below (``engine_env``), seed, corpus sizes, sample counts and
failed_op_ratio.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
TIMEOUT_S = 170


def stop_group(pgid: int) -> None:
    """SIGKILL every process left in the group and wait until none is."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    for _ in range(200):
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "golucene_spark" / "__init__.py").is_file():
        print(f"no golucene_spark package under {ROOT}", file=sys.stderr)
        return 2

    rundir = ROOT / ".perfbench_runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(rundir, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        (rundir / sub).mkdir(parents=True)
    env = dict(os.environ)
    env.update(
        TMPDIR=str(rundir / "tmp"),
        SPARK_LOCAL_DIRS=str(rundir / "spark-local"),
        PYTHONPATH=os.pathsep.join(
            [str(ROOT)] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        # the 48k-doc synthetic warm build costs ~27 s per process; the
        # JIT warm-up it buys lands in the first build instead
        GOLUCENE_WARM_DOCS="0",
        # a 2 GB driver heap holds these few-thousand-doc indexes; the
        # 10 GB default only adds page-faulted heap (RSS 3-5 GB a run)
        SPARK_GRAFT_DRIVER_MEM="2g",
        PYTHONHASHSEED="0",  # same str hashing in the driver and every worker
    )
    cmd = [sys.executable, str(ROOT / "perfbench" / "workload.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--rundir", str(rundir), "--spawned-at", repr(time.time())]
    # SIGTERM unwinds through the finally below, which stops the group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    child = subprocess.Popen(cmd, env=env, cwd=str(ROOT), stdout=subprocess.PIPE,
                             start_new_session=True, text=True)
    try:
        out, _ = child.communicate(timeout=TIMEOUT_S)
        code = child.returncode
    except subprocess.TimeoutExpired:
        print(f"run exceeded {TIMEOUT_S} s", file=sys.stderr)
        out, code = "", 3
    finally:
        stop_group(child.pid)
        child.wait()
        shutil.rmtree(rundir, ignore_errors=True)
    if code != 0:
        print(f"workload exited with {code}", file=sys.stderr)
        sys.stderr.write(out)
        return code or 1
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())

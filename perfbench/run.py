#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload dedup_batch --seed 1 --seconds 12 --trace 0

Builds the program and the benchmark driver from source (perfbench/build.py),
then runs graft.perfbench.PerfBench in one JVM at local[nproc] with the
heap rule min(8g, MemTotal/2). Scratch state lives under
.bench_build/work/<pid> and is removed when the run ends. `--size tiny`
selects the smoke-test profile.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("dedup_batch", "dedup_incremental", "search")
TIMEOUT_S = 170


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    a = ap.parse_args()

    jar = build.build()
    work = build.BUILD / "work" / str(os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = build.java_cmd(jar, work, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--size", a.size], build.cds_flags())
    proc = subprocess.Popen(cmd, cwd=work, env=build.java_env(), stdout=subprocess.PIPE,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stdout.write(out)
        print(f"perfbench: driver exited {proc.returncode} without a result",
              file=sys.stderr)
        return proc.returncode or 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())

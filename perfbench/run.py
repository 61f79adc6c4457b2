"""Benchmark entry point: one workload, one fresh process, one JSON line.

    python3 perfbench/run.py --workload cards_upsert --seed 1 --seconds 10 --trace 0

Run from the repository root.  Workloads: ``cards_upsert``,
``tpch_analytics``, ``llm_curation``.  With ``--trace 0`` the last
stdout line carries the end-to-end metrics; with ``--trace 1`` the
per-layer metrics (the per-op-kind record goes to
``perfbench/results/trace-<workload>.json``).  Every run appends its
record, with host steal, load and canary time, to
``perfbench/results/runs.jsonl``.

Each run gets a private directory under ``perfbench/.work`` that holds
``TMPDIR``, ``SPARK_LOCAL_DIRS``, the artifact warehouse, the card table
and the event log; it is deleted when the run ends, so no run starts
warm from an earlier one.  The measuring process runs in its own
session; when it exits, every process it left behind is terminated and
reaped before this one returns.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("cards_upsert", "tpch_analytics", "llm_curation")
TIMEOUT_S = 170
PR_SET_CHILD_SUBREAPER = 36


def _become_subreaper() -> None:
    """Orphans of the measuring process (the JVM, Python workers) are
    re-parented here instead of to init, so they can be reaped."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _live_children() -> list[int]:
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == me and fields[0] != "Z":
            out.append(int(name))
    return out


def _reap_all(grace_s: float = 20.0) -> None:
    """Wait for every remaining child; TERM then KILL the stragglers."""
    deadline = time.monotonic() + grace_s
    sent = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return
        alive = _live_children()
        if not alive:
            continue  # only zombies left: the next waitpid collects them
        now = time.monotonic()
        sig = signal.SIGKILL if now > deadline else signal.SIGTERM if now > deadline - grace_s / 2 else None
        if sig is not None and sig != sent:
            for pid in alive:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="bench", choices=("bench", "tiny"))
    args = ap.parse_args()

    for need in ("mtg_bulk_database_spark/session.py", "tests/fixtures.py"):
        if not os.path.isfile(os.path.join(REPO, need)):
            print(f"perfbench: {need} not found; run from a full checkout", file=sys.stderr)
            return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    env = dict(os.environ)
    for var, sub in (
        ("TMPDIR", "tmp"),
        ("SPARK_LOCAL_DIRS", "spark-local"),
        ("SPARK_GRAFT_ARTIFACT_WAREHOUSE", "artifacts"),
    ):
        env[var] = os.path.join(work, sub)
        os.makedirs(env[var])
    env["PYTHONDONTWRITEBYTECODE"] = "1"
    # every JVM (the spark-submit launcher too) keeps its temp files here
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData"
    result = os.path.join(work, "result.json")
    log = os.path.join(work, "measure.log")
    _become_subreaper()
    cmd = [
        sys.executable,
        os.path.join(HERE, "measure.py"),
        f"--workload={args.workload}",
        f"--seed={args.seed}",
        f"--seconds={args.seconds}",
        f"--trace={args.trace}",
        f"--scale={args.scale}",
        f"--work={work}",
        f"--result={result}",
        f"--spawn-time={time.time()!r}",
    ]
    try:
        with open(log, "wb") as out:
            child = subprocess.Popen(
                cmd, cwd=work, env=env, stdin=subprocess.DEVNULL, stdout=out,
                stderr=subprocess.STDOUT, start_new_session=True,
            )
            try:
                code = child.wait(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(child.pid, signal.SIGKILL)
                code = child.wait()
                print(f"perfbench: timed out after {TIMEOUT_S} s", file=sys.stderr)
        _reap_all()
        os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
        shutil.copyfile(log, os.path.join(HERE, "results", f"last-{args.workload}.log"))
        if code != 0 or not os.path.isfile(result):
            with open(log, encoding="utf-8", errors="replace") as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            print(f"perfbench: measuring process exited with {code}", file=sys.stderr)
            return 1
        with open(result, encoding="utf-8") as fh:
            line = json.dumps(json.load(fh), separators=(",", ":"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

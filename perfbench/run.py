"""colcrush repo benchmark: one run of one workload.

    python3 perfbench/run.py --workload {ingest,read} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout. The workload runs in a fresh child
process on local[nproc] with a driver heap sized from host RAM; every
file it writes (inputs, datasets, Spark scratch, the native-kernel
build, spans) stays under ``.perfbench/`` in the checkout. After the
child exits, every process it left behind is stopped and waited for.

Stdout: the metrics by name and unit, then, as the last line, one JSON
object {"correct", "attempted", "failed", "metrics"} whose metrics are
BENCHMARK.json's end_to_end list (``--trace 0``) or per_layer list
(``--trace 1``). Each run also appends a provenance-stamped record to
``.perfbench/results.jsonl``. See perfbench/NOTES.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import host  # noqa: E402

CHILD_TIMEOUT_S = 165  # the whole run must end within 180 s


def _session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``."""
    return [
        pid for pid, _, fields in host.proc_stats()
        if int(fields[3]) == sid and fields[0] != "Z"
    ]


def reap_session(sid: int) -> None:
    """Stop every process of the child's session and wait until none is
    left: the JVM, and the Python worker daemons with their workers
    (each daemon moves into a process group of its own, so a group
    kill would miss them)."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + 10.0
        for pid in _session_pids(sid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        while time.monotonic() < deadline:
            if not _session_pids(sid):
                return
            time.sleep(0.05)
    raise RuntimeError(f"processes of session {sid} survived SIGKILL")


def run_child(root: str, args, out: str) -> dict | None:
    work = os.path.join(out, f"run-{os.getpid()}")
    tmp = os.path.join(out, "tmp")
    os.makedirs(work)
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        # mapInArrow workers import colcrush from the checkout
        PYTHONPATH=os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])),
        PYSPARK_PYTHON=sys.executable,
        # temp files, the native-kernel .so and Spark's scratch stay
        # in the checkout (SPARK_LOCAL_DIRS overrides spark.local.dir)
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
    )
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out,
    ]
    proc = subprocess.Popen(
        cmd, cwd=root, env=env, stdout=subprocess.PIPE, start_new_session=True
    )
    try:
        stdout, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"workload exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
        stdout = b""
    finally:
        reap_session(proc.pid)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        print(f"workload exited with {proc.returncode}", file=sys.stderr)
        return None
    for line in reversed(stdout.decode().splitlines()):
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    return None


def contract_metrics(record: dict, spec: list[dict], key: str) -> dict:
    """The metrics BENCHMARK.json lists under ``key``, by name and unit."""
    if key == "end_to_end":
        return {m["name"]: record["end_to_end"][m["name"]] for m in spec}
    return {m["name"]: {"value": record["per_layer"][m["name"]], "unit": m["unit"]}
            for m in spec}


def print_table(record: dict) -> None:
    w = record["workload"]
    for name, m in record["end_to_end"].items():
        v = "n/a" if m["value"] is None else f"{m['value']:.6g}"
        print(f"{w:8s} {name:34s} {v:>14s} {m['unit']}")
    if record.get("lookup_tail"):
        t = record["lookup_tail"]
        print(f"{w:8s} {'lookup_tail_ms is p' + str(t['percentile']):34s} "
              f"{'n=' + str(t['samples']):>14s}")
    for name, v in sorted(record.get("per_layer", {}).items()):
        print(f"{w:8s} {name:34s} {v:14.6g}")
    for layer, row in sorted(record.get("layer_self_s", {}).items()):
        print(f"{w:8s} self_s.{layer:27s} {row['self_s']:14.6g} s "
              f"({row['calls']} calls, total {row['total_s']:.6g} s)")
    for why in record["failures"]:
        print(f"{w:8s} FAILED: {why}")


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "--workload", required=True, choices=[w["name"] for w in spec["workloads"]]
    )
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    missing = [p for p in ("bench.py", "colcrush") if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(f"not a colcrush checkout ({', '.join(missing)} missing in {root})",
              file=sys.stderr)
        return 2
    key = "per_layer" if args.trace else "end_to_end"
    out = os.path.join(root, ".perfbench")
    os.makedirs(out, exist_ok=True)

    record = run_child(root, args, out)
    if record is None:
        return 1
    record["provenance"] = host.provenance(root)
    with open(os.path.join(out, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")

    print_table(record)
    result = {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": contract_metrics(record, spec[key], key),
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

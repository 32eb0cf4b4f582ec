"""One benchmark run of one workload, in a fresh process.

Started by ``perfbench/run.py`` (which sets PYTHONPATH, TMPDIR and the
Spark local dir to the checkout and reaps every process afterwards).
Prints human-readable metric lines, then ``RESULT {json}`` last.

Each workload has a set-up (untimed, reported as ``setup_s``), a
*round* of operations (the timed unit: ``wall_s`` and ``cpu_s`` are
medians over rounds) and correctness checks made outside the timers.
One client runs the rounds in a closed loop until ``--seconds`` would
be exceeded by another round, always completing at least one.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # set-up is timed from interpreter start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.compute as pc  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402
from colcrush.codecs import _native  # noqa: E402
from colcrush.engine import (  # noqa: E402
    read_decoded,
    scan,
    verify_dataset,
    write_encoded,
)
from colcrush.fixtures import source_code_batch  # noqa: E402
from colcrush.session import get_spark  # noqa: E402
from perfbench import host, layers  # noqa: E402
from perfbench.layers import digest, digest_aggs, disk_bytes  # noqa: E402
from perfbench.status import StatusReader  # noqa: E402
from perfbench.spans import Tracer, layer_table  # noqa: E402

F1_COLS = ["repo", "path", "commit", "lang", "content"]
GROUP_COLS = ["repo", "lang"]
PROJECTED = ["path", "lang"]
BULK_ROWS = 12_000  # ~38 MB raw
APPEND_ROWS = 500  # an append is fixed-cost-bound
APPENDS_PER_ROUND = 4
LOOKUPS_PER_ROUND = 10
MAX_ROUNDS = 3
SF_DIR = os.path.join("perfbench", "data", "sf0.01")


def id_base(seed: int) -> int:
    """First F1 row id of a seed's input. F1 rows are pure functions of
    their id, so the seed shifts the id range; ids stay above 5, the
    hand-written edge rows, so every seed draws the same row mix."""
    return 1_000 + (seed % 100_003) * 1_000_000


def write_f1(work: str, name: str, lo: int, n: int) -> tuple[str, pa.Table]:
    """F1 rows with ids [lo, lo + n) as plain parquet in ``work``."""
    table = pa.Table.from_batches([source_code_batch(np.arange(lo, lo + n))])
    path = os.path.join(work, f"{name}.parquet")
    pq.write_table(table, path)
    return path, table


def add_digests(*ds) -> tuple:
    return sum(d[0] for d in ds), sum(d[1] for d in ds)


def raw_bytes(table: pa.Table) -> int:
    """User bytes of an F1 table: the string payload of its columns."""
    return sum(pc.sum(pc.binary_length(c)).as_py() for c in table.columns)


def tail(samples: list[float]) -> tuple[float | None, int | None]:
    """Highest percentile with at least ten samples beyond it:
    (value, percentile), or (None, None) below eleven samples."""
    n = len(samples)
    if n < 11:
        return None, None
    k = n - 11  # index of the order statistic with ten samples above it
    return sorted(samples)[k], int(100 * (k + 1) / n)


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_PROCESS:7.2f}s] {msg}", file=sys.stderr, flush=True)


class Run:
    """State of one run: session, tracer, status reader, the ops and
    rounds measured, and failures counted."""

    def __init__(self, args):
        self.args = args
        self.work = args.work
        self.seed = args.seed
        self.rng = random.Random(args.seed)
        self.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", bool(args.trace))
        self.ops: list[dict] = []
        self.rounds: list[dict] = []
        self.failures: list[str] = []
        self.extra: dict = {}
        self.spark = None
        self.status = None

    def op(self, kind: str, layer: str, name: str, thunk):
        """Time one operation: a call into ``layer`` through the action
        that consumes its result. In a traced round the status-store
        window around it gives its Python-boundary and shuffle numbers;
        the status reads sit outside the op timer, inside the round."""
        traced = self.tracer.enabled
        mark = self.status.mark() if traced else None
        cpu0 = bench._tree_cpu_sec() if traced else None
        rec = {"kind": kind, "layer": layer, "name": name, "ok": True}
        try:
            with self.tracer.span(f"{layer}.{name}", layer=layer, op=kind) as sp:
                result = thunk()
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            traceback.print_exc()
            rec["ok"] = False
            self.failures.append(f"{kind} raised")
            result = None
        rec["wall_s"] = sp["end"] - sp["start"]
        if traced:
            rec["cpu_s"] = bench._tree_cpu_sec() - cpu0
            rec["status"] = self.status.since(mark)
            sp["status"] = rec["status"]
            sp["cpu_s"] = rec["cpu_s"]
        self.ops.append(rec)
        return rec, result

    def timed_ops(self, kind: str) -> list[float]:
        """Walls of the ``kind`` operations of the untraced rounds."""
        return [
            o["wall_s"] for r in self.rounds if not r["traced"]
            for o in r["ops"] if o["kind"] == kind
        ]

    def fail(self, rec: dict, why: str) -> None:
        if rec["ok"]:
            rec["ok"] = False
            self.failures.append(why)


# ---- inputs and workloads ---------------------------------------------


class Inputs:
    """The run's seeded F1 inputs as plain parquet, with their digests:
    the bulk source and ``n_appends`` append batches from the id range
    right after it."""

    def __init__(self, run: Run, n_appends: int):
        base = id_base(run.seed)
        self.src, self.table = write_f1(run.work, "src", base, BULK_ROWS)
        self.raw = raw_bytes(self.table)
        lo = base + BULK_ROWS
        written = [
            write_f1(run.work, f"append{i}", lo + i * APPEND_ROWS, APPEND_ROWS)
            for i in range(n_appends)
        ]
        self.appends = [p for p, _ in written]
        self.append_tables = [t for _, t in written]
        # every file's digest in one job
        per_file = {
            os.path.basename(r["f"]): (int(r["n"]), int(r["h"]))
            for r in run.spark.read.parquet(self.src, *self.appends)
            .groupBy(F.input_file_name().alias("f"))
            .agg(*digest_aggs(F1_COLS))
            .collect()
        }
        self.src_digest = per_file[os.path.basename(self.src)]
        self.append_digests = [per_file[os.path.basename(p)] for p in self.appends]


def warm_up(run: Run, inputs: Inputs) -> str:
    """Untimed write of the bulk source, one namespaced append, a full
    and a projected read and a lookup, into the dataset returned. This
    boots a Python worker per core, JIT-compiles every engine path the
    workloads take at their real data sizes and builds the native
    kernels on first use. A warm-up of a few hundred rows left the first
    timed bulk write at 2.5x its warm wall and the appends after it
    1.5-2x: that cold cost belongs to set-up."""
    spark = run.spark
    path = os.path.join(run.work, "warm")
    write_encoded(spark.read.parquet(inputs.src), path, mode="overwrite", group_cols=GROUP_COLS)
    write_encoded(
        spark.read.parquet(inputs.appends[0]), path, mode="append",
        namespace="append-0", group_cols=GROUP_COLS,
    )
    digest(read_decoded(spark, path), F1_COLS)
    digest(read_decoded(spark, path, columns=PROJECTED), PROJECTED)
    commit = inputs.table.column("commit")[0].as_py()
    scan(spark, path, filters=[("commit", "==", commit)]).collect()
    return path


class Ingest:
    """Bulk write + namespaced small appends; checked after each round."""

    n_appends = 1 + MAX_ROUNDS * APPENDS_PER_ROUND

    def setup(self, run: Run, inputs: Inputs, warm: str) -> None:
        self.inputs = inputs
        self.ds = os.path.join(run.work, "ds")
        self.n_append = 1  # append 0 went into the warm-up

    def round(self, run: Run) -> None:
        spark = run.spark
        inp = self.inputs
        src = spark.read.parquet(inp.src)
        bulk, _ = run.op(
            "bulk_write", "engine.dataset", "write_encoded",
            lambda: write_encoded(src, self.ds, mode="overwrite", group_cols=GROUP_COLS),
        )
        run.extra.setdefault("stored_ratio", disk_bytes(self.ds)[0] / inp.raw)
        recs, expect = [bulk], [inp.src_digest]
        for _ in range(APPENDS_PER_ROUND):
            i = self.n_append
            self.n_append += 1
            # a distinct namespace per append, as the streaming sink
            # does: appends over existing group keys without one reuse
            # chunk ids (see NOTES.md, known defects)
            df = spark.read.parquet(inp.appends[i])
            rec, _ = run.op(
                "append", "engine.dataset", "write_encoded",
                lambda: write_encoded(
                    df, self.ds, mode="append", namespace=f"append-{i}",
                    group_cols=GROUP_COLS,
                ),
            )
            recs.append(rec)
            expect.append(inp.append_digests[i])
        self.check(run, recs, add_digests(*expect))

    def check(self, run: Run, recs: list[dict], expect: tuple) -> None:
        """The round's dataset must verify and decode to exactly the
        rows written; a mismatch fails every op of the round."""
        with run.tracer.span("engine.dataset.verify_dataset", layer="engine.dataset", op="check"):
            verdict = verify_dataset(run.spark, self.ds)
        with run.tracer.span("engine.dataset.read_decoded", layer="engine.dataset", op="check"):
            got = digest(read_decoded(run.spark, self.ds), F1_COLS)
        for rec in recs:
            if not verdict["ok"]:
                run.fail(rec, f"verify_dataset: {verdict}")
            elif got != expect:
                run.fail(rec, f"decoded digest {got} != written {expect}")

    def report(self, run: Run) -> dict:
        bulk = run.timed_ops("bulk_write")
        app = [w * 1e3 for w in run.timed_ops("append")]
        return {
            "write_mbps": (self.inputs.raw / 1e6 / statistics.median(bulk), "MB/s"),
            "append_p50_ms": (statistics.median(app), "ms"),
            "stored_ratio": (run.extra["stored_ratio"], "ratio"),
        }


class Read:
    """Full read, projected read and bloom-pruned point lookups of the
    warm-up's dataset (the bulk source plus one append); every result is
    checked against the source rows."""

    n_appends = 1

    def setup(self, run: Run, inputs: Inputs, warm: str) -> None:
        self.ds = warm
        self.raw = inputs.raw + raw_bytes(inputs.append_tables[0])
        run.extra["stored_ratio"] = disk_bytes(self.ds)[0] / self.raw
        self.full_digest = add_digests(inputs.src_digest, inputs.append_digests[0])
        self.proj_digest = digest(
            run.spark.read.parquet(inputs.src, inputs.appends[0]), PROJECTED
        )
        rows = pa.concat_tables([inputs.table, inputs.append_tables[0]]).to_pylist()
        commits = sorted({r["commit"] for r in rows})
        self.keys = [run.rng.choice(commits) for _ in range(MAX_ROUNDS * LOOKUPS_PER_ROUND)]
        self.expected = {
            k: sorted(tuple(r[c] for c in F1_COLS) for r in rows if r["commit"] == k)
            for k in set(self.keys)
        }
        self.n_lookup = 0

    def round(self, run: Run) -> None:
        spark = run.spark
        rec, got = run.op(
            "full_read", "engine.dataset", "read_decoded",
            lambda: digest(read_decoded(spark, self.ds), F1_COLS),
        )
        if rec["ok"] and got != self.full_digest:
            run.fail(rec, f"full read digest {got} != source {self.full_digest}")
        rec, got = run.op(
            "projected_read", "engine.dataset", "read_decoded",
            lambda: digest(read_decoded(spark, self.ds, columns=PROJECTED), PROJECTED),
        )
        if rec["ok"] and got != self.proj_digest:
            run.fail(rec, f"projected digest {got} != source {self.proj_digest}")
        for _ in range(LOOKUPS_PER_ROUND):
            k = self.keys[self.n_lookup]
            self.n_lookup += 1
            rec, rows = run.op(
                "lookup", "engine.scan", "scan",
                lambda: scan(spark, self.ds, filters=[("commit", "==", k)]).collect(),
            )
            if rec["ok"] and sorted(tuple(r) for r in rows) != self.expected[k]:
                run.fail(rec, f"lookup {k}: rows differ from the source filter")

    def report(self, run: Run) -> dict:
        look = [w * 1e3 for w in run.timed_ops("lookup")]
        t, pct = tail(look)
        run.extra["lookup_tail"] = {"percentile": pct, "samples": len(look)}
        return {
            "full_read_mbps": (
                self.raw / 1e6 / statistics.median(run.timed_ops("full_read")), "MB/s"
            ),
            "projected_read_s": (statistics.median(run.timed_ops("projected_read")), "s"),
            "lookup_p50_ms": (statistics.median(look), "ms"),
            "lookup_tail_ms": (t, "ms"),
            "stored_ratio": (run.extra["stored_ratio"], "ratio"),
        }


WORKLOADS = {"ingest": Ingest, "read": Read}


# ---- run --------------------------------------------------------------


def native_expected() -> bool:
    """The native kernels build whenever a C compiler is present and
    they are not switched off; a run without them measures the numpy
    fallback, a different program."""
    return shutil.which("cc") is not None and os.environ.get("COLCRUSH_NATIVE", "1") != "0"


def timed_phase(run: Run, wl) -> None:
    """Closed loop of rounds. Untraced runs trace nothing; traced runs
    alternate untraced and traced rounds (at least one of each) so the
    tracing overhead is measured in the same process."""
    traced_run = bool(run.args.trace)
    t0 = time.perf_counter()
    last = 0.0
    while len(run.rounds) < MAX_ROUNDS:
        need = 2 if traced_run else 1
        elapsed = time.perf_counter() - t0
        if len(run.rounds) >= need and elapsed + last > run.args.seconds:
            break
        traced = traced_run and len(run.rounds) % 2 == 1
        run.tracer.enabled = traced
        cpu0 = bench._tree_cpu_sec()
        with run.tracer.span("round", index=len(run.rounds), traced=traced) as sp:
            n_ops = len(run.ops)
            wl.round(run)
        ops = run.ops[n_ops:]
        run.rounds.append({
            "traced": traced,
            "wall_s": sum(o["wall_s"] for o in ops),
            "elapsed_s": sp["end"] - sp["start"],
            "cpu_s": bench._tree_cpu_sec() - cpu0,
            "ops": ops,
        })
        last = sp["end"] - sp["start"]
    run.tracer.enabled = traced_run


def round_layers(run: Run) -> dict:
    """Per-layer numbers of the workload's own traced rounds: median
    over traced rounds of each round's status-store sums, plus the
    tracing overhead (traced against untraced round wall)."""
    traced = [r for r in run.rounds if r["traced"]]
    plain = [r for r in run.rounds if not r["traced"]]
    per_round = []
    for r in traced:
        tot: dict = {}
        for o in r["ops"]:
            for k, v in o.get("status", {}).items():
                tot[k] = tot.get(k, 0.0) + v
        per_round.append(tot)
    out = {k: statistics.median(t.get(k, 0.0) for t in per_round) for k in per_round[0]}
    out.pop("executions", None)
    out["pyworker.init_ms_per_task"] = out["pyworker.init_ms"] / max(1.0, out["pyworker.tasks"])
    out["trace.overhead_ratio"] = (
        statistics.median(r["elapsed_s"] for r in traced)
        / statistics.median(r["elapsed_s"] for r in plain)
        - 1.0
    )
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True, help="scratch dir of this run")
    ap.add_argument("--out", required=True, help="dir for spans and layer tables")
    args = ap.parse_args()

    run = Run(args)
    wl = WORKLOADS[args.workload]()
    layer_metrics = {}
    with host.PeakMemory() as mem:
        t = time.perf_counter()
        with run.tracer.span("session.get_spark", layer="session"):
            run.spark = get_spark(
                f"perfbench-{args.workload}",
                cores=host.nproc(),
                driver_memory=host.driver_memory(),
                extra={
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tempfile.gettempdir()}",
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        start_s = time.perf_counter() - t
        log(f"session started in {start_s:.2f}s")
        run.status = StatusReader(run.spark)
        inputs = Inputs(run, wl.n_appends)
        log("inputs written")
        warm = warm_up(run, inputs)
        native = _native.load() is not None
        log("warm-up done")
        wl.setup(run, inputs, warm)
        setup_s = time.perf_counter() - T_PROCESS
        log("set-up done")
        timed_phase(run, wl)
        log(f"timed phase done: {len(run.rounds)} rounds")
        results = wl.report(run)
        log("checks done")
        if args.trace:
            run.tracer.enabled = True
            layer_metrics = round_layers(run)
            layer_metrics["session.start_s"] = start_s
            layer_metrics["codecs.native"] = float(native)
            layer_metrics.update(
                layers.engine_pass(run, inputs.src, GROUP_COLS, PROJECTED, F1_COLS)
            )
            log("engine layer pass done")
            layer_metrics.update(layers.codec_pass(run, id_base(run.seed), SF_DIR))
            log("codec pass done")
            layer_metrics.update(layers.queries_pass(run, os.path.abspath(SF_DIR)))
            log("queries pass done")
        run.spark.stop()

    attempted = len(run.ops)
    failed = sum(not o["ok"] for o in run.ops)
    if native != native_expected():
        run.failures.append(f"native kernels {native}, expected {native_expected()}")
        failed = attempted
    plain = [r for r in run.rounds if not r["traced"]]
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(r["wall_s"] for r in plain), "s"),
        "cpu_s": (statistics.median(r["cpu_s"] for r in plain), "s"),
        "peak_rss_mb": (mem.peak / 1e6, "MB"),
        "peak_rss_jvm_mb": (mem.peak_jvm / 1e6, "MB"),
        "peak_rss_python_mb": (mem.peak_python / 1e6, "MB"),
        "failed_ratio": (failed / attempted, "ratio"),
        **results,
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "rounds": len(run.rounds),
        "attempted": attempted,
        "failed": failed,
        "failures": run.failures,
        "codecs_native": native,
        "input_bytes": inputs.raw,
        "lookup_tail": run.extra.get("lookup_tail"),
        "ops": [[o["kind"], o["wall_s"], o["ok"]] for o in run.ops],
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()},
    }
    if args.trace:
        stem = os.path.join(args.out, run.tracer.run_id)
        run.tracer.write_jsonl(stem + ".spans.jsonl")
        table = layer_table(run.tracer.spans)
        record["per_layer"] = layer_metrics
        record["layer_self_s"] = table
        record["spans_file"] = stem + ".spans.jsonl"
        with open(stem + ".layers.json", "w") as f:
            json.dump({"per_layer": layer_metrics, "self_time": table}, f, indent=1)
    print("RESULT " + json.dumps(record), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

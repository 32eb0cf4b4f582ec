"""Per-layer probes of the traced run.

Each probe calls one colcrush layer's public function directly, from
outside the program (spans inside the program are later work), on the
run's seeded F1 source:

- engine pass: encoder (plan_salts, encode_table -> noop), dataset
  (write_encoded, ensure_file_map, verify_dataset, colocated read),
  decoder (full and projected decode) and scan (manifest/bloom pruning
  and a point lookup), each through ``Run.op`` so it gets a span and a
  status-store window;
- codec pass: ``encode_array`` / ``decode_array`` on one thread, on one
  seeded shard per column;
- queries pass: the queries/operators/functions layers through the 20
  ``bench.HEADLINE`` queries, each checked against its DuckDB oracle.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from colcrush.codecs.column import decode_array, encode_array
from colcrush.engine import (
    encode_table,
    ensure_file_map,
    plan_salts,
    pruned_chunk_count,
    read_decoded,
    read_manifest,
    scan,
    verify_dataset,
    write_encoded,
)
from colcrush.engine.dataset import FILE_MAP_DIR
from colcrush.fixtures import source_code_batch

SHARD_ROWS = 2_000  # F1 codec shard (~6 MB of content)
LINEITEM_ROWS = 16_384
LINEITEM_COLS = ["l_orderkey", "l_quantity", "l_extendedprice", "l_shipdate"]


def digest_aggs(cols) -> list:
    """Aggregates of an order-independent row digest: row count ``n``
    and the exact sum ``h`` of every row's xxhash64."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ]


def digest(df, cols) -> tuple:
    """(rows, hash sum) of ``df`` over ``cols``; see ``digest_aggs``."""
    row = df.agg(*digest_aggs(cols)).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def disk_bytes(path: str) -> tuple[int, int]:
    """(bytes on disk under ``path``, chunk part files). The chunk->file
    sidecar is left out: it stores the part files' names, which hold a
    random id per write, so its compressed size changes run to run and
    the count would not repeat for one seed."""
    total = parts = 0
    for d, dirs, names in os.walk(path):
        if FILE_MAP_DIR in dirs:
            dirs.remove(FILE_MAP_DIR)
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            parts += n.endswith(".parquet") and os.path.basename(d) == "chunks"
    return total, parts


def engine_pass(run, src: str, group_cols, projected, cols) -> dict:
    """encoder.*, dataset.*, decoder.* and scan.* metrics from direct
    calls on the parquet source ``src``, written to a dataset of its
    own."""
    spark = run.spark
    df = spark.read.parquet(src)
    path = os.path.join(run.work, "layer_ds")
    expect = digest(df, cols)
    out = {}

    def probe(metric, layer, name, thunk):
        rec, res = run.op(f"layer.{metric}", layer, name, thunk)
        out[metric] = rec["wall_s"]
        return rec, res

    rec, planned = probe(
        "encoder.plan_salts_s", "engine.encoder", "plan_salts",
        lambda: plan_salts(df, group_cols, 16 << 20, with_total=True),
    )
    plan = planned[0] if planned else None
    rec, _ = probe(
        "encoder.encode_s", "engine.encoder", "encode_table",
        lambda: encode_table(df, group_cols=group_cols, salt_plan=plan)
        .write.format("noop").mode("overwrite").save(),
    )
    out["encoder.tasks"] = rec["status"]["pyworker.tasks"]
    if plan is not None:
        plan.unpersist()
    probe(
        "dataset.write_s", "engine.dataset", "write_encoded",
        lambda: write_encoded(df, path, mode="overwrite", group_cols=group_cols),
    )
    # rebuild the chunk->file sidecar write_encoded just built
    shutil.rmtree(os.path.join(path, FILE_MAP_DIR), ignore_errors=True)
    probe(
        "dataset.file_map_s", "engine.dataset", "ensure_file_map",
        lambda: ensure_file_map(spark, path),
    )
    # write_encoded = plan + encode + commit (chunk, manifest, schema and
    # plan-sidecar writes) + file map; commit is what the probes above
    # leave of it
    out["dataset.commit_s"] = (
        out["dataset.write_s"] - out["encoder.plan_salts_s"]
        - out["encoder.encode_s"] - out["dataset.file_map_s"]
    )
    out["encoder.chunk_rows"] = float(read_manifest(spark, path).count())
    stored, parts = disk_bytes(path)
    out["dataset.stored_bytes"] = float(stored)
    out["dataset.part_files"] = float(parts)

    rec, verdict = probe(
        "dataset.verify_s", "engine.dataset", "verify_dataset",
        lambda: verify_dataset(spark, path),
    )
    if rec["ok"] and not verdict["ok"]:
        run.fail(rec, f"layer verify_dataset: {verdict}")
    for metric, layer, kw in (
        ("dataset.read_colocated_s", "engine.dataset", {"colocated": True}),
        ("decoder.decode_s", "engine.decoder", {}),
    ):
        rec, got = probe(metric, layer, "read_decoded",
                         lambda: digest(read_decoded(spark, path, **kw), cols))
        if rec["ok"] and got != expect:
            run.fail(rec, f"{metric}: digest {got} != source {expect}")
    probe(
        "decoder.projected_s", "engine.decoder", "read_decoded",
        lambda: digest(read_decoded(spark, path, columns=projected), projected),
    )

    commits = pq.read_table(src, columns=["commit"]).column("commit").to_pylist()
    key = run.rng.choice(sorted(set(commits)))
    filters = [("commit", "==", key)]
    rec, counts = probe(
        "scan.prune_s", "engine.scan", "pruned_chunk_count",
        lambda: pruned_chunk_count(spark, path, filters),
    )
    out["scan.surviving_ratio"] = counts[0] / counts[1] if counts else 0.0
    rec, rows = probe(
        "scan.lookup_decode_s", "engine.scan", "scan",
        lambda: scan(spark, path, filters=filters).collect(),
    )
    if rec["ok"] and len(rows) != commits.count(key):
        run.fail(rec, f"layer lookup {key}: {len(rows)} rows, source has {commits.count(key)}")
    return out


def _per_call(thunk, min_s: float = 0.1, min_reps: int = 3) -> float:
    """Median seconds per call over at least ``min_reps`` calls and
    ``min_s`` seconds."""
    times: list[float] = []
    t_end = time.perf_counter() + min_s
    while len(times) < min_reps or time.perf_counter() < t_end:
        t = time.perf_counter()
        thunk()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def codec_arrays(base: int, sf_dir: str, rng) -> dict[str, pa.Array]:
    """One seeded shard per measured column: F1's five string columns
    and four sf0.01 lineitem columns (l_extendedprice as decimal(12,2))."""
    batch = source_code_batch(np.arange(base, base + SHARD_ROWS))
    arrays = {n: batch.column(n) for n in batch.schema.names}
    li = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"), columns=LINEITEM_COLS)
    li = li.slice(rng.randrange(li.num_rows - LINEITEM_ROWS), LINEITEM_ROWS)
    for c in LINEITEM_COLS:
        arrays[c] = li.column(c).combine_chunks()
    cents = np.round(arrays["l_extendedprice"].to_numpy() * 100).astype(np.int64)
    arrays["l_extendedprice"] = pa.array(
        [Decimal(int(v)).scaleb(-2) for v in cents], type=pa.decimal128(12, 2)
    )
    return arrays


def codec_pass(run, base: int, sf_dir: str) -> dict:
    """codecs.{encode_mbps,decode_mbps,ratio}.<col> on one thread; the
    MB are the column's raw bytes as the codec layer counts them. Each
    column's round trip is one checked operation of the run."""
    out = {}
    cpus = pa.cpu_count()
    pa.set_cpu_count(1)
    try:
        for col, arr in codec_arrays(base, sf_dir, run.rng).items():
            blob, meta = encode_array(arr)
            rec = {"kind": "layer.codec", "layer": "codecs", "name": col, "ok": True,
                   "wall_s": 0.0}
            run.ops.append(rec)
            if not decode_array(blob).equals(arr):
                run.fail(rec, f"codec round trip of {col} differs")
            raw = meta["raw_bytes"] / 1e6
            with run.tracer.span("codecs.column.encode_array", layer="codecs", column=col):
                out[f"codecs.encode_mbps.{col}"] = raw / _per_call(lambda: encode_array(arr))
            with run.tracer.span("codecs.column.decode_array", layer="codecs", column=col):
                out[f"codecs.decode_mbps.{col}"] = raw / _per_call(lambda: decode_array(blob))
            out[f"codecs.ratio.{col}"] = len(blob) / meta["raw_bytes"]
    finally:
        pa.set_cpu_count(cpus)
    return out


def queries_pass(run, sf_dir: str) -> dict:
    """queries/operators/functions layers: one pass of the 20
    bench.HEADLINE queries over the fixed sf0.01 tables, in a seeded
    order, each collected by the client. Every result is compared with
    its DuckDB oracle after the pass, outside the timers."""
    import bench
    from colcrush.queries import QUERIES, bloom_fixture_paths, bloom_lookup_targets

    # encode-once fixture of scan_bloom_point, untimed as in bench.py
    bloom_fixture_paths(run.spark, sf_dir)
    bloom_lookup_targets(run.spark, sf_dir)
    order = list(bench.HEADLINE)
    run.rng.shuffle(order)
    out, results = {}, {}
    for name in order:
        def q(name=name):
            df = QUERIES[name](run.spark, sf_dir)
            return df.columns, df.dtypes, df.collect()

        rec, res = run.op(f"query.{name}", "queries", name, q)
        out[f"queries.{name}_s"] = rec["wall_s"]
        out[f"queries.{name}_cpu_s"] = rec["cpu_s"]
        if rec["ok"]:
            results[name] = (rec, res)

    import duckdb

    from scripts import check_oracles as co

    con = duckdb.connect()
    for t in co.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    for name, (rec, (scols, dtypes, srows)) in results.items():
        why = oracle_mismatch(co, con, name, scols, dtypes, srows)
        if why:
            run.fail(rec, f"{name}: {why}")
    return out


def oracle_mismatch(co, con, name, scols, dtypes, srows) -> str | None:
    """The comparison scripts/check_oracles.py makes for one query, with
    its helpers: dtype kinds, column names, row count and
    order-insensitive values. A query without an oracle must return
    rows."""
    from colcrush.queries import ORACLES

    if name not in ORACLES:
        return None if srows else "no rows (no oracle to compare)"
    otab = con.execute(ORACLES[name]).arrow()
    ocols = otab.column_names
    skinds = {c.lower(): co.spark_kind(t) for c, t in dtypes}
    for i, c in enumerate(ocols):
        sk = skinds.get(c.lower())
        if sk is not None and sk != co.arrow_kind(otab.schema.types[i]):
            return f"dtype kind mismatch on {c}"
    if sorted(c.lower() for c in scols) != sorted(c.lower() for c in ocols):
        return f"columns {sorted(scols)} vs {sorted(ocols)}"
    if len(srows) != otab.num_rows:
        return f"rowcount {len(srows)} vs {otab.num_rows}"
    cs = sorted(scols, key=str.lower)
    sidx = {c: scols.index(c) for c in scols}
    oidx = {c.lower(): ocols.index(c) for c in ocols}
    a = sorted(co.row_key(r, cs, sidx) for r in srows)
    b = sorted(
        tuple(co.norm(otab.column(oidx[c.lower()])[j].as_py()) for c in cs)
        for j in range(otab.num_rows)
    )
    return None if a == b else "values differ"

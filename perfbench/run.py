"""CDC benchmark: backfill, stream (with reads) and queries on the public API.

    python3 perfbench/run.py --workload backfill|stream|queries \
        --seed N --seconds S --trace 0|1

Run from the repository root.  Each run is one process: it starts a
Spark session, builds its inputs from --seed, warms up, times whole
rounds of the workload's operation for about --seconds, checks every
output against an independent DuckDB reference, and prints one JSON
line.  --trace 0 prints the end-to-end metrics; --trace 1 runs the
same workload with spans and the Spark event log on, prints the per-
layer metrics and writes the spans to .perfbench_work/traces/.

All files go to .perfbench_work/ under the current directory; the run
directory is removed when the process ends.  See perfbench/README.md.
"""

from __future__ import annotations

import os
import time

T0 = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK_BASE = os.path.join(ROOT, ".perfbench_work")
sys.path[:0] = [HERE, ROOT]

WORKLOADS = ("backfill", "stream", "queries")
QUERIES = ["agg_hash_group_q1", "join_broadcast_dim", "join_sort_merge", "join_range_interval",
           "agg_maxby_lww", "agg_salted_skew", "win_topk_per_group", "sort_limit_topk",
           "udf_pandas_scalar_norm", "embedding_cosine_topk", "dedup_exact_keep_first"]

# input sizes (see README.md for what they produce)
BACKFILL_CONV = 15_000
BACKFILL_WARMUPS = 2
BACKFILL_ROUND = 3  # replays per round
STREAM_CONV = 8_000
STREAM_BASE_FRAC = 0.70
STREAM_FILE_EVENTS = 2_500
STREAM_FILES_PER_ROUND = 2
READ_ROUND = (4, 2, 1)  # point lookups, conversation lookups, scans after the stream
JVM_HEAP = "4g"


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    return up - start_ticks / os.sysconf("SC_CLK_TCK")


AGE0 = process_age_s() - (time.monotonic() - T0)


def since_start() -> float:
    return AGE0 + time.monotonic() - T0


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing")


def note(what: str) -> None:
    """Progress line on stderr: seconds since process start."""
    print(f"perfbench {since_start():8.2f}s  {what}", file=sys.stderr, flush=True)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


class Failure(Exception):
    """An output did not match its reference."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise Failure(what)


# ------------------------------------------------------------- context ---

class Ctx:
    def __init__(self, args, work):
        self.seed, self.seconds, self.traced = args.seed, args.seconds, bool(args.trace)
        self.work = work
        self.spark = None
        self.tracer = None
        self.layer: dict[str, tuple[float, str]] = {}
        self.e2e_extra: dict = {}

    def path(self, *p) -> str:
        return os.path.join(self.work, *p)

    def scope(self, op: str):
        if self.tracer is None:
            class _Nop:
                def __enter__(self):
                    return self

                def __exit__(self, *e):
                    return False
            return _Nop()
        return self.tracer.op_scope(op)


def start_session(ctx: Ctx):
    from dipper_spark.session import build_session

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": JVM_HEAP,
        "spark.local.dir": ctx.path("spark_local"),
        "spark.sql.warehouse.dir": ctx.path("warehouse"),
        # initial heap = max heap: a growing heap kept replays slowing down
        # for the first ~40 s of a run
        "spark.driver.extraJavaOptions": f"-Xms{JVM_HEAP} -Djava.io.tmpdir={ctx.path('tmp')}",
        "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
        "spark.ui.showConsoleProgress": "false",
    }
    if ctx.traced:
        os.makedirs(ctx.path("eventlog"), exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": ctx.path("eventlog"),
                     "spark.eventLog.compress": "false"})
    t = time.monotonic()
    spark = build_session(f"perfbench-{ctx.seed}", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    ctx.layer["session.start_s"] = (time.monotonic() - t, "s")
    note("session started")
    ctx.spark = spark
    return spark


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


# --------------------------------------------------------- CDC helpers ---

def write_log(frames, out_dir, names=None):
    import changelog as C

    paths = []
    for i, fr in enumerate(frames):
        p = os.path.join(out_dir, (names[i] if names else f"part-{i:05d}") + ".parquet")
        C.write_file(fr, p)
        paths.append(p)
    return paths


def lineage_rows(table_root: str) -> list[dict]:
    import pyarrow.parquet as pq

    d = os.path.join(table_root, "_lineage")
    rows = []
    for fn in sorted(os.listdir(d)):
        rows.extend(pq.read_table(os.path.join(d, fn)).to_pylist())
    return rows


def data_files(table_root: str) -> dict[str, int]:
    """Data files of a table: name -> bytes."""
    d = os.path.join(table_root, "data")
    if not os.path.isdir(d):
        return {}
    return {e.name: e.stat().st_size for e in os.scandir(d) if e.name.endswith(".parquet")}


def check_state(table, ref_df, ref_hash: str, what: str) -> int:
    """Final snapshot() equals the reference; count_rows() (manifest
    metadata when it can) equals the scanned live-row count."""
    import reference as REF

    snap = table.snapshot().toPandas()
    check(REF.state_hash(snap) == ref_hash, f"{what}: state hash differs from the reference")
    n_meta = table.count_rows()
    check(n_meta == len(snap) == len(ref_df),
          f"{what}: count_rows {n_meta}, scanned {len(snap)}, reference {len(ref_df)}")
    return len(snap)


def check_lineage(rows: list[dict], delivered: int, duplicates: int, what: str) -> None:
    seen = sum(r["rows_in"] + r["rows_bad"] for r in rows)
    check(seen == delivered, f"{what}: lineage counts {seen} events, files hold {delivered}")
    dd = sum(r["rows_deduped"] for r in rows)
    check(dd == duplicates, f"{what}: lineage dedups {dd}, reference {duplicates}")


# ------------------------------------------------------------ backfill ---

def backfill(ctx: Ctx) -> dict:
    import changelog as C
    import reference as REF
    from dipper_spark.plans.replay import replay

    spark = ctx.spark
    ev = C.make_events(ctx.seed, BACKFILL_CONV, v2_from=lambda n: n // 5)
    n = len(ev)
    sizes = [n // 8] * 7 + [n - 7 * (n // 8)]
    files = write_log(C.deliver(ev, ctx.seed, sizes), ctx.path("log"))
    note(f"generated {n} events")
    ref_df, info = REF.lww_state(files)
    ref_hash = REF.state_hash(ref_df)
    note("reference computed")
    for i in range(BACKFILL_WARMUPS):  # at full size: the first timed replays are still warming
        replay(spark, ctx.path("log"), ctx.path(f"warm{i}"))
        shutil.rmtree(ctx.path(f"warm{i}"))
        note(f"warm-up replay {i} done")
    setup_s = since_start()

    walls, bytes_ev, last = [], [], None
    t_end = time.monotonic() + ctx.seconds
    k = 0
    while time.monotonic() < t_end or k % BACKFILL_ROUND:
        root = ctx.path(f"t{k}")
        with ctx.scope(f"replay{k}"):
            t = time.monotonic()
            table, stats = replay(spark, ctx.path("log"), root)
            walls.append(time.monotonic() - t)
        check(len(stats) == 1 and not stats[0].skipped, "backfill: replay did not apply one batch")
        check_lineage(lineage_rows(root), info["delivered"], info["duplicates"], "backfill")
        bytes_ev.append(sum(data_files(root).values()) / info["delivered"])
        if ctx.tracer is not None and k == 0:
            t = time.monotonic()
            prefix_self_times(ctx)
            t_end += time.monotonic() - t
        if last is not None:
            shutil.rmtree(last)
        last, k = root, k + 1
    note(f"{k} replays timed")
    check_state(table, ref_df, ref_hash, "backfill")
    note("state checked")

    med = statistics.median(walls)
    ctx.layer["write_bytes_per_event"] = (statistics.median(bytes_ev), "B/event")
    ctx.layer["collapse.rows_in"] = (float(stats[0].rows_in), "count")
    ctx.layer["collapse.rows_out"] = (float(stats[0].rows_applied + stats[0].conflicts), "count")
    return {"attempted": k, "setup_s": setup_s, "op_p50_ms": med * 1000,
            "items_per_s": info["delivered"] / med, "ops": walls}


def prefix_self_times(ctx: Ctx) -> None:
    """Materialize, to the noop sink, the DataFrames replay() built in
    this run, one prefix of the chain at a time; a stage's self time is
    its prefix's wall minus the previous prefix's.  This runs after
    replay() returned and read its split Observation, so the split's
    metrics fire again here without reaching any merge result."""
    fr = ctx.tracer.frames
    chain = [("scan", fr["read_changelog"]), ("decode", fr["decode_payload"]),
             ("split", fr["split_valid_observed"]), ("collapse", fr["collapse"]),
             ("normalize", fr["normalize_winner_text"])]
    prev = 0.0
    for name, df in chain:
        with ctx.scope(f"prefix_{name}"):
            t = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            w = time.monotonic() - t
        ctx.layer[f"backfill.{name}_s"] = (max(w - prev, 0.0), "s")
        ctx.e2e_extra[f"prefix_{name}_s"] = w
        prev = w


# -------------------------------------------------------------- stream ---

def batches(query) -> list[dict]:
    """The micro-batches one ingest() call ran, from its own query's
    progress (recorded before the query terminates)."""
    return [{"batch": p.batchId, "rows": p.numInputRows, "ms": dict(p.durationMs or {})}
            for p in query.recentProgress]


def stream_inputs(ctx: Ctx):
    """Base log (v1 payloads) for the set-up replay plus delivery files
    of ~STREAM_FILE_EVENTS events each; v2 payloads start half-way
    through the first delivery file, so the schema evolves in the
    stream's first (warm-up) micro-batch and stale v1 stragglers follow."""
    import changelog as C

    ev = C.make_events(ctx.seed, STREAM_CONV, v2_from=lambda n: int(n * STREAM_BASE_FRAC)
                       + STREAM_FILE_EVENTS // 2)
    base_n = int(len(ev) * STREAM_BASE_FRAC)
    deliv = [STREAM_FILE_EVENTS] * ((len(ev) - base_n) // STREAM_FILE_EVENTS)
    base_sizes = [base_n // 4] * 3 + [base_n - 3 * (base_n // 4)]
    frames = C.deliver(ev.iloc[: base_n + sum(deliv)], ctx.seed, base_sizes + deliv)
    base = write_log(frames[:4], ctx.path("base"))
    staged = write_log(frames[4:], ctx.path("staged"), names=[f"d{i:05d}" for i in range(len(deliv))])
    return base, staged


def deliver_files(staged: list[str], k: int, src: str) -> list[str]:
    os.makedirs(src, exist_ok=True)
    out = []
    for p in staged[:k]:
        dst = os.path.join(src, os.path.basename(p))
        os.rename(p, dst)
        out.append(dst)
    del staged[:k]
    return out


def stream(ctx: Ctx) -> dict:
    import pyarrow.parquet as pq
    import reference as REF
    from dipper_spark.plans.replay import replay
    from dipper_spark.plans.target import LocalCowTable
    from dipper_spark.streaming.ingest import ingest

    spark = ctx.spark
    base, staged = stream_inputs(ctx)
    root, src, ckpt = ctx.path("table"), ctx.path("src"), ctx.path("ckpt")
    note(f"generated {len(base)} base + {len(staged)} delivery files")
    with ctx.scope("base_replay"):
        replay(spark, ctx.path("base"), root)
    note("base table built")
    delivered = deliver_files(staged, 1, src)  # warm-up micro-batch
    with ctx.scope("warm_ingest"):
        _t, q, _st = ingest(spark, src, root, ckpt, max_files_per_trigger=1)
    n_warm = len(batches(q))
    check(n_warm == 1, f"stream: the warm-up ingest ran {n_warm} micro-batches")
    note("warm-up micro-batch done")
    setup_s = since_start()

    rounds, events, timed = [], [], []
    t_end = time.monotonic() + ctx.seconds
    k = 0
    while (time.monotonic() < t_end or k == 0) and len(staged) >= STREAM_FILES_PER_ROUND:
        new = deliver_files(staged, STREAM_FILES_PER_ROUND, src)
        delivered += new
        with ctx.scope(f"ingest{k}"):
            t = time.monotonic()
            _t, q, st = ingest(spark, src, root, ckpt, max_files_per_trigger=1)
            rounds.append(time.monotonic() - t)
        got = batches(q)
        check(len(st) == len(got) == STREAM_FILES_PER_ROUND and not any(s.skipped for s in st),
              f"stream: round {k} applied {len(st)} batches, its query ran {len(got)}")
        timed += got
        ctx.e2e_extra.setdefault("round_runs", []).append(str(q.runId))
        events.append(sum(pq.ParquetFile(p).metadata.num_rows for p in new))
        k += 1
    note(f"{k} ingest rounds timed")
    batch_ms = [b["ms"]["triggerExecution"] for b in timed]

    files = base + delivered
    ref_df, info = REF.lww_state(files)
    ref_hash = REF.state_hash(ref_df)
    table = LocalCowTable(spark, root)
    check_state(table, ref_df, ref_hash, "stream")
    lin = lineage_rows(root)
    check(len(lin) == 1 + n_warm + len(timed), f"stream: {len(lin)} lineage rows for "
          f"1 replay + {n_warm + len(timed)} micro-batches")
    base_dups = REF.lww_state(base)[1]["duplicates"]
    dups = base_dups + sum(REF.per_file_duplicates(delivered))
    check_lineage(lin, info["delivered"], dups, "stream")
    # re-running on the same checkpoint applies nothing
    _t, q, st = ingest(spark, src, root, ckpt, max_files_per_trigger=1)
    check(not [s for s in st if not s.skipped] and not [b for b in batches(q) if b["rows"]],
          "stream: re-run applied a batch")
    check(REF.state_hash(table.snapshot().toPandas()) == ref_hash, "stream: re-run changed the state")
    note("stream checked")
    reads = serve_reads(ctx, table, ref_df, info, ref_hash)
    note("reads checked")

    ctx.e2e_extra["timed_batches"] = timed
    ctx.e2e_extra["timed_events"] = sum(events)
    ctx.e2e_extra["reads"] = reads
    if ctx.tracer is not None:
        ctx.layer["serve.point_lookup_p50_ms"] = (statistics.median(reads["point"]) * 1000, "ms")
        ctx.layer["serve.conv_lookup_p50_ms"] = (statistics.median(reads["conv"]) * 1000, "ms")
        ctx.layer["serve.scan_s"] = (statistics.median(reads["scan"]), "s")
        ctx.layer["table.data_files"] = (float(len(data_files(root))), "count")
        ctx.layer["table.delta_files"] = (float(table.delta_file_count()), "count")
        for key, parts in (("stream.add_batch_ms", ("addBatch",)),
                           ("stream.source_ms", ("latestOffset", "getBatch")),
                           ("stream.wal_ms", ("walCommit", "commitOffsets"))):
            ctx.layer[key] = (statistics.median(sum(b["ms"].get(p, 0) for p in parts) for b in timed), "ms")
    return {"attempted": len(timed), "setup_s": setup_s, "op_p50_ms": statistics.median(batch_ms),
            "items_per_s": sum(events) / sum(rounds), "ops": batch_ms}


# --------------------------------------------------------------- reads ---

def serve_reads(ctx: Ctx, table, ref_df, info: dict, ref_hash: str) -> dict:
    """Point lookups, conversation lookups and full snapshot() reads of the
    table the stream left, one client in a closed loop.  The keys mix live
    keys, keys deleted in the final state and keys never written; every
    result must equal the reference.  One read of each kind warms up."""
    import numpy as np
    import reference as REF

    ref = REF.canonical(ref_df)
    rng = np.random.default_rng(ctx.seed + 7)
    live = ref[["conv_id", "turn_idx"]].to_numpy(object)
    dele = info["deleted_keys"].to_numpy(object)
    rows_by_conv = {c: g for c, g in ref.groupby("conv_id")}
    convs = list(rows_by_conv)
    dead_convs = sorted(set(dele[:, 0]) - set(convs)) if len(dele) else []

    def never_written() -> str:
        return f"c{9_000_000 + int(rng.integers(1_000_000)):07d}"

    def point_key(i):
        r = i % 4
        if r < 2:
            return tuple(live[rng.integers(len(live))])
        if r == 2 and len(dele):
            return tuple(dele[rng.integers(len(dele))])
        return (never_written(), int(rng.integers(8)))

    def conv_key(i):
        r = i % 3
        if r == 0:
            return convs[rng.integers(len(convs))]
        if r == 1 and dead_convs:
            return dead_convs[rng.integers(len(dead_convs))]
        return never_written()

    def same(got, want, what):
        g = REF.canonical(got) if len(got) else REF.canonical(ref.iloc[:0])
        check(REF.frames_equal(g, want.reset_index(drop=True)) is None, f"reads: {what} differs from the reference")

    def timed(rec, op, fn):
        with ctx.scope(op):
            s = time.monotonic()
            got = fn().toPandas()
            rec.append(time.monotonic() - s)
        return got

    def one_round(counts, tag):
        rec = {"point": [], "conv": [], "scan": []}
        n_pt, n_cv, n_sc = counts
        for i in range(n_pt):
            c, t = point_key(i)
            g = rows_by_conv.get(c)
            got = timed(rec["point"], tag(f"point{i}"), lambda: table.lookup(c, t))
            same(got, g[g["turn_idx"] == t] if g is not None else ref.iloc[:0], f"lookup({c!r}, {t})")
        for i in range(n_cv):
            c = conv_key(i)
            got = timed(rec["conv"], tag(f"conv{i}"), lambda: table.lookup(c))
            same(got, rows_by_conv.get(c, ref.iloc[:0]), f"lookup({c!r})")
        for i in range(n_sc):
            got = timed(rec["scan"], tag(f"scan{i}"), table.snapshot)
            check(REF.state_hash(got) == ref_hash, "reads: snapshot() differs from the reference")
        return rec

    one_round((1, 1, 1), lambda op: "warm_read")
    return one_round(READ_ROUND, lambda op: op)


# ------------------------------------------------------------- queries ---

def queries(ctx: Ctx) -> dict:
    import reference as REF
    import tables as TB

    import __spark_entry__ as E

    spark = ctx.spark
    d = ctx.path("sf")
    TB.write_tables(d, ctx.seed)
    note("tables written")
    registry, oracles = E.queries(), E.oracle_sql()
    want = REF.query_results({q: oracles[q] for q in QUERIES}, d, TB.TABLES)
    note("oracles computed")

    def one_pass(p):
        walls = {}
        for q in QUERIES:
            with ctx.scope(f"q{p}:{q}"):
                t = time.monotonic()
                got = registry[q](spark, d).toPandas()
                walls[q] = time.monotonic() - t
            diff = REF.frames_equal(got, want[q])
            check(diff is None, f"queries: {q} differs from its DuckDB oracle: {diff}")
        return walls

    one_pass("warm")
    setup_s = since_start()
    note("warm-up pass done")
    passes = []
    t_end = time.monotonic() + ctx.seconds
    while time.monotonic() < t_end or not passes:
        passes.append(one_pass(len(passes)))
    sums = [sum(p.values()) for p in passes]
    for q in QUERIES:
        ctx.layer[f"query.{q}_s"] = (statistics.median(p[q] for p in passes), "s")
    med = statistics.median(sums)
    return {"attempted": len(passes) * len(QUERIES), "setup_s": setup_s, "op_p50_ms": med * 1000,
            "items_per_s": len(QUERIES) / med, "ops": sums}


# --------------------------------------------------------- trace report ---

def metric_units(kind: str) -> dict[str, str]:
    """Metric name -> unit, for `end_to_end` or `per_layer`, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def trace_report(ctx: Ctx, workload: str, res: dict, log: dict) -> None:
    """Per-layer metrics from the spans and the event log."""
    import spans as TR

    T = ctx.tracer
    spans = T.self_times()
    timed = [s for s in spans if s["op"] and not s["op"].startswith(("prefix_", "base_", "warm"))]

    def med_self(name, scale=1.0):
        v = [s["self"] * scale for s in timed if s["name"] == name]
        return statistics.median(v) if v else None

    def by_op(prefix):
        return lambda desc: desc.startswith(f"pb|{prefix}")

    L = ctx.layer
    if workload == "backfill":
        L["backfill.merge_s"] = (med_self("merge"), "s")
        L["backfill.lineage_s"] = (med_self("emit_lineage"), "s")
        L["probe_s"] = (med_self("absent_payload_columns"), "s")
        sk = TR.last_stage_skew(log, by_op("prefix_collapse"))
        L["collapse.task_skew"] = (sk, "ratio")
        ops = [f"replay{i}" for i in range(res["attempted"])]
    elif workload == "stream":
        L["stream.merge_ms"] = (med_self("merge", 1000.0), "ms")
        L["stream.lineage_ms"] = (med_self("emit_lineage", 1000.0), "ms")
        L["probe_s"] = (med_self("absent_payload_columns"), "s")
        ops = [f"ingest{i}" for i in range(res["attempted"] // STREAM_FILES_PER_ROUND)]
        merges = [s for s in timed if s["name"] == "merge"]
        L["stream.buckets_rewritten"] = (statistics.median(
            len({f[:6] for f in s["new_files"] if f.startswith("b")}) for s in merges), "count")
        L["stream.files_written"] = (statistics.median(len(s["new_files"]) for s in merges), "count")
        L["stream.bytes_written"] = (statistics.median(sum(s["new_files"].values()) for s in merges), "B")
        L["write_bytes_per_event"] = (sum(sum(s["new_files"].values()) for s in merges)
                                      / ctx.e2e_extra["timed_events"], "B/event")
        L["collapse.rows_in"] = (statistics.median(s["result"].rows_in for s in merges), "count")
        L["collapse.rows_out"] = (statistics.median(s["result"].rows_applied + s["result"].conflicts
                                                    for s in merges), "count")
        reads = {kind: [TR.job_totals(log, lambda d, op=f"{kind}{i}": d == f"pb|{op}|-") for i in range(len(v))]
                 for kind, v in ctx.e2e_extra["reads"].items()}
        L["lookup.jobs"] = (statistics.median(x["jobs"] for x in reads["point"]), "count")
        L["lookup.input_bytes"] = (statistics.median(x["input"] for x in reads["point"]), "B")
        L["conv_lookup.input_bytes"] = (statistics.median(x["input"] for x in reads["conv"]), "B")
        L["scan.input_bytes"] = (statistics.median(x["input"] for x in reads["scan"]), "B")
    else:
        ops = [f"q{p}:{q}" for p in range(len(res["ops"])) for q in QUERIES]
    if workload == "stream":
        # per micro-batch; jobs a batch runs outside the traced calls
        # carry Spark's own streaming description with the run id
        per_op = []
        for o, run in zip(ops, ctx.e2e_extra["round_runs"]):
            tot = TR.job_totals(log, lambda d, o=o, run=run: d.startswith(f"pb|{o}|")
                                or f"runId = {run}" in d)
            per_op.append({k: v / STREAM_FILES_PER_ROUND for k, v in tot.items()})
    else:
        per_op = [TR.job_totals(log, lambda d, o=o: d.startswith(f"pb|{o}|")) for o in ops]
    L["spark.jobs"] = (statistics.median(x["jobs"] for x in per_op), "count")
    L["shuffle.write_bytes"] = (statistics.median(x["shuffle_write"] for x in per_op), "B")
    L["shuffle.spill_bytes"] = (statistics.median(x["spill"] for x in per_op), "B")
    L["jvm.gc_s"] = (statistics.median(x["gc_ms"] for x in per_op) / 1000.0, "s")


# ---------------------------------------------------------------- main ---

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        import dipper_spark  # noqa: F401  (the program under test, from the checkout)
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "dipper_spark", "session.py")):
        print(f"perfbench: run from the repository root (no dipper_spark/ under {ROOT})", file=sys.stderr)
        return 2

    work = os.path.join(WORK_BASE, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark_local")
    ctx = Ctx(args, work)
    spark = None
    gateway = None
    try:
        spark = start_session(ctx)
        gateway = spark.sparkContext._gateway
        if ctx.traced:
            import spans as TR
            ctx.tracer = TR.Tracer(spark, data_files)
            ctx.tracer.install()
        res = {"backfill": backfill, "stream": stream, "queries": queries}[args.workload](ctx)
        rss = peak_rss_mb(jvm_pid(spark))
        note("timed operations: " + " ".join(f"{x:.3g}" for x in res["ops"]))
    except Failure as e:
        print(f"perfbench: incorrect output: {e}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1
    finally:
        if spark is not None:
            spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                # the JVM exits when its stdin closes
                try:
                    proc.stdin.close()
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()

    if ctx.traced:
        import spans as TR
        log = TR.read_event_log(ctx.path("eventlog"))
        trace_report(ctx, args.workload, res, log)
        ctx.layer["jvm.peak_rss_mb"] = (rss, "MB")
        metrics = {}
        for name, unit in metric_units("per_layer").items():
            v = ctx.layer.get(name)
            metrics[name] = metric(v[0] if v and v[0] is not None else 0.0, unit)
        e2e = {name: res[name] for name in metric_units("end_to_end")}
        e2e["peak_rss_mb"] = rss
        ctx.tracer.dump(os.path.join(WORK_BASE, "traces", f"{args.workload}-seed{args.seed}.json"),
                        {"workload": args.workload, "seed": args.seed, "end_to_end": e2e,
                         "per_layer": {k: v["value"] for k, v in metrics.items()},
                         "extra": ctx.e2e_extra})
    else:
        metrics = {name: metric(res[name], unit) for name, unit in metric_units("end_to_end").items()}
    print(json.dumps({"correct": True, "attempted": int(res["attempted"]), "failed": 0, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    code = 1
    try:
        code = main()
    finally:
        shutil.rmtree(os.path.join(WORK_BASE, f"run-{os.getpid()}"), ignore_errors=True)
    sys.exit(code)

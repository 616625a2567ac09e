"""The benchmark's workloads.

Each workload sets up its inputs (timed, with the session start, as
``setup_s``), runs a closed loop with one operation in flight for the
requested seconds, checks every output, and returns its metrics. In a traced
run, traced and untraced rounds alternate so that the tracing overhead is
measured in the same process; the per-layer metrics come from the traced
rounds.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback

import pyarrow.parquet as pq

import checks
import gen
import spans
from harness import closed_loop, percentile, recall, tree_cpu_s


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def pct(xs, q) -> float:
    return percentile(xs, q) if xs else 0.0


class Run:
    """What one invocation shares across its workload: the session, the
    tracer, counters of attempted and failed operations, and the log."""

    def __init__(self, session, sampler, work: str, seed: int, seconds: float, trace: bool,
                 t_start: float):
        self.t_start = t_start
        self.session = session
        self.spark = session.spark
        self.sampler = sampler
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = spans.Tracer(session.sc) if trace else None
        self.attempted = 0
        self.failed = 0
        self.rounds: list[tuple[float, float, bool]] = []  # (start, end, traced)

    def log(self, msg: str) -> None:
        print(f"perfbench: [{time.perf_counter() - self.t_start:6.1f}s] {msg}", flush=True)

    def op(self, name: str, fn, *args):
        """Run one operation under a top-level span; a raise counts as a
        failed operation and returns None."""
        self.attempted += 1
        s = self.tracer.begin(name) if self.tracer else None
        try:
            return fn(*args)
        except Exception as e:  # the loop goes on and reports the failure
            self.failed += 1
            traceback.print_exc()
            self.log(f"operation {name} failed: {type(e).__name__}: {str(e)[:300]}")
            return None
        finally:
            if self.tracer:
                self.tracer.end(s)

    def cpu_s(self) -> float:
        """CPU seconds the driver, its JVM and the Python workers have used,
        without the sampler's."""
        return tree_cpu_s(os.getpid()) - self.sampler.cpu_s

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1
        self.log(f"check {name} {'ok' if ok else 'FAILED'} {detail}")

    def round(self, traced: bool, fn):
        """Run ``fn`` as one round, traced if ``traced`` and the run is, and
        return its result. A workload orders traced and untraced rounds so
        that each half sees the same work at the same stage of the run."""
        traced = self.trace and traced
        if self.tracer:
            self.tracer.enabled = traced
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.rounds.append((t0, time.perf_counter(), traced))
            if self.tracer:
                self.tracer.enabled = False


def install_tracing(tracer: spans.Tracer) -> None:
    """Wrap the public functions of each layer; spans are named
    ``<layer>.<function>`` after the package module."""
    import __spark_entry__ as entry
    from etl_german_fhir_core_spark import operators
    from etl_german_fhir_core_spark.cdc.engine import CdcEngine
    from etl_german_fhir_core_spark.lake.table import SnapshotTable
    from etl_german_fhir_core_spark.operators import dedup
    from etl_german_fhir_core_spark.streaming.changefeed import ChangeFeedSync

    for fn in ("plan_epochs", "apply_epoch", "run"):
        tracer.wrap(CdcEngine, fn, f"cdc.{fn}")
    # the feed parquet scan inside apply_epoch
    tracer.wrap(CdcEngine, "feed", "sources.feed")
    for fn in ("merge", "read", "changes_between", "manifest"):
        tracer.wrap(SnapshotTable, fn, f"lake.{fn}")
    # AggFeedSync inherits this sync_once
    tracer.wrap(ChangeFeedSync, "sync_once", "streaming.sync_once")
    for fn in ("ngram_jaccard_pairs", "minhash_lsh_pairs", "simhash_pairs", "simhash_candidates"):
        tracer.wrap(dedup, fn, f"operators.{fn}")
        if hasattr(operators, fn):
            setattr(operators, fn, getattr(dedup, fn))
    tracer.wrap(entry, "queries", "entry.queries")


class TraceView:
    """A finished traced run: self time per span, the Spark jobs charged to
    each span, and sums over a span and everything nested under it."""

    def __init__(self, run: Run):
        self.run = run
        self.spans = run.tracer.spans
        self.self_t = spans.self_times(self.spans)
        self.desc = spans.descendants(self.spans)
        path = run.session.event_log_path()
        self.log = spans.EventLog.read(path) if path else spans.EventLog([])
        self.jobs = spans.attribute(self.log, self.spans)

    def ops(self, name: str, until: float = float("inf")) -> list[spans.Span]:
        """Top-level spans ``name`` that started before ``until``."""
        return [s for s in self.spans if s.parent is None and s.name == name and s.start < until]

    def within(self, op: spans.Span, name: str) -> list[spans.Span]:
        return [self.spans[i] for i in self.desc[op.id] if self.spans[i].name == name]

    def job_sum(self, roots: list[spans.Span], field: str) -> int:
        ids = {i for r in roots for i in self.desc[r.id]}
        return sum(getattr(self.jobs[i], field) for i in ids if i in self.jobs)

    def common(self, until: float) -> dict:
        """Run-wide metrics over the rounds, and the jobs of the spans, that
        started before ``until``."""
        rounds = [r for r in self.run.rounds if r[0] < until]
        traced = sum(b - a for a, b, t in rounds if t)
        untraced = sum(b - a for a, b, t in rounds if not t)
        covered = sum(spans.coverage(self.spans, (a, b)) * (b - a) for a, b, t in rounds if t)
        jobs = [j for i, j in self.jobs.items() if self.spans[i].start < until]
        total = lambda f: sum(getattr(j, f) for j in jobs)
        return {
            "spark.jobs": total("jobs"),
            "spark.tasks_failed": total("tasks_failed"),
            "spark.gc_s": total("gc_ms") / 1000.0,
            "trace.overhead_frac": traced / untraced - 1.0 if untraced else 0.0,
            "trace.coverage": covered / traced if traced else 0.0,
        }


# ------------------------------------------------------------------ cdc_tail

TAIL_SEED_CONVS = 1_000   # 20 turns each: the table the tail starts from
TAIL_TICK_EVENTS = 2_000  # one epoch per tick
TAIL_WINDOW = 100         # recently opened conversations that take 90 % of events
TAIL_NEW_PER_TICK = 10    # conversations opened per tick
TAIL_SYNC_EVERY = 3       # the replica catches up every this many ticks
# An untraced run measures at least this many rounds, and its end-to-end
# figure comes from these first rounds only, which hold one replica sync.
TAIL_ROUNDS = 3
TAIL_WARMUP_TICKS = 1
# A traced run measures at least this many rounds, the even ones traced, so
# that each half holds one replica sync, and its per-layer metrics come from
# these first rounds only: the feed directory grows every tick, so a later
# tick scans and plans more, and a metric over however many ticks fit in the
# window would follow run length.
TAIL_TRACE_TICKS = 6


def conv_schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ])


def cdc_tail(run: Run) -> tuple[dict, object]:
    """A seeded CoW table takes one small epoch per tick through
    ``CdcEngine.run``; a replica catches up every ``TAIL_SYNC_EVERY`` ticks;
    each tick point-reads a hot and a cold conversation. A round is one tick."""
    from pyspark.sql import functions as F

    from etl_german_fhir_core_spark.cdc import CdcEngine
    from etl_german_fhir_core_spark.lake import SnapshotTable
    from etl_german_fhir_core_spark.streaming import ChangeFeedSync

    spark, w, nb = run.spark, run.work, run.session.partitions
    seed_rows = gen.seed_state(run.seed, TAIL_SEED_CONVS)
    gen.write(seed_rows, f"{w}/seed_feed", n_files=nb)
    run.log(f"input seed_state rows={seed_rows.num_rows} digest={gen.digest(seed_rows)}")
    keys = ["conv_id", "turn_idx"]
    src = SnapshotTable.create(spark, f"{w}/table", conv_schema(), keys, num_buckets=nb)
    src.overwrite(spark.read.parquet(f"{w}/seed_feed"))
    run.log("table seeded")
    replica = SnapshotTable.create(spark, f"{w}/replica", conv_schema(), keys, num_buckets=nb)
    rep_sync = ChangeFeedSync(src, replica, f"{w}/replica_state", bootstrap=True)
    os.makedirs(f"{w}/feed")
    engine = CdcEngine(spark, f"{w}/feed", src, epoch_rows=TAIL_TICK_EVENTS,
                       lineage_path=f"{w}/lineage")

    feed = {"lsn": seed_rows.num_rows, "bytes": [], "digests": []}
    # samples as (loop index of the tick they belong to, value)
    s = {"engine": [], "round_cpu": [], "fresh": [], "read": [], "rows_in": [],
         "rows_applied": [], "conflicts": [], "snapshots": []}
    pending: list[tuple[int | None, float]] = []  # ticks the replica has not applied: (index, start)

    def point_read(conv: str) -> int:
        return len(src.read().where(F.col("conv_id") == conv).collect())

    def tick(k: int, i: int | None) -> None:
        """Tick ``k`` of the feed; ``i`` is its loop index, None in warm-up."""
        t = gen.tail_tick(run.seed, k, feed["lsn"], TAIL_TICK_EVENTS, TAIL_SEED_CONVS,
                          TAIL_WINDOW, TAIL_NEW_PER_TICK)
        path = f"{w}/feed/tick-{k:06d}.parquet"
        pq.write_table(t, path)
        feed["lsn"] += t.num_rows
        feed["bytes"].append(os.path.getsize(path))
        feed["digests"].append(gen.digest(t))
        c0 = run.cpu_s()  # the round's CPU time leaves out making its input
        t0 = time.perf_counter()
        res = run.op("op.tick", engine.run)
        dt = time.perf_counter() - t0
        pending.append((i, t0))
        if res is not None and i is not None:
            new = [r for r in res if not r.skipped_commit]
            s["engine"].append((i, dt))
            s["rows_in"].append((i, sum(r.rows_in for r in new)))
            s["rows_applied"].append((i, sum(r.rows_applied for r in new)))
            s["conflicts"].append((i, sum(r.conflict_count for r in new)))
        if k % TAIL_SYNC_EVERY == 0:
            applied = run.op("op.sync", rep_sync.sync_once)
            done = time.perf_counter()
            if applied is not None and i is not None:
                s["snapshots"].append((i, len(applied)))
                s["fresh"].extend((j, done - start) for j, start in pending)
            pending.clear()
        newest = TAIL_SEED_CONVS + (k + 1) * TAIL_NEW_PER_TICK
        for conv in (f"conv-{newest - 1 - k % TAIL_WINDOW}", f"conv-{(k * 7919) % TAIL_SEED_CONVS}"):
            t0 = time.perf_counter()
            if run.op("op.read", point_read, conv) is not None and i is not None:
                s["read"].append((i, time.perf_counter() - t0))
        if i is not None:
            s["round_cpu"].append((i, run.cpu_s() - c0))

    # warm-up: one tick, whose sync also bootstraps the replica
    for k in range(TAIL_WARMUP_TICKS):
        tick(k, None)
    if run.tracer:
        install_tracing(run.tracer)
    setup_s = time.perf_counter() - run.t_start
    run.log("set-up done")

    def loop_round(i: int) -> None:
        run.round(i % 2 == 0, lambda: tick(TAIL_WARMUP_TICKS + i, i))

    closed_loop(run.seconds, loop_round, min_ops=TAIL_TRACE_TICKS if run.trace else TAIL_ROUNDS)
    run.log("loop done")
    run.log(f"input tail_ticks={len(feed['digests'])} digest={gen.digest_strings(feed['digests'])}")

    # checks, after the replica has caught up with the last tick
    rep_sync.sync_once()
    truth = checks.duck_lww([f"{w}/seed_feed/*.parquet", f"{w}/feed/*.parquet"])
    got = checks.table_state(src)
    run.check("final_state_vs_duckdb_lww", got == truth,
              f"keys={len(truth)} tombstones={sum(1 for x in truth if x[3])} mismatched={len(got ^ truth)}")
    cols = [f.name for f in conv_schema()]
    run.check("replica_equals_source", checks.frame_digest(replica.read().select(*cols))
              == checks.frame_digest(src.read().select(*cols)))
    run.log(f"samples ticks={len(s['engine'])} syncs={len(s['snapshots'])} "
            f"fresh={len(s['fresh'])} reads={len(s['read'])} "
            f"ticks_s={[round(x, 3) for _, x in s['engine']]} "
            f"rounds_cpu_s={[round(x, 2) for _, x in s['round_cpu']]}")

    e2e = {"setup_s": setup_s,
           "op_cpu_s": sum(x for i, x in s["round_cpu"] if i < TAIL_ROUNDS) / TAIL_ROUNDS}
    files = src.manifest().get("files", {})
    n_files = sum(len(v) if isinstance(v, list) else 1 for v in files.values())
    return e2e, lambda tv: _tail_layers(tv, s, feed, n_files)


def _tail_layers(tv: TraceView, s: dict, feed: dict, n_files: int) -> dict:
    """Per-layer metrics over the first ``TAIL_TRACE_TICKS`` ticks."""
    w = tv.run.work
    n = TAIL_TRACE_TICKS
    first = {key: [x for i, x in xs if i < n] for key, xs in s.items()}
    until = tv.run.rounds[n - 1][1]  # spans of later rounds are left out
    ticks, syncs, reads = (tv.ops(name, until) for name in ("op.tick", "op.sync", "op.read"))
    traced_snapshots = [x for i, x in s["snapshots"] if i < n and i % 2 == 0]
    merges = [tv.within(t, "lake.merge") for t in ticks]
    scan_bytes = tv.log.planned_scan_bytes(f"{w}/feed")
    exec_span = {j.execution: j.span for j in tv.log.jobs.values()
                 if j.execution is not None and j.span is not None}
    feed_read = []
    for t in ticks:
        inside = set(tv.desc[t.id])
        feed_read.append(sum(b for e, b in scan_bytes.items() if exec_span.get(e) in inside))
    tick_bytes = median(feed["bytes"][TAIL_WARMUP_TICKS:TAIL_WARMUP_TICKS + n])
    rows_in = sum(first["rows_in"])
    layer = {
        "cdc.events_per_s": rows_in / sum(first["engine"]),
        "cdc.epoch_p50_s": pct(first["engine"], 0.5),
        "cdc.apply_epoch_self_s": median([sum(tv.self_t[x.id] for x in tv.within(t, "cdc.apply_epoch"))
                                          for t in ticks]),
        "cdc.plan_epochs_s": median([sum(x.duration for x in tv.within(t, "cdc.plan_epochs"))
                                     for t in ticks]),
        "cdc.jobs_per_epoch": median([tv.job_sum([t], "jobs") for t in ticks]),
        "cdc.rows_in": rows_in,
        "cdc.rows_applied": sum(first["rows_applied"]),
        "cdc.conflict_count": sum(first["conflicts"]),
        "cdc.applied_per_in": sum(first["rows_applied"]) / rows_in if rows_in else 0.0,
        "lake.merge_self_s": median([sum(tv.self_t[x.id] for x in ms) for ms in merges]),
        "lake.merge_shuffle_bytes": median([tv.job_sum(ms, "shuffle_write_bytes") for ms in merges]),
        "lake.merge_spill_bytes": median([tv.job_sum(ms, "spill_bytes") for ms in merges]),
        "lake.merge_jobs": median([tv.job_sum(ms, "jobs") for ms in merges]),
        "lake.manifest_calls_per_epoch": median([len(tv.within(t, "lake.manifest")) for t in ticks]),
        "lake.changes_between_s": median([x.duration for y in syncs
                                          for x in tv.within(y, "lake.changes_between")]),
        "lake.read_s": median([x.duration for x in reads]),
        "lake.read_jobs": median([tv.job_sum([x], "jobs") for x in reads]),
        "lake.read_p50_s": pct(first["read"], 0.5),
        "lake.data_files": n_files,
        "lake.bytes_written_per_input_byte":
            median([tv.job_sum([t], "output_bytes") for t in ticks]) / tick_bytes,
        "sources.feed_bytes_read_per_epoch": median(feed_read),
        "sources.scan_pruning_ratio": median(feed_read) / tick_bytes,
        "streaming.sync_s": median([x.duration for x in syncs]),
        "streaming.snapshots_per_sync": statistics.mean(first["snapshots"]) if first["snapshots"] else 0.0,
        "streaming.jobs_per_snapshot":
            tv.job_sum(syncs, "jobs") / sum(traced_snapshots) if sum(traced_snapshots) else 0.0,
        "streaming.fresh_p50_s": pct(first["fresh"], 0.5),
    }
    layer.update(tv.common(until))
    return layer


# ------------------------------------------------------------------ queries

# the contract's headline queries (bench.py HEADLINE)
CONTRACT = [
    "cdc_lww_final_state", "agg_pricing_summary", "era_islands", "join_concept_lookup",
    "join_pairing_reciprocal", "window_latest_per_key", "text_token_count", "dedup_exact",
    "dedup_ngram_jaccard", "dedup_minhash_lsh", "sim_cosine_topk",
]
QUERY_SCALE = 0.05      # contract tables at a twentieth of the sf0.1 row counts
CORPUS_DOCS = 2_000     # dedup corpus
# A run measures at least this many passes. A traced run traces every call
# once over them, and its per-layer metrics come from these passes only.
QUERY_PASSES = 2
# The warm-up pass leaves these calls out, to keep a run within its time
# budget. Once the calls before them had run, a first call of each took as
# long as a later one in wall-clock time with two task slots (on 4 vCPUs,
# 2.6/2.6, 1.3/1.2, 1.5/1.7, 2.4/2.4 and 2.8/2.9 s, first/second); in CPU
# time with one slot the first measured call still cost a median 20 % and up
# to 70 % more than the second (ten runs), so for these calls the end-to-end
# figure rests on the second pass.
NOT_WARMED = {"dedup_minhash_lsh", "sim_cosine_topk", "ngram_jaccard", "minhash_lsh", "simhash_pairs"}
# metric name -> the operators.dedup function and its arguments (those of bench.py's probes)
DEDUP = {
    "ngram_jaccard": ("ngram_jaccard_pairs", {"n": 3, "threshold": 0.5}),
    "minhash_lsh": ("minhash_lsh_pairs", {"n": 3, "num_hashes": 32, "bands": 8, "verify_threshold": 0.5}),
    "simhash_pairs": ("simhash_pairs", {"n": 3, "max_hamming": 12, "verify_threshold": 0.5}),
}


def queries(run: Run) -> tuple[dict, object]:
    """The contract's headline queries over generated tables, then the three
    dedup operators over a near-duplicate corpus. A round is one pass over
    all fourteen calls, each materialized into the driver; the end-to-end
    figure adds up each call's smallest CPU time over the passes."""
    import __spark_entry__ as entry

    from etl_german_fhir_core_spark.operators import dedup

    spark, w = run.spark, run.work
    sf_dir, corpus_dir = f"{w}/sf", f"{w}/corpus"
    for name, t in gen.contract_tables(run.seed, QUERY_SCALE).items():
        gen.write(t, f"{sf_dir}/{name}.parquet")
        run.log(f"input {name} rows={t.num_rows} digest={gen.digest(t)}")
    c = gen.corpus(run.seed, CORPUS_DOCS)
    gen.write(c, corpus_dir, n_files=run.session.partitions)
    run.log(f"input corpus docs={c.num_rows} digest={gen.digest(c)}")

    outputs: dict[str, object] = {}  # first measured pass: result frames
    digests: dict[str, str] = {}
    call_times: dict[str, list[float]] = {}  # per measured pass, in call order
    call_cpu: dict[str, list[float]] = {}
    pairs: dict[str, set] = {}

    def one_pass(measured: bool, p: int = 0) -> None:
        # in a traced run each call is traced in one of two passes: the even
        # calls of pass 0 and the odd calls of pass 1
        call = (lambda j, fn: run.round((p + j) % 2 == 0, fn)) if measured else (lambda _j, fn: fn())
        qs = entry.queries()
        for j, name in enumerate(CONTRACT):
            if not measured and name in NOT_WARMED:
                continue
            t0, c0 = time.perf_counter(), run.cpu_s()
            pdf = call(j, lambda: run.op(f"op.query.{name}", lambda: qs[name](spark, sf_dir).toPandas()))
            dt, dc = time.perf_counter() - t0, run.cpu_s() - c0
            if measured:
                call_times.setdefault(name, []).append(dt)
                call_cpu.setdefault(name, []).append(dc)
            if measured and pdf is not None:
                outputs.setdefault(name, pdf)
                d = checks.pandas_digest(pdf)
                if digests.setdefault(name, d) != d:
                    run.check(f"digest_{name}", False, f"{d} != {digests[name]}")
        corpus = spark.read.parquet(corpus_dir)
        for j, (name, (fn, kwargs)) in enumerate(DEDUP.items(), start=len(CONTRACT)):
            if not measured and name in NOT_WARMED:
                continue
            t0, c0 = time.perf_counter(), run.cpu_s()
            out = call(j, lambda: run.op(f"op.dedup.{name}", lambda: {
                (r[0], r[1]) for r in getattr(dedup, fn)(corpus, "doc_id", "text", **kwargs)
                .select("id1", "id2").collect()}))
            dt, dc = time.perf_counter() - t0, run.cpu_s() - c0
            if measured:
                call_times.setdefault(name, []).append(dt)
                call_cpu.setdefault(name, []).append(dc)
            if measured and out is not None:
                if pairs.setdefault(name, out) != out:
                    run.check(f"pairs_{name}", False, "differs between passes")

    one_pass(measured=False)
    if run.tracer:
        install_tracing(run.tracer)
    setup_s = time.perf_counter() - run.t_start
    run.log("set-up done")
    closed_loop(run.seconds, lambda i: one_pass(True, i), min_ops=QUERY_PASSES)
    run.log("loop done")

    # checks: the recorded outputs against the contract's DuckDB oracle, once
    import duckdb

    con = duckdb.connect()
    checks.duck_views(con, f"{w}/sf", gen.CONTRACT_TABLES)
    oracles = entry.oracle_sql()
    for name in CONTRACT:
        why = "no output" if name not in outputs else checks.frames_match(
            outputs[name], con.execute(oracles[name]).fetchdf())
        run.check(f"oracle_{name}", why is None, why or f"digest={digests[name]}")
    # the exact pair set is the contract's ngram oracle over the corpus
    con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM '{w}/corpus/*.parquet'")
    exact = {(int(a), int(b)) for a, b, _j in con.execute(oracles["dedup_ngram_jaccard"]).fetchall()}
    con.close()
    run.check("ngram_pairs_equal_oracle", pairs.get("ngram_jaccard") == exact, f"pairs={len(exact)}")
    for name in ("minhash_lsh", "simhash_pairs"):
        got = pairs.get(name, set())
        run.check(f"{name}_subset_of_exact", got <= exact, f"pairs={len(got)}")
    dedup_recall = min(recall(pairs.get(n, set()), exact) for n in ("minhash_lsh", "simhash_pairs"))
    passes_s = [sum(xs) for xs in zip(*call_times.values())]
    run.log(f"samples passes={len(passes_s)} "
            f"passes_s={[round(x, 3) for x in passes_s]} dedup_recall={dedup_recall:.4f}")
    for label, per_call in (("calls_s", call_times), ("calls_cpu_s", call_cpu)):
        run.log(f"{label} " + " ".join(f"{n}={','.join(f'{x:.2f}' for x in xs)}"
                                       for n, xs in per_call.items()))
    e2e = {"setup_s": setup_s, "op_cpu_s": sum(min(xs) for xs in call_cpu.values())}
    if not run.trace:
        return e2e, None
    # candidate volumes, counted once after the window under their own spans
    run.tracer.enabled = True
    corpus = spark.read.parquet(f"{w}/corpus")
    cand = {
        "minhash": run.op("op.count.minhash_candidates", lambda: dedup.minhash_lsh_pairs(
            corpus, "doc_id", "text", n=3, num_hashes=32, bands=8, verify_threshold=None).count()) or 0,
        "simhash": run.op("op.count.simhash_candidates", lambda: dedup.simhash_candidates(
            corpus, "doc_id", "text", n=3, max_hamming=12).count()) or 0,
    }
    run.tracer.enabled = False
    verified = len(pairs.get("minhash_lsh", ())) + len(pairs.get("simhash_pairs", ()))
    contract_s = [sum(xs) for xs in zip(*(call_times[n] for n in CONTRACT))]
    return e2e, lambda tv: _query_layers(tv, contract_s, cand, verified, dedup_recall)


def _query_layers(tv: TraceView, contract_s, cand, verified, dedup_recall) -> dict:
    """Per-layer metrics over the first ``QUERY_PASSES`` passes."""
    run = tv.run
    n_calls = len(CONTRACT) + len(DEDUP)
    until = run.rounds[QUERY_PASSES * n_calls - 1][1]
    layer = {f"entry.{n}_s": median([x.duration for x in tv.ops(f"op.query.{n}", until)]) for n in CONTRACT}
    layer["entry.contract_total_s"] = median(contract_s[:QUERY_PASSES])
    for name, (fn, _kwargs) in DEDUP.items():
        ops = tv.ops(f"op.dedup.{name}", until)
        layer[f"operators.{name}_s"] = median([x.duration for x in ops])
        layer[f"operators.{name}_self_s"] = median(
            [sum(tv.self_t[y.id] for y in tv.within(x, f"operators.{fn}")) for x in ops])
        layer[f"operators.{name}_jobs"] = median([tv.job_sum([x], "jobs") for x in ops])
        layer[f"operators.{name}_shuffle_bytes"] = median([tv.job_sum([x], "shuffle_write_bytes") for x in ops])
    layer.update({
        "operators.minhash_candidates": cand["minhash"],
        "operators.simhash_candidates": cand["simhash"],
        "operators.verified_pairs": verified,
        "operators.verified_per_candidate": verified / max(cand["minhash"] + cand["simhash"], 1),
        "operators.dedup_recall": dedup_recall,
        "operators.shm_peak_bytes": run.sampler.peak_shm_bytes,
        "operators.py_worker_rss_peak_mb": run.sampler.peak_worker_kb / 1024.0,
    })
    layer.update(tv.common(until))
    return layer


WORKLOADS = {"cdc_tail": cdc_tail, "queries": queries}

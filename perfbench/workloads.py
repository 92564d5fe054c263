"""The benchmark workloads.

Each workload takes the run context (session, seed, run length, optional
tracer), builds its inputs from the seed, sets up, warms up, measures a
number of units that fills the run length at their nominal pace (see
``window_ops``), then checks its outputs against a DuckDB oracle. Every
timed operation records its wall time and the CPU time of the engine's
processes (see ``tree_cpu_s``).
It calls the engine's public entry points with their shipped defaults
and sets only sizes, seeds, ``chunk_size`` and ``write_mode="auto"``.

trickle
    Set-up generates one LSN-ordered change stream and builds a base
    table from its first 70% with one ``replay()`` chunk (so every later
    event is schema version 3). The measured loop is closed-loop with one
    writer, as ``stream_replay``'s ``foreachBatch`` runs epochs: each
    iteration commits the next micro-batch with
    ``apply_batch(write_mode="auto")``; after every ``READ_EVERY``
    commits it runs one read, in turn a point lookup of a fixed key set,
    a full-snapshot scan and a ``read_changes`` over the last
    ``READ_EVERY`` versions. With ``auto``, commits append merge-on-read
    deltas and every ninth one is a folding copy-on-write apply; the
    window is whole nine-commit cycles.
curate
    A pass runs the registry queries in ``CURATE_QUERIES``, each forced
    with a ``noop`` write, over seeded star-schema and corpus tables.
    The untimed warm-up pass collects every output and compares it with
    the query's oracle SQL in DuckDB.
"""

from __future__ import annotations

import itertools
import os
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import check
import inputs

# The curate pass: seven of the repository's headline queries, one per
# operator family (aggregate, window top-k, latest-per-key, exact and
# near-duplicate detection, text scoring, sequence packing). The full
# headline set does not fit a run: its first pass alone takes ~35 s on
# 4 cores.
CURATE_QUERIES = (
    "pricing_summary",
    "top3_parts_per_brand",
    "lww_latest_events",
    "exact_dedup_docs",
    "minhash_near_dup_pairs",
    "doc_quality_scores",
    "packed_sequences",
)


@dataclass(frozen=True)
class TrickleSizes:
    events: int
    keys: int
    batch: int
    n_buckets: int

    @property
    def base(self) -> int:
        # schema version 3 starts at 70% of the stream (synth.EVOLVE_V3_FRAC):
        # the base holds every evolution step, the micro-batches none
        return int(self.events * 0.7)


TRICKLE = {
    "full": TrickleSizes(events=100_000, keys=20_000, batch=1_000, n_buckets=4),
    "tiny": TrickleSizes(events=20_000, keys=2_000, batch=200, n_buckets=4),
}
READ_EVERY = 3  # commits between two reads: three reads per nine-commit cycle
# Nominal wall time of one measured unit on 4 cores: a trickle cycle, a
# curate pass. A run measures ``window_ops`` of them.
TRICKLE_CYCLE_S = 15.0
CURATE_PASS_S = 6.0
# merge-on-read commits before the window: the first ones still pay JIT
# compilation (their CPU fell by a third over the first cycle)
WARMUP_COMMITS = 2
LOOKUP_KEYS = 16

CURATE = {
    "full": inputs.CurateSizes(customers=1_500, suppliers=100, parts=2_000, orders=15_000,
                               lineitems=60_000, users=150, events=10_000,
                               documents=500, embeddings=500),
    "tiny": inputs.CurateSizes(customers=150, suppliers=10, parts=200, orders=1_500,
                               lineitems=6_000, users=15, events=1_000,
                               documents=50, embeddings=50),
}


@dataclass
class Run:
    """What a workload measured; ``run.py`` turns it into metrics."""

    spark: object
    work: str
    seed: int
    seconds: float
    size: str
    tracer: object | None = None
    setup: dict[str, float] = field(default_factory=dict)
    samples: dict[str, list[float]] = field(default_factory=dict)
    counts: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    measure_start: float = 0.0
    measure_end: float = 0.0

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    @contextmanager
    def setup_phase(self, name: str):
        t0 = time.perf_counter()
        with self.span(f"setup.{name}"):
            yield
        self.setup[name] = self.setup.get(name, 0.0) + time.perf_counter() - t0

    def start_measuring(self) -> None:
        if self.tracer:
            self.tracer.phase = "measure"
        self._cpu0 = _cpu_jiffies()
        self._jvm0 = _jvm_cpu_s(self.spark)
        self.measure_start = time.perf_counter()

    def stop_measuring(self) -> None:
        self.measure_end = time.perf_counter()
        (total0, steal0), (total1, steal1) = self._cpu0, _cpu_jiffies()
        self.counts["steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
        self.counts["jvm_cpu_s"] = _jvm_cpu_s(self.spark) - self._jvm0

    def op(self, name: str, fn, span: str | None = None):
        """Run one timed operation; a raised error counts as failed."""
        self.attempted += 1
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with self.span(span or f"bench.{name}"):
                out = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        self.sample(name, time.perf_counter() - t0)
        self.sample(f"{name}_cpu", tree_cpu_s() - c0)
        return out

    def verify(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check failed: {what}", file=sys.stderr)


def _cpu_jiffies() -> tuple[int, int]:
    """(all, steal) CPU time of the machine so far: the share stolen by
    the hypervisor explains slow runs on a shared host."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


def tree_cpu_s() -> float:
    """CPU seconds (user + system, waited-for children included) used so
    far by this process and every process below it, the driver JVM and
    the Python workers it forks, less the JVM's JIT compiler threads.

    Time the hypervisor steals from the machine is not in it. The JIT's
    share is left out because it is the noisiest part: the C2 compiler
    used from 1.8 to 9.8 CPU seconds per curate pass.
    """
    me = os.getpid()
    parent, used = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        used[pid] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, ticks in used.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me and pid != me:
            total += ticks - sum(_ticks(f"/proc/{pid}/task/{t}") for t in _jit_threads(pid))
        elif p == me:
            total += ticks
    return total / os.sysconf("SC_CLK_TCK")


_JIT_THREADS: dict[int, list[int]] = {}


def _jit_threads(pid: int) -> list[int]:
    """Thread ids of a JVM's JIT compilers; none for other processes.
    The set is fixed for the JVM's life (``start_session`` turns off
    ``UseDynamicNumberOfCompilerThreads``), so it is listed once."""
    if pid not in _JIT_THREADS:
        tids = []
        try:
            for t in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{t}/comm") as f:
                    if f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                        tids.append(int(t))
        except OSError:
            pass
        _JIT_THREADS[pid] = tids
    return _JIT_THREADS[pid]


def _ticks(proc_path: str) -> int:
    try:
        with open(f"{proc_path}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return int(fields[11]) + int(fields[12])


def _jvm_cpu_s(spark) -> float:
    """CPU seconds (user + system) the driver JVM has used so far."""
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def window_ops(seconds: float, nominal_s: float) -> int:
    """Units a run measures: as many as fill ``seconds`` at their nominal
    pace, and at least one.

    The count depends on the run length only, not on how fast this run
    goes. A window that ended on the clock would measure fewer units on
    a slowed host, and fewer means earlier ones: each unit costs less CPU
    than the one before while the JIT is still compiling, so slow runs
    would also read higher per unit.
    """
    return max(1, round(seconds / nominal_s))


def fold_cycle() -> int:
    """Commits per auto-mode cycle: ``apply_batch``'s shipped
    ``mor_max_deltas`` merge-on-read appends, then one folding commit
    (each micro-batch touches every bucket)."""
    import inspect

    from medallion_etl_spark.cdc.apply import apply_batch

    return inspect.signature(apply_batch).parameters["mor_max_deltas"].default + 1


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


# ---- trickle ----------------------------------------------------------------


def trickle(run: Run, *, corrupt: bool = False) -> None:
    from pyspark.sql import functions as F

    from medallion_etl_spark.cdc import apply as apply_mod
    from medallion_etl_spark.cdc import replay as replay_mod
    from medallion_etl_spark.cdc.table import LakeTable

    spark, sz = run.spark, TRICKLE[run.size]
    ev_path = os.path.join(run.work, "events")
    root = os.path.join(run.work, "table")

    with run.setup_phase("generate"):
        inputs.write_change_stream(ev_path, sz.events, sz.keys, run.seed)
    events = spark.read.parquet(ev_path)
    lsn = F.col("lsn")

    with run.setup_phase("base_table"):
        table = LakeTable.create(root, n_buckets=sz.n_buckets)
        res = replay_mod.replay(spark, events.filter(lsn < sz.base), table, chunk_size=sz.base)
    run.counts["replay.chunks"] = res["batches_applied"]
    run.counts["replay.upfront_stats_s"] = res["phase_totals"]["upfront_stats"]

    keys = ["hot-0", "hot-1"] + [
        f"doc-{(run.seed * 7919 + i * (sz.keys // LOOKUP_KEYS)) % sz.keys}"
        for i in range(LOOKUP_KEYS - 2)
    ]
    state = {"next_lsn": sz.base, "batch_id": 1 << 20, "commits": 0, "events": 0}

    def commit() -> dict | None:
        lo = state["next_lsn"]
        hi = min(lo + sz.batch, sz.events) - 1
        batch = events.filter(lsn.between(lo, hi))
        res = run.op("commit", lambda: apply_mod.apply_batch(
            spark, table, batch, state["batch_id"], lo, hi, write_mode="auto"
        ))
        state["next_lsn"] = hi + 1
        state["batch_id"] += 1
        if res is not None:
            state["commits"] += 1
            state["events"] += hi - lo + 1
        return res

    depths: list[int] = []
    read_ops = {
        "lookup": lambda: table.lookup(spark, keys).collect(),
        "scan": lambda: _noop(table.read(spark)),
        "feed": lambda: _noop(table.read_changes(spark, max(table.version - READ_EVERY, 0))),
    }

    def read(kind: str) -> None:
        depths.append(table.detail()["delta_dirs"])
        run.op(kind, read_ops[kind])

    with run.setup_phase("warmup"):
        for _ in range(WARMUP_COMMITS):
            commit()
        for kind in read_ops:
            read(kind)
    run.samples.clear()
    depths.clear()
    state["commits"] = state["events"] = 0

    # The window is made of whole auto-mode cycles of ``fold_cycle()``
    # commits, one of which folds. Every ``READ_EVERY`` commits one read
    # runs, the kinds in turn, so each kind meets the same delta depth in
    # every cycle. The number of cycles follows from the run length alone
    # (see ``window_ops``), so every run measures the same work.
    cycle = fold_cycle()
    kinds = itertools.cycle(read_ops)
    run.start_measuring()
    timings: dict[str, float] = {}
    for _ in range(window_ops(run.seconds, TRICKLE_CYCLE_S)):
        if state["next_lsn"] + cycle * sz.batch > sz.events:
            print("trickle: the generated stream ran out before the run length", file=sys.stderr)
            break
        for i in range(1, cycle + 1):
            res = commit()
            if res is not None:
                mode = res.get("write_mode", "cow")
                run.sample(f"commit_{mode}", run.samples["commit"][-1])
                run.sample(f"commit_{mode}_cpu", run.samples["commit_cpu"][-1])
                for phase, sec in res.get("timings", {}).items():
                    timings[phase] = timings.get(phase, 0.0) + sec
            if i % READ_EVERY == 0:
                read(next(kinds))
    run.stop_measuring()

    n = max(state["commits"], 1)
    run.counts.update({
        "commits": state["commits"],
        "events": state["events"],
        "mor_share": len(run.samples.get("commit_mor", [])) / n,
        **{f"apply.{k}_s": v / n for k, v in timings.items()},
    })

    # untimed checks and end-of-run table facts
    final = LakeTable.load(root)
    md_dir = os.path.join(root, "metadata")
    versions = [f for f in os.listdir(md_dir) if f.startswith("version-")]
    run.counts["delta_dirs"] = sum(depths) / max(len(depths), 1)
    run.counts["version_doc_bytes"] = os.path.getsize(
        os.path.join(md_dir, f"version-{final.version}.json")
    )
    run.counts["meta_bytes_per_commit"] = _dir_bytes(md_dir) / max(len(versions), 1)
    if corrupt:
        _drop_one_row(spark, final)
        final = LakeTable.load(root)
    got = check.table_state(spark, final)
    want = check.lww_oracle(ev_path, state["next_lsn"] - 1)
    run.verify(got == want, f"trickle table state {got} != LWW oracle {want}")
    run.counts["stored_bytes_per_row"] = _dir_bytes(root) / max(got[0], 1)


def _drop_one_row(spark, table) -> None:
    """Negative-test hook: rewrite one bucket without one of its rows,
    committed through the table's own commit path."""
    from pyspark.sql import functions as F

    bucket = min(int(b) for b in table.meta["buckets"])
    rows = table.read(spark, buckets=[bucket], raw=True)
    victim = rows.filter(~F.col("_deleted")).select(table.key_col).first()[0]
    rel = table.new_data_dir()
    (
        rows.filter(F.col(table.key_col) != victim)
        .withColumn("_bucket", F.lit(bucket))
        .write.options(**table.writer_options())
        .partitionBy("_bucket")
        .parquet(os.path.join(table.root, rel))
    )
    from medallion_etl_spark.cdc.table import map_bucket_dirs

    table.commit(map_bucket_dirs(table.root, rel), set(), None)


# ---- curate -----------------------------------------------------------------


def curate(run: Run, *, corrupt: bool = False) -> None:
    from medallion_etl_spark.operators import collect_queries

    spark = run.spark
    data = os.path.join(run.work, "tables")
    with run.setup_phase("generate"):
        inputs.write_curate_tables(data, CURATE[run.size], run.seed)
    registry = collect_queries()
    queries = [(name, registry[name]) for name in CURATE_QUERIES]

    # warm-up pass: pays JIT and codegen, and collects every output for
    # the oracle comparison (the DuckDB side is computed once per run)
    outputs = {}
    with run.setup_phase("warmup"):
        for name, (fn, _sql) in queries:
            with run.span(f"operators.{name}"):
                outputs[name] = fn(spark, data).toPandas()
    con = check.duck_views(data, inputs.CURATE_TABLES)
    try:
        for i, (name, (_fn, sql)) in enumerate(queries):
            got = outputs[name]
            if corrupt and i == 0:
                got = got.iloc[1:]
            run.verify(check.query_matches(got, con.sql(sql).df()), f"query {name}")
    finally:
        con.close()

    run.start_measuring()
    for _ in range(window_ops(run.seconds, CURATE_PASS_S)):
        t0 = time.perf_counter()
        for name, (fn, _sql) in queries:
            run.op(name, lambda fn=fn: _noop(fn(spark, data)), span=f"operators.{name}")
        run.sample("pass", time.perf_counter() - t0)
        run.sample("pass_cpu", sum(run.samples[f"{q}_cpu"][-1] for q in CURATE_QUERIES))
    run.stop_measuring()


WORKLOADS = {"trickle": trickle, "curate": curate}

"""The benchmark's workloads. Each drives pyskudu's public API from one
client in a closed loop (every call waits for the previous one), checks
every result against inputs it generated from the seed, and returns the
raw samples; ``run.py`` turns them into metrics.

Sizes are scaled down from the sizes the workloads were first
designed at (see ``metrics.json``) so that a run, with Spark start-up
and set-up, stays near 45 seconds at 4 cores.
"""

from __future__ import annotations

import io
import math
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from stats import ReferenceModel, latency_summary, row_hash

# set-up is repeated this many times per run; setup_s is the median
SETUP_REPEATS = 3
# paired engine/parquet scans of the state a workload leaves behind
END_STATE_PAIRS = 3

NARROW = [("k", "bigint", False), ("a", "int", True), ("b", "double", True),
          ("s", "string", True)]
NARROW_COLS = [c for c, _, _ in NARROW]
NARROW_DTYPES = {"k": "int64", "a": "int32", "b": "float64", "s": object}


@dataclass
class OpRecord:
    kind: str
    seconds: float = 0.0
    rows: int = 0
    traced: bool = False
    op_id: str | None = None
    failed: bool = False
    error: str | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    py4j: int = 0
    files_created: int = 0
    bytes_created: int = 0
    log_commits: list = field(default_factory=list)
    cached: bool | None = None
    # the paired plain-parquet reference for the same work, if any
    ref_seconds: float | None = None


class Ctx:
    """What a workload needs: the session, a warehouse, the seed, the
    run length and, in a traced run, the tracer."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer=None):
        from kudu_spark.engine import Engine

        self.spark = spark
        self.sc = spark.sparkContext
        self.work = work
        self.warehouse = os.path.join(work, "warehouse")
        self.engine = Engine(spark, self.warehouse)
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.seconds = seconds
        self.tracer = tracer
        self.ops: list[OpRecord] = []
        self.failures: list[str] = []
        self.setup_times: list[float] = []
        self.detail: dict = {}
        self.env: dict = {}
        self.warming = False
        self.warmup_ops: list[OpRecord] = []

    # -- ops ---------------------------------------------------------------

    @contextmanager
    def op(self, kind: str, table_root: str | None = None):
        """Time one closed-loop call. An exception marks the op failed
        and is recorded, not raised. In a traced run every other op of each
        kind is traced (the rest measure the untraced cost for
        ``trace.overhead_frac``); a traced op runs under its own Spark
        job group and is followed, outside its timed interval, by the
        collection of its jobs, files and commits."""
        rec = OpRecord(kind)
        tr = self.tracer
        rec.traced = (tr is not None and not self.warming
                      and sum(r.kind == kind for r in self.ops) % 2 == 0)
        if rec.traced:
            rec.op_id = f"op{len(self.ops)}"
            files0 = dir_files(self.warehouse)
            head0 = _head(table_root)
            self.sc.setJobGroup(rec.op_id, kind)
            tr.op_id, tr.py4j_calls, tr.enabled = rec.op_id, 0, True
            root_span = tr.span(kind, "bench")
            root_span.__enter__()
        t0 = time.perf_counter()
        try:
            yield rec
        except Exception as e:  # an op that raises is counted, not fatal
            rec.failed = True
            rec.error = f"{kind}: {type(e).__name__}: {str(e)[:300]}"
        finally:
            rec.seconds = time.perf_counter() - t0
            if rec.traced:
                root_span.__exit__(None, None, None)
                tr.enabled = False
                tr.op_id = None
                rec.py4j = tr.py4j_calls
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self._collect_jobs(rec)
                files1 = dir_files(self.warehouse)
                new = {p: b for p, b in files1.items() if p not in files0}
                rec.files_created, rec.bytes_created = len(new), sum(new.values())
                rec.log_commits = _commits_since(table_root, head0)
            (self.warmup_ops if self.warming else self.ops).append(rec)
            if rec.failed:
                self.failures.append(rec.error)

    def _collect_jobs(self, rec: OpRecord) -> None:
        tracker = self.sc.statusTracker()
        for j in tracker.getJobIdsForGroup(rec.op_id):
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            rec.jobs += 1
            for s in info.stageIds:
                rec.stages += 1
                si = tracker.getStageInfo(s)
                rec.tasks += si.numTasks if si is not None else 0

    def note_plan(self, rec: OpRecord, df) -> None:
        """In a traced op, record whether the executed plan of ``df``
        read a persisted frame: the resident merged-dirty rows or a
        cached key frame."""
        if rec.traced and not rec.failed:
            plan = df._jdf.queryExecution().executedPlan().toString()
            rec.cached = "InMemoryTableScan" in plan

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append(what)

    def fail_last(self, what: str) -> None:
        """Mark the newest op failed: its result did not check out."""
        rec = (self.warmup_ops if self.warming else self.ops)[-1]
        if not rec.failed:
            rec.failed = True
            rec.error = what
            self.failures.append(what)

    def timed_setup(self, build):
        """Run ``build`` SETUP_REPEATS times, recording each duration;
        returns every build's result (the last is used)."""
        tr = self.tracer
        if tr is not None:
            tr.enabled, tr.op_id = True, "setup"
        out = []
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            out.append(build(i))
            self.setup_times.append(time.perf_counter() - t0)
        if tr is not None:
            # set-up spans stay in the spans file; the counters restart
            tr.enabled, tr.op_id = False, None
            tr.prune_kept = tr.prune_total = tr.probe_calls = tr.probe_hits = 0
        return out

    def warm_up(self, do, kinds) -> None:
        """Run one untimed op of each kind, so that the timed loop does
        not start with the first-use cost of each code path (class
        loading, code generation); their results are still checked."""
        self.warming = True
        try:
            for kind in kinds:
                do(kind)
        finally:
            self.warming = False

    def blocks(self, nominal_s: float) -> int:
        """Whole blocks of the op mix to run: the run length over a
        block's nominal duration at 4 cores. The count, not a timer,
        ends the loop, so one seed always issues the same ops and the
        byte counts repeat exactly."""
        return max(1, int(self.seconds / nominal_s + 0.5))

    def primary(self, kinds) -> list[OpRecord]:
        return [r for r in self.ops if r.kind in kinds and not r.failed]


# -- helpers ------------------------------------------------------------------


def dir_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


def dir_bytes(root: str) -> int:
    return sum(dir_files(root).values())


def parquet_dir_bytes(root: str) -> int:
    """Bytes of the parquet files Spark wrote under ``root`` (not its
    checksum and marker files)."""
    return sum(b for p, b in dir_files(root).items() if p.endswith(".parquet"))


def _head(table_root: str | None):
    if table_root is None:
        return None
    from kudu_spark.meta import head_version

    return head_version(table_root)


def _commits_since(table_root: str | None, head0) -> list:
    """(op, rows added, bytes added, files added) per commit after head0."""
    if table_root is None:
        return []
    from kudu_spark.meta import read_log

    out = []
    for c in read_log(table_root, min_version=head0 or 0):
        adds = [a["file"] for a in c.get("actions", []) if a["type"] == "add"]
        out.append((c.get("op"), sum(f.get("rows", 0) for f in adds),
                    sum(f.get("bytes", 0) for f in adds), len(adds)))
    return out


def is_scan(kind: str) -> bool:
    """Ops that time one engine query (analytics q1/q6, end-state scans)."""
    return kind.endswith((".q1", ".q6", ".scan"))


def timed_collect(build):
    """Build a DataFrame and collect it, timing both."""
    t0 = time.perf_counter()
    rows = [tuple(r) for r in build().collect()]
    return rows, time.perf_counter() - t0


def dirty_budget() -> int:
    from kudu_spark.table import Table

    return Table.DIRTY_CACHE_MAX_BYTES


def fits_dirty_budget(ctx: Ctx, table, must_fit: bool) -> None:
    """Record the table's data bytes over Table.DIRTY_CACHE_MAX_BYTES and
    fail the run if the table is on the wrong side of it, so a resize of
    either cannot move a workload across the cache boundary unseen."""
    data_bytes = sum(f.bytes for f in table.state().files)
    budget = dirty_budget()
    ctx.env["table_bytes_vs_dirty_cache"] = data_bytes / budget
    if (data_bytes <= budget) != must_fit:
        side = "fit" if must_fit else "exceed"
        raise RuntimeError(f"{table.name} ({data_bytes} B) must {side} the dirty-cache "
                           f"budget ({budget} B)")


def parquet_bytes(pdf: pd.DataFrame) -> int:
    """Bytes of ``pdf`` written once as one plain snappy parquet file."""
    buf = io.BytesIO()
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), buf,
                   compression="snappy")
    return buf.tell()


def write_parquet(pdf: pd.DataFrame, path: str, files: int) -> int:
    """Write ``pdf`` (sorted by its first column) as ``files`` parquet
    files under ``path``; returns their total bytes."""
    os.makedirs(path, exist_ok=True)
    pdf = pdf.sort_values(pdf.columns[0], kind="stable").reset_index(drop=True)
    total = 0
    for i, part in enumerate(np.array_split(np.arange(len(pdf)), files)):
        fp = os.path.join(path, f"part-{i:03d}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf.iloc[part], preserve_index=False), fp,
                       compression="snappy")
        total += os.path.getsize(fp)
    return total


def narrow_rows(rng, keys: np.ndarray) -> pd.DataFrame:
    n = len(keys)
    return pd.DataFrame({
        "k": keys.astype("int64"),
        "a": rng.integers(0, 1000, n).astype("int32"),
        "b": np.round(rng.random(n) * 1000.0, 3),
        "s": [f"v{x:x}" for x in rng.integers(0, 1 << 40, n)],
    })


def to_spark(ctx: Ctx, pdf: pd.DataFrame):
    ddl = ", ".join(f"{c} {t}" for c, t, _ in NARROW)
    return ctx.spark.createDataFrame(pdf, ddl)


def narrow_agg(df):
    """A q1-like group-by over the narrow schema."""
    from pyspark.sql import functions as F

    return (df.groupBy((F.col("a") % 10).alias("g"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("b").alias("sb"),
                 F.max("s").alias("ms"), F.sum("k").alias("sk")))


def same_rows(a: list, b: list, rel: float = 1e-9) -> bool:
    """Equal multisets of result rows; floats compare within ``rel``."""
    if len(a) != len(b):
        return False
    key = lambda r: tuple("" if v is None else (round(v, 3) if isinstance(v, float) else v)
                          for v in r)
    for x, y in zip(sorted(a, key=key), sorted(b, key=key)):
        for u, v in zip(x, y):
            if isinstance(u, float) or isinstance(v, float):
                if not math.isclose(u, v, rel_tol=rel, abs_tol=1e-6):
                    return False
            elif u != v:
                return False
    return True


def paired_scans(ctx: Ctx, engine_df_fn, parquet_df_fn, pairs: int, kind: str):
    """Run ``pairs`` engine/parquet pairs of the same query, alternating
    which side runs first; each engine result must equal its parquet
    pair. Two untimed engine runs and one parquet run come first: the
    second scan of a snapshot is the one that makes its merged dirty
    rows resident, so the pairs time the repeat-scan steady state.
    Returns (engine seconds, parquet seconds) lists."""
    for build in (engine_df_fn, engine_df_fn, parquet_df_fn):
        build().collect()
    eng_t, pq_t = [], []
    for i in range(pairs):
        res = {}
        for side in ("e", "p") if i % 2 == 0 else ("p", "e"):
            if side == "p":
                res["p"], dt = timed_collect(parquet_df_fn)
                pq_t.append(dt)
                continue
            with ctx.op(f"{kind}.scan") as rec:
                df = engine_df_fn()
                res["e"] = [tuple(r) for r in df.collect()]
            ctx.note_plan(rec, df)
            eng_t.append(rec.seconds)
        if not rec.failed and not same_rows(res["e"], res["p"]):
            ctx.fail_last(f"{kind}: engine result != parquet result")
    return eng_t, pq_t


def end_state(ctx: Ctx, table, model: ReferenceModel, kind: str) -> dict:
    """Check the table's live rows against the reference model (count +
    order-independent hash), write the same live rows once as plain
    parquet, and time paired engine/parquet scans of that state."""
    live = model.frame().astype(NARROW_DTYPES)
    got = table.scan().toPandas()
    want_h, got_h = row_hash(live, NARROW_COLS), row_hash(got, NARROW_COLS)
    ctx.check(got_h == want_h,
              f"{kind}: live rows (count, hash) {got_h} != reference {want_h}")
    pq_dir = os.path.join(ctx.work, f"{kind}_live_parquet")
    live_bytes = write_parquet(live, pq_dir, files=4)
    eng_t, pq_t = paired_scans(ctx, lambda: narrow_agg(table.scan()),
                               lambda: narrow_agg(ctx.spark.read.parquet(pq_dir)),
                               END_STATE_PAIRS, kind)
    ctx.detail["end_state_pairs_s"] = [(round(e, 4), round(p, 4)) for e, p in zip(eng_t, pq_t)]
    return {"live_rows": got_h[0], "live_parquet_bytes": live_bytes,
            "table_bytes": dir_bytes(table.root),
            "scan_vs_parquet": statistics.median(e / p for e, p in zip(eng_t, pq_t))}


def summarize(ctx: Ctx, kinds, rows: int, timed: float, created: int, user_bytes: int,
              es: dict, op_ratio: float | None = None) -> dict:
    """The candidate end-to-end figures every workload reports.
    ``op_vs_parquet`` is the median of the primary ops' paired ratios
    unless the workload passes its own ``op_ratio``."""
    prim = ctx.primary(kinds)
    if op_ratio is None:
        op_ratio = statistics.median(r.seconds / r.ref_seconds for r in prim if r.ref_seconds)
    return {
        "op_p50_s": statistics.median(r.seconds for r in prim),
        "op_vs_parquet": op_ratio,
        "rows_per_s": rows / timed,
        "space_amp": es["table_bytes"] / es["live_parquet_bytes"],
        "write_amp": created / user_bytes,
        "scan_vs_parquet": es["scan_vs_parquet"],
    }


def created_since(ctx: Ctx, before: dict) -> int:
    return sum(b for p, b in dir_files(ctx.warehouse).items() if p not in before)


# -- ingest -------------------------------------------------------------------

INGEST_ROWS = 50_000
INGEST_SMALL = 1_000
INGEST_LARGE = INGEST_ROWS // 10
# one block of the seeded mix, shuffled per block; whole blocks run, so
# the mix is exact
INGEST_BLOCK = ["upsert"] * 7 + ["insert", "delete_sql", "upsert_large"]
INGEST_BLOCK_S = 20.0
INGEST_PRIMARY = ("upsert", "insert", "delete_sql")


def ingest(ctx: Ctx) -> dict:
    """Write-heavy: seeded upserts, inserts and SQL range deletes on a
    4-hash x 4-range table, skewed to the newest keys. Every upsert and
    insert is paired with appending the same rows to a plain parquet
    directory, in alternating order. Inserts go through a
    writer.Session, as a client's buffered row ops."""
    from kudu_spark.writer import Session

    rng = ctx.rng
    n = INGEST_ROWS
    base = narrow_rows(rng, np.arange(n))
    spec = dict(pk=["k"], hash_partitions=[{"columns": ["k"], "buckets": 4}],
                range_partition={"column": "k", "splits": [n // 4, n // 2, 3 * n // 4]})

    def build(i):
        name = f"ingest{i}"
        df = to_spark(ctx, base)
        t = ctx.engine.create_table(name, NARROW, **spec)
        t.insert(df)
        return name

    names = ctx.timed_setup(build)
    for old in names[:-1]:
        ctx.engine.drop_table(old)
    name = names[-1]
    t = ctx.engine.table(name)
    fits_dirty_budget(ctx, t, True)
    model = ReferenceModel("k", ["a", "b", "s"])
    model.upsert(base["k"].to_numpy(), base[["a", "b", "s"]].itertuples(index=False))
    ref_dir = os.path.join(ctx.work, "ingest_user_batches")
    hi = n  # next new key; the key space is [0, hi)
    deleted_key_bytes = 0

    def pick(count):
        recent = rng.binomial(count, 0.8)
        lo = hi - hi // 10
        ks = np.concatenate([rng.integers(lo, hi, recent), rng.integers(0, hi, count - recent)])
        return np.unique(ks)

    def do(kind):
        nonlocal hi, deleted_key_bytes
        if kind == "delete_sql":
            lo = int(rng.integers(hi - hi // 10, hi) if rng.random() < 0.8
                     else rng.integers(0, hi))
            hi_k = lo + INGEST_SMALL - 1
            with ctx.op(kind, t.root) as rec:
                res = ctx.engine.sql(f"DELETE FROM {name} WHERE k BETWEEN {lo} AND {hi_k}")
            if rec.failed:
                return
            affected = res.collect()[0]["rows_affected"]
            rec.rows = deleted = model.delete_range(lo, hi_k)
            deleted_key_bytes += parquet_bytes(pd.DataFrame(
                {"k": np.arange(lo, hi_k + 1, dtype="int64")}))
            if affected != deleted:
                ctx.fail_last(f"delete_sql [{lo},{hi_k}]: rows_affected "
                              f"{affected} != reference {deleted}")
            return
        if kind == "insert":
            keys = np.arange(hi, hi + INGEST_SMALL)
            hi += INGEST_SMALL
        else:
            keys = pick(INGEST_LARGE if kind == "upsert_large" else INGEST_SMALL)
        batch = narrow_rows(rng, keys)
        df = to_spark(ctx, batch)
        rows = batch.to_dict("records")

        def reference():
            # the faster of two appends of the batch (the second to a
            # spare directory): one ~0.1 s write is too noisy a divisor
            times = []
            for d in (ref_dir, ref_dir + "_again"):
                t0 = time.perf_counter()
                df.coalesce(1).write.mode("append").parquet(d)
                times.append(time.perf_counter() - t0)
            return min(times)

        ref_first = len(ctx.ops) % 2 == 1
        ref_s = reference() if ref_first else None
        with ctx.op(kind, t.root) as rec:
            if kind == "insert":  # buffered row ops, as a client session sends them
                s = Session(t)
                for r in rows:
                    s.insert(r)
                s.flush()
            else:
                t.upsert(df)
        rec.ref_seconds = ref_s if ref_first else reference()
        if rec.failed:
            return
        rec.rows = len(batch)
        vals = batch[["a", "b", "s"]].itertuples(index=False)
        (model.insert if kind == "insert" else model.upsert)(batch["k"].to_numpy(), vals)

    ctx.warm_up(do, ["upsert"])
    before, warm_bytes = dir_files(ctx.warehouse), parquet_dir_bytes(ref_dir)
    t_start = time.perf_counter()
    for _ in range(ctx.blocks(INGEST_BLOCK_S)):
        for kind in rng.permutation(INGEST_BLOCK):
            do(kind)
    timed = time.perf_counter() - t_start
    created = created_since(ctx, before)
    user_bytes = parquet_dir_bytes(ref_dir) - warm_bytes + deleted_key_bytes

    es = end_state(ctx, t, model, "ingest")
    rows = sum(r.rows for r in ctx.ops)
    out = summarize(ctx, INGEST_PRIMARY, rows, timed, created, user_bytes, es)
    mut = [r.seconds for r in ctx.primary(INGEST_PRIMARY)]
    ctx.detail.update({
        "ingest_rows_per_s": out["rows_per_s"],
        "mutate_latency_s": latency_summary(mut),
        "bytes_on_disk_per_live_row": es["table_bytes"] / es["live_rows"],
        "final_version": t.version,
    })
    return {**out, "primary_kinds": INGEST_PRIMARY, "table_root": t.root}


# -- analytics ----------------------------------------------------------------

ANALYTICS_ROWS = 160_000
# The resident dirty cache is skipped once a table's dirty parquet exceeds
# Table.DIRTY_CACHE_MAX_BYTES (256 MiB). The analytics table is scaled
# down ~16x from its 2.5M-row design, so the budget is scaled down with
# it, in this workload only; the table must still exceed it.
ANALYTICS_BUDGET_SCALE = 32
# nominal seconds of one q1+q6 round (both sides) at 4 cores
ANALYTICS_ROUND_S = 0.9
ANALYTICS_SCHEMA = [("k", "bigint", False), ("flag", "string", True), ("qty", "double", True),
                    ("price", "double", True), ("disc", "double", True), ("day", "int", True),
                    ("payload", "string", True)]


def _analytics_frame(ctx: Ctx):
    """Lineitem-like rows with a 128-character payload, derived from the
    key and the seed only."""
    from pyspark.sql import functions as F

    seed = F.lit(ctx.seed)

    def h(salt):
        return F.abs(F.xxhash64(F.col("id"), seed, F.lit(salt)))

    return ctx.spark.range(ANALYTICS_ROWS, numPartitions=8).select(
        F.col("id").alias("k"),
        F.element_at(F.array(F.lit("A"), F.lit("N"), F.lit("R")),
                     (h(0) % 3 + 1).cast("int")).alias("flag"),
        ((h(1) % 50) + 1).cast("double").alias("qty"),
        F.round((h(2) % 100000) / 10.0, 2).alias("price"),
        ((h(3) % 11) / 100.0).alias("disc"),
        (h(4) % 2557).cast("int").alias("day"),
        F.concat(F.sha2(F.concat_ws(":", F.col("id"), seed), 256),
                 F.sha2(F.concat_ws(";", seed, F.col("id")), 256)).alias("payload"),
    )


def q1(df):
    from pyspark.sql import functions as F

    return (df.where(F.col("day") <= 2400).groupBy("flag")
            .agg(F.sum("qty").alias("sum_qty"),
                 F.sum(F.col("price") * (1 - F.col("disc"))).alias("sum_disc_price"),
                 F.count(F.lit(1)).alias("n")))


def q6(df):
    from pyspark.sql import functions as F

    return (df.where((F.col("day") >= 730) & (F.col("day") < 1095)
                     & (F.col("disc") >= 0.05) & (F.col("disc") <= 0.07)
                     & (F.col("qty") < 24))
            .agg(F.sum(F.col("price") * F.col("disc")).alias("rev"), F.count(F.lit(1)).alias("n")))


def analytics(ctx: Ctx) -> dict:
    """Scan-heavy: q1/q6 on the engine paired with the same live rows as
    plain parquet in one process, on a table too large for the resident
    dirty cache, in three states: clean, mutated (10% upsert + 2%
    delete) and after one compact(). Ends with one diff_scan."""
    from pyspark.sql import functions as F

    from kudu_spark.table import Table

    Table.DIRTY_CACHE_MAX_BYTES //= ANALYTICS_BUDGET_SCALE
    rng = ctx.rng
    gen = _analytics_frame(ctx)
    spec = dict(pk=["k"], hash_partitions=[{"columns": ["k"], "buckets": 8}])

    def build(i):
        name = f"analytics{i}"
        t = ctx.engine.create_table(name, ANALYTICS_SCHEMA, **spec)
        t.insert(gen)
        return name

    names = ctx.timed_setup(build)
    for old in names[:-1]:
        ctx.engine.drop_table(old)
    t = ctx.engine.table(names[-1])
    clean_version = t.version
    fits_dirty_budget(ctx, t, False)

    pq_clean = os.path.join(ctx.work, "analytics_clean_parquet")
    gen.write.mode("overwrite").parquet(pq_clean)
    r_up, r_del = int(rng.integers(0, 10)), int(rng.integers(0, 50))
    upserts = gen.where(F.col("k") % 10 == r_up).withColumn("qty", F.col("qty") + 1)
    deletes = gen.where(F.col("k") % 50 == r_del).select("k")
    live_mutated = (gen.where((F.col("k") % 10 != r_up) & (F.col("k") % 50 != r_del))
                    .unionByName(upserts.where(F.col("k") % 50 != r_del)))
    per_state = max(2, int(ctx.seconds / 3 / ANALYTICS_ROUND_S + 0.5))
    rounds: dict[str, list] = {}

    def run_state(state: str, pq_dir: str, live: int, n_rounds: int) -> None:
        """``n_rounds`` rounds of q1 then q6, each an engine/parquet
        pair whose leading side alternates."""
        ratios = []
        for i in range(n_rounds):
            for j, (qname, qfn) in enumerate((("q1", q1), ("q6", q6))):
                res = {}
                engine_first = (i + j) % 2 == 0
                for side in ("e", "p") if engine_first else ("p", "e"):
                    if side == "p":
                        res["p"], ref_s = timed_collect(
                            lambda: qfn(ctx.spark.read.parquet(pq_dir)))
                        continue
                    with ctx.op(f"{state}.{qname}", t.root) as rec:
                        df = qfn(t.scan())
                        res["e"] = [tuple(r) for r in df.collect()]
                    rec.rows = live
                    ctx.note_plan(rec, df)
                rec.ref_seconds = ref_s
                ratios.append(rec.seconds / ref_s)
                if not rec.failed and not same_rows(res["e"], res["p"]):
                    ctx.fail_last(f"{state}.{qname}: engine result != parquet result")
        rounds[state] = ratios

    ctx.warm_up(lambda _: run_state("clean", pq_clean, ANALYTICS_ROWS, 1), ["round"])
    t_start = time.perf_counter()
    run_state("clean", pq_clean, ANALYTICS_ROWS, per_state)
    before = dir_files(ctx.warehouse)
    with ctx.op("mutate", t.root):
        t.upsert(upserts)
        t.delete(deletes)
    pq_mut = os.path.join(ctx.work, "analytics_mutated_parquet")
    live_mutated.write.mode("overwrite").parquet(pq_mut)
    live = ctx.spark.read.parquet(pq_mut).count()
    run_state("mutated", pq_mut, live, per_state)
    with ctx.op("compact", t.root):
        t.compact()
    created = created_since(ctx, before)
    run_state("compacted", pq_mut, live, per_state)
    with ctx.op("diff_scan", t.root):
        n_diff = t.diff_scan(clean_version).count()
    want_diff = gen.where((F.col("k") % 10 == r_up) | (F.col("k") % 50 == r_del)).count()
    if n_diff != want_diff:
        ctx.fail_last(f"diff_scan rows {n_diff} != {want_diff}")
    timed = time.perf_counter() - t_start

    user_dir = os.path.join(ctx.work, "analytics_user_batches")
    upserts.write.mode("overwrite").parquet(user_dir + "/upserts")
    deletes.write.mode("overwrite").parquet(user_dir + "/deletes")
    med = {s: statistics.median(r) for s, r in rounds.items()}
    kinds = tuple(f"{s}.{q}" for s in rounds for q in ("q1", "q6"))
    queries = ctx.primary(kinds)
    # the states' ratios differ (merge-on-read), so pooling them would
    # put the median between states: take each state's median instead
    geo = math.exp(sum(map(math.log, med.values())) / len(med))
    es = {"table_bytes": dir_bytes(t.root), "live_parquet_bytes": parquet_dir_bytes(pq_mut),
          "scan_vs_parquet": geo}
    out = summarize(ctx, kinds, sum(r.rows for r in queries), sum(r.seconds for r in queries),
                    created, parquet_dir_bytes(user_dir), es, op_ratio=geo)
    ctx.detail.update({
        "scan_rows_per_s": out["rows_per_s"],
        "scan_vs_parquet_clean": med["clean"],
        "scan_vs_parquet_mutated": med["mutated"],
        "scan_vs_parquet_compacted": med["compacted"],
        "rounds_per_state": per_state,
        "timed_phase_s": timed,
    })
    return {**out, "primary_kinds": kinds, "table_root": t.root}


WORKLOADS = {"ingest": ingest, "analytics": analytics}

"""The benchmark's workloads.

Each workload is a closed loop with one client: the next op starts only
after the previous one returned and was checked. A workload provides

- ``setup()``: generate its inputs from the seed, land them as Parquet,
  and seed-load its starting tables ``SEED_COPIES`` times (the copies also
  serve as warm-up targets, and the median seed-load time is reported);
- ``warmup()``: untimed ops of every type on a spare copy, so codegen and
  caches are warm before timing;
- ``step(op)``: one timed op on the measured copy, returning False when
  its pre-generated inputs are used up;
- ``check()``: compare the final state with a DuckDB reference computed
  from the landed inputs; returns the mismatches found;
- ``final_files``: set by ``check()``, each measured table with its final
  snapshot as plain Parquet (the base of space_amp).

Ops are timed with ``time.perf_counter`` around the engine call plus the
collect of its result; per-op correctness checks run after the timer
stops.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import inputs as gen
from oracle import Oracle

SEED_COPIES = 3
DROP_META = "_commit_time"


class Recorder:
    """Samples per op kind, plus attempted/failed op counts."""

    def __init__(self):
        self.samples: dict[str, list[float]] = {}
        self.rows: dict[str, int] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def add(self, kind: str, seconds: float, rows: int = 0) -> None:
        self.samples.setdefault(kind, []).append(seconds)
        if rows:
            self.rows[kind] = self.rows.get(kind, 0) + rows

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(msg)


class Workload:
    name = ""
    primary = ""  # the op kind whose median is op_p50_s
    # ops every run completes, even past --seconds: the latency of these
    # workloads drifts as their tables grow, so every run must cover the
    # same ops for its medians to compare
    MIN_OPS = 1
    # fixed driver heap: small enough that the JVM's peak RSS is steady
    DRIVER_MEM = "1g"

    def finished(self, ops: int, past_deadline: bool) -> bool:
        """Whether the timed loop stops after ``ops`` completed ops."""
        return ops >= self.MIN_OPS and past_deadline

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.eng = ctx.engine
        self.rec = ctx.rec
        self.seed = ctx.seed
        self.dir = ctx.work
        self.setup_parts: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def land(self, table, name: str) -> str:
        p = self.path("inputs", f"{name}.parquet")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        pq.write_table(table, p, compression="snappy")
        return p

    def read(self, path: str):
        return self.spark.read.parquet(path)

    def timed_seed_loads(self, load) -> list:
        """Run ``load(copy)`` SEED_COPIES times; keep each copy's result and
        record the median load time as ``seed_load_s``."""
        out, times = [], []
        for c in range(SEED_COPIES):
            t0 = time.perf_counter()
            out.append(load(c))
            times.append(time.perf_counter() - t0)
        self.setup_parts["seed_load_s"] = statistics.median(times)
        self.setup_parts["seed_load_runs"] = len(times)
        return out

    def timed_gen(self, fn) -> None:
        t0 = time.perf_counter()
        fn()
        self.setup_parts["gen_s"] = time.perf_counter() - t0

    def snapshot_file(self, table, name: str) -> str:
        """The table's final snapshot written once as plain Parquet (one
        file, no engine meta column): the base for space_amp and the
        actual side of the DuckDB comparison."""
        p = self.path("final", name)
        table.snapshot().drop(DROP_META).coalesce(1).write.mode("overwrite").parquet(p)
        return p

    def live_bytes(self, table) -> int:
        return sum(
            os.path.getsize(os.path.join(table.path, e["path"]))
            for e in table.current_files()
        )

    def space(self) -> tuple[int, int]:
        """(live table bytes, bytes of the same rows as plain Parquet)."""
        live = plain = 0
        for table, final in self.final_files.items():
            live += self.live_bytes(table)
            plain += sum(
                os.path.getsize(os.path.join(final, f))
                for f in os.listdir(final)
                if f.endswith(".parquet")
            )
        return live, plain


# ---------------------------------------------------------------------------


class UpsertBulk(Workload):
    """COW table, time-ordered integer keys, ~200-byte rows. Each op
    upserts one landed batch: 80% appended keys, 18% updates within the
    newest 5% of keys, 2% updates scattered over every key."""

    name = "upsert_bulk"
    primary = "upsert"
    SEED_ROWS = 150_000
    BATCH = 15_000
    MIN_OPS = 10
    MAX_OPS = 32
    WARMUP = 3

    def setup(self):
        b = self.BATCH

        def batches(stream: int, count: int) -> list[tuple[str, int]]:
            out, nxt = [], self.SEED_ROWS
            for i in range(count):
                rng = gen.rng_for(self.seed, stream, i)
                keys = gen.bulk_batch_keys(
                    rng, nxt, b, int(b * 0.8), int(b * 0.18), nxt // 20
                )
                nxt += int(b * 0.8)
                rows = gen.keyed_rows(rng, keys, i + 1)
                out.append((self.land(rows, f"b{stream}-{i}"), len(keys)))
            return out

        def make():
            self.seed_path = self.land(
                gen.keyed_rows(gen.rng_for(self.seed, 0), np.arange(self.SEED_ROWS), 0),
                "seed",
            )
            self.batches = batches(1, self.MAX_OPS)
            # warm-up batches have the measured batches' shape but their own
            # stream; they are applied to a spare copy only
            self.warm = batches(9, self.WARMUP)

        self.timed_gen(make)
        seed_df = self.read(self.seed_path)

        def load(c):
            t = self.eng.Table.create(
                self.spark, self.path(f"t{c}"), key="k", precombine="ver",
                table_name="bulk",
            )
            t.upsert(seed_df)
            return t

        self.copies = self.timed_seed_loads(load)
        self.table = self.copies[-1]
        self.next = 0
        self.applied: list[str] = []

    def warmup(self):
        for path, _ in self.warm:
            self.copies[0].upsert(self.read(path))

    def step(self, op):
        if self.next >= len(self.batches):
            return False
        path, rows = self.batches[self.next]
        df = self.read(path)
        t0 = time.perf_counter()
        self.table.upsert(df)
        self.rec.add("upsert", time.perf_counter() - t0, rows)
        self.applied.append(path)
        self.next += 1
        return True

    def check(self):
        final = self.snapshot_file(self.table, "bulk")
        self.final_files = {self.table: final}
        return Oracle().compare_latest(
            [self.seed_path, *self.applied], "k", "ver", final
        )


# ---------------------------------------------------------------------------


class ReadMix(Workload):
    """A day-partitioned table with time-ordered keys and a read-heavy op
    mix in a seeded order: point lookups, SQL scans, incremental reads,
    small writer commits and the table services they trigger."""

    name = "read_mix"
    primary = "lookup"
    KEYS_PER_DAY = 30_000
    DAYS = 6
    COMMIT_NEW = 1_000
    COMMIT_UPD = 1_000
    MIN_OPS = 40  # two blocks of the op mix
    MAX_COMMITS = 24
    # one block of 20 ops: 60% lookups, 25% scans, 10% incremental, 5%
    # commits; each block is shuffled by the seed
    BLOCK = ["lookup"] * 12 + ["scan_range"] * 2 + ["scan_day"] * 2 + [
        "scan_asof"
    ] + ["incremental"] * 2 + ["commit"]
    SERVICE_EVERY = 2  # cluster_small_files + clean after every 2nd commit
    ARCHIVE_EVERY = 4  # archive_timeline after every 4th commit
    RETAIN = 3
    SMALL_FILE_ROWS = 5_000
    Q_RANGE = "SELECT count(*) AS n, sum(a) AS s FROM events WHERE k >= {lo} AND k < {hi}"
    Q_DAY = "SELECT count(*) AS n, sum(a) AS s FROM events WHERE day = {d}"
    Q_ASOF = (
        "SELECT count(*) AS n, sum(a) AS s FROM events VERSION AS OF '{commit}' "
        "WHERE k >= {lo} AND k < {hi}"
    )

    def setup(self):
        n0 = self.KEYS_PER_DAY * self.DAYS
        self.cap = n0 + self.MAX_COMMITS * self.COMMIT_NEW

        def make():
            seed_rows = gen.keyed_rows(
                gen.rng_for(self.seed, 0), np.arange(n0), 0, self.KEYS_PER_DAY
            )
            self.seed_path = self.land(seed_rows, "seed")
            self.seed_a = seed_rows.column("a").to_numpy()
            self.commits_in = []
            nxt = n0
            for i in range(self.MAX_COMMITS + 1):
                rng = gen.rng_for(self.seed, 1, i)
                new = np.arange(nxt, nxt + self.COMMIT_NEW)
                upd = rng.choice(
                    np.arange(nxt - nxt // 10, nxt), self.COMMIT_UPD, replace=False
                )
                keys = np.unique(np.concatenate([new, upd]))
                nxt += self.COMMIT_NEW
                rows = gen.keyed_rows(rng, keys, i + 1, self.KEYS_PER_DAY)
                self.commits_in.append(
                    (self.land(rows, f"c{i}"), keys, rows.column("a").to_numpy(), i + 1)
                )
            order_rng = gen.rng_for(self.seed, 2)
            self.ops = []
            while self.ops.count("commit") < self.MAX_COMMITS:
                self.ops.extend(order_rng.permutation(self.BLOCK).tolist())
            self.op_rng = gen.rng_for(self.seed, 3)

        self.timed_gen(make)
        seed_df = self.read(self.seed_path)

        def load(c):
            t = self.eng.Table.create(
                self.spark, self.path(f"t{c}"), key="k", precombine="ver",
                partition_fields=["day"], table_name="events",
            )
            t.upsert(seed_df)
            return t

        self.copies = self.timed_seed_loads(load)
        self.table = self.copies[-1]
        self.sql = self.eng.SqlSession(self.spark, tables={"events": self.table})
        # expected state: latest version, payload and writing commit per key
        self.n = n0
        self.ver = np.zeros(self.cap, dtype=np.int64)
        self.a = np.zeros(self.cap, dtype=np.int64)
        self.a[:n0] = self.seed_a
        self.wrote = np.zeros(self.cap, dtype=np.int64)
        self.wrote[:n0] = int(self.table.latest_commit())
        self.history = {int(self.table.latest_commit()): self._state()}
        self.commit_no = 0
        self.pos = 0
        self.applied: list[str] = []

    def _state(self):
        return (self.n, self.a[: self.n].copy())

    def warmup(self):
        # every op type once on a spare copy, with the same query shapes as
        # the timed ops, plus the extra commit input
        spare = self.copies[0]
        sess = self.eng.SqlSession(self.spark, tables={"events": spare})
        spare.read_where("k = 7").collect()
        sess.sql(self.Q_RANGE.format(lo=0, hi=5_000)).collect()
        sess.sql(self.Q_DAY.format(d=1)).collect()
        spare.upsert(self.read(self.commits_in[-1][0]))
        first = spare.commits()[0]
        sess.sql(self.Q_ASOF.format(commit=first, lo=0, hi=5_000)).collect()
        self._incremental(spare, first)
        self._incremental(spare, spare.latest_commit())  # an empty window
        svc = self.eng.TableServices(spare)
        svc.cluster_small_files(threshold_rows=self.SMALL_FILE_ROWS)
        svc.clean(retain_commits=self.RETAIN)

    @staticmethod
    def _incremental(table, begin: str):
        return (
            table.incremental(begin).selectExpr("count(*) AS n", "sum(a) AS s").collect()[0]
        )

    def _key(self) -> int:
        r = self.op_rng
        if r.random() < 0.8:
            return int(self.n - 1 - r.integers(0, self.n // 10))
        return int(r.integers(0, self.n))

    def _range(self, width: int = 5_000) -> tuple[int, int]:
        lo = self._key()
        lo = max(0, min(lo, self.n - width))
        return lo, lo + width

    def finished(self, ops, past_deadline):
        # stop on a block boundary only, so every run has the same op mix
        return super().finished(ops, past_deadline) and ops % len(self.BLOCK) == 0

    def step(self, op):
        if self.pos >= len(self.ops):
            return False
        kind = self.ops[self.pos]
        self.pos += 1
        self.ctx.tag(op, kind)
        t0 = time.perf_counter()
        getattr(self, f"_op_{kind}")()
        self.rec.add(f"mix.{kind}", time.perf_counter() - t0)
        return True

    def _expect(self, got, want, what):
        if got != want:
            self.rec.fail(f"{what}: got {got}, want {want}")

    def _op_lookup(self):
        k = self._key()
        t0 = time.perf_counter()
        rows = self.table.read_where(f"k = {k}").collect()
        self.rec.add("lookup", time.perf_counter() - t0)
        got = [(r["ver"], r["a"]) for r in rows]
        self._expect(got, [(int(self.ver[k]), int(self.a[k]))], f"lookup k={k}")
        self.ctx.note_read(lambda: self.table.read_where(f"k = {k}"), self.table)

    def _sums(self, keys: np.ndarray, a: np.ndarray):
        return (len(keys), int(a[keys].sum()) if len(keys) else None)

    def _op_scan_range(self):
        lo, hi = self._range()
        q = self.Q_RANGE.format(lo=lo, hi=hi)
        t0 = time.perf_counter()
        r = self.sql.sql(q).collect()[0]
        self.rec.add("scan", time.perf_counter() - t0)
        keys = np.arange(lo, min(hi, self.n))
        self._expect((r["n"], r["s"]), self._sums(keys, self.a), q)

    def _op_scan_day(self):
        d = int(self.op_rng.integers(0, (self.n - 1) // self.KEYS_PER_DAY + 1))
        q = self.Q_DAY.format(d=d)
        t0 = time.perf_counter()
        r = self.sql.sql(q).collect()[0]
        self.rec.add("scan", time.perf_counter() - t0)
        keys = np.arange(d * self.KEYS_PER_DAY, min((d + 1) * self.KEYS_PER_DAY, self.n))
        self._expect((r["n"], r["s"]), self._sums(keys, self.a), q)

    def _op_scan_asof(self):
        # the oldest state the cleaner still retains
        commit = min(self.history)
        n, a = self.history[commit]
        lo, hi = self._range()
        hi = min(hi, n)
        lo = min(lo, hi)
        q = self.Q_ASOF.format(commit=f"{commit:020d}", lo=lo, hi=hi)
        t0 = time.perf_counter()
        r = self.sql.sql(q).collect()[0]
        self.rec.add("scan", time.perf_counter() - t0)
        self._expect((r["n"], r["s"]), self._sums(np.arange(lo, hi), a), q)

    def _op_incremental(self):
        commits = self.table.commits()
        begin = commits[max(0, len(commits) - 4)]
        t0 = time.perf_counter()
        r = self._incremental(self.table, begin)
        self.rec.add("scan", time.perf_counter() - t0)
        keys = np.nonzero(self.wrote[: self.n] > int(begin))[0]
        self._expect((r["n"], r["s"]), self._sums(keys, self.a), f"incremental {begin}")

    def _op_commit(self):
        path, keys, a, ver = self.commits_in[self.commit_no]
        df = self.read(path)
        t0 = time.perf_counter()
        commit = self.table.upsert(df)
        self.rec.add("upsert", time.perf_counter() - t0, len(keys))
        self.ver[keys] = ver
        self.a[keys] = a
        self.n = max(self.n, int(keys.max()) + 1)
        self.wrote[keys] = int(commit)
        self.applied.append(path)
        self.commit_no += 1
        self.history[int(commit)] = self._state()
        if self.commit_no % self.SERVICE_EVERY == 0:
            svc = self.eng.TableServices(self.table)
            t0 = time.perf_counter()
            svc.cluster_small_files(threshold_rows=self.SMALL_FILE_ROWS)
            svc.clean(retain_commits=self.RETAIN)
            if self.commit_no % self.ARCHIVE_EVERY == 0:
                svc.archive_timeline(keep_active=8)
            self.rec.add("service", time.perf_counter() - t0)
        # keep only the states the cleaner guarantees are still readable:
        # writer commits among the last RETAIN + 1 commits
        commits = self.table.commits()
        live = int(commits[max(0, len(commits) - self.RETAIN - 1)])
        keep = [c for c in self.history if c >= live] or [max(self.history)]
        self.history = {c: self.history[c] for c in keep}

    def check(self):
        final = self.snapshot_file(self.table, "events")
        self.final_files = {self.table: final}
        return Oracle().compare_latest(
            [self.seed_path, *self.applied], "k", "ver", final
        )


# ---------------------------------------------------------------------------

GOLD_SQL = """
SELECT c.customer_id, c.name AS customer_name, c.email,
       o.order_id, o.name AS order_name, o.order_value
FROM customers c JOIN orders o ON c.customer_id = o.customer_id
"""


class MedallionIncremental(Workload):
    """The reference's Lab2 loop: silver customers (partitioned by state)
    and silver orders (uuid keys, unpartitioned) take a batch each per
    cycle, then run_pipeline joins the orders increment with all
    customers into gold and advances the checkpoint; gold is read back."""

    name = "medallion_incremental"
    primary = "freshness"
    CUSTOMERS = 5_000
    ORDERS = 30_000
    NEW_CUSTOMERS = 100
    NEW_ORDERS = 1_400
    UPD_ORDERS = 600
    MIN_OPS = 4
    MAX_CYCLES = 16
    WARMUP = 1

    def setup(self):
        def cycles(stream: int, count: int, cids, oids) -> list[tuple]:
            out = []
            for i in range(count):
                rng = gen.rng_for(self.seed, stream, i)
                c = gen.customers(rng, self.NEW_CUSTOMERS, i + 1)
                cids = np.concatenate([cids, c.column("customer_id").to_pylist()])
                picks = rng.choice(len(oids), self.UPD_ORDERS, replace=False)
                new = gen.uuids(rng, self.NEW_ORDERS)
                o = gen.orders(rng, new + [oids[j] for j in picks], cids, i + 1)
                oids = oids + new
                out.append((
                    self.land(c, f"customers{stream}-{i}"), c.num_rows,
                    self.land(o, f"orders{stream}-{i}"), o.num_rows, len(oids),
                ))
            return out

        def make():
            rng = gen.rng_for(self.seed, 0)
            cust = gen.customers(rng, self.CUSTOMERS, 0)
            cids = np.array(cust.column("customer_id").to_pylist())
            oids = gen.uuids(rng, self.ORDERS)
            self.seed_cust = self.land(cust, "customers0")
            self.seed_orders = self.land(gen.orders(rng, oids, cids, 0), "orders0")
            self.cycles = cycles(1, self.MAX_CYCLES, cids, oids)
            # the warm-up cycle has its own stream and goes to a spare copy
            self.warm = cycles(9, self.WARMUP, cids, oids)

        self.timed_gen(make)
        cust_df, orders_df = self.read(self.seed_cust), self.read(self.seed_orders)

        def load(c):
            T = self.eng.Table
            cust = T.create(
                self.spark, self.path(f"c{c}", "customers"), key="customer_id",
                precombine="created_at", partition_fields=["state"],
                table_name="customers",
            )
            orders = T.create(
                self.spark, self.path(f"c{c}", "orders"), key="order_id",
                precombine="order_date", table_name="orders",
            )
            cust.upsert(cust_df)
            orders.upsert(orders_df)
            spec = self._spec(c)
            self.eng.pipeline.run_pipeline(self.spark, spec)
            gold = T.load(self.spark, spec["sink"]["path"])
            return cust, orders, gold, spec

        self.copies = self.timed_seed_loads(load)
        self.cust, self.orders, self.gold, _ = self.copies[-1]
        self.next = 0
        self.applied: list[tuple[str, str]] = []

    def _spec(self, c: int) -> dict:
        base = self.path(f"c{c}")
        return {
            "sources": [
                {"source_type": "ENGINE", "table_name": "orders",
                 "spark_table_name": "orders", "path": f"{base}/orders",
                 "type": "INC"},
                {"source_type": "ENGINE", "table_name": "customers",
                 "spark_table_name": "customers", "path": f"{base}/customers",
                 "type": "FULL"},
            ],
            "transform_sql": GOLD_SQL,
            "sink": {"path": f"{base}/gold", "record_key": "order_id",
                     "precombine": "order_id", "table_name": "gold"},
            "checkpoint_root": f"{base}/checkpoints",
        }

    def _cycle(self, tables, batch, timed: bool):
        cust, orders, gold, spec = tables
        cpath, crows, opath, orows, n_orders = batch
        cdf, odf = self.read(cpath), self.read(opath)
        t0 = time.perf_counter()
        cust.upsert(cdf)
        t1 = time.perf_counter()
        orders.upsert(odf)
        t2 = time.perf_counter()
        commit = self.eng.pipeline.run_pipeline(self.spark, spec)
        t3 = time.perf_counter()
        n = gold.snapshot().count()
        t4 = time.perf_counter()
        if timed:
            self.rec.add("freshness", t3 - t0)
            self.rec.add("upsert", t1 - t0, crows)
            self.rec.add("upsert", t2 - t1, orows)
            self.rec.add("gold_read", t4 - t3)
            if commit is None:
                self.rec.fail("run_pipeline published no gold commit")
            if n != n_orders:
                self.rec.fail(f"gold rows {n}, want {n_orders}")

    def warmup(self):
        for batch in self.warm:
            self._cycle(self.copies[0], batch, timed=False)

    def step(self, op):
        if self.next >= len(self.cycles):
            return False
        batch = self.cycles[self.next]
        self._cycle(self.copies[-1], batch, timed=True)
        self.applied.append((batch[0], batch[2]))
        self.next += 1
        return True

    def check(self):
        gold = self.snapshot_file(self.gold, "gold")
        self.final_files = {
            self.gold: gold,
            self.orders: self.snapshot_file(self.orders, "orders"),
            self.cust: self.snapshot_file(self.cust, "customers"),
        }
        cust = [self.seed_cust, *(c for c, _ in self.applied)]
        orders = [self.seed_orders, *(o for _, o in self.applied)]
        return Oracle().compare_gold(cust, orders, gold)


# ---------------------------------------------------------------------------


class CorpusBuild(Workload):
    """pipeline.build_corpus over a seeded synthetic documents table."""

    name = "corpus_build"
    primary = "build"
    DRIVER_MEM = "3g"  # the near-dup and contamination joins need the room
    # build time is nearly all per-stage fixed cost; the size is set by the
    # DuckDB oracle, whose cost grows fast with the corpus (~60 s at 150)
    DOCS = 150

    def setup(self):
        def make():
            self.docs = self.land(
                gen.documents(gen.rng_for(self.seed, 0), self.DOCS), "documents"
            )

        self.timed_gen(make)
        self.setup_parts["seed_load_s"] = 0.0
        self.builds = 0

    def _build(self):
        base = self.path(f"corpus{self.builds}")
        self.builds += 1
        gold, _, _ = self.eng.pipeline.build_corpus(
            self.spark, base, self.docs, audit=False
        )
        return gold

    def warmup(self):
        self._build()

    def step(self, op):
        t0 = time.perf_counter()
        self.last = self._build()
        self.rec.add("build", time.perf_counter() - t0, self.DOCS)
        return True

    def check(self):
        final = self.snapshot_file(self.last, "gold")
        self.final_files = {self.last: final}
        sql = self.eng.catalog.oracle_sql()["pipeline_llm_corpus_gold"]
        # the oracle's recursive near-duplicate closure needs the room
        return Oracle(memory_limit="3GB").compare_sql(
            sql, {"documents": self.docs}, final,
            ["doc_id", "source", "n_tokens", "pack_id"],
        )


WORKLOADS = {
    w.name: w for w in (MedallionIncremental, UpsertBulk, ReadMix, CorpusBuild)
}

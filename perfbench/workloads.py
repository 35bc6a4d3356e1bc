"""The benchmark workloads, driven through the public ``sparkcdc`` API.

Both are closed loops with one tailer: append one WAL segment, call
``CDCEngine.run()`` on a long-lived engine, and only then append the next.
A run is ``setup`` (timed), ``measure`` (the timed window), then ``check``
(oracle gates, outside every timed interval). Inputs are a pure function of
the seed.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import statistics
import time

from pyspark.sql import functions as F
from pyspark.sql import types as T

from sparkcdc import oracle
from sparkcdc.changelog import generate_changelog, scan_slice, write_log_parquet
from sparkcdc.config import JobConfig
from sparkcdc.engine import CDCEngine
from sparkcdc.packing import pack_documents

N_BUCKETS = 8
LOOKUP_KEYS = 8
SETUP_REPS = 3
COLS = ["doc_id", "tokens", "n_tok", "source"]
TABLE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("tokens", T.ArrayType(T.IntegerType())),
    T.StructField("n_tok", T.IntegerType()),
    T.StructField("source", T.StringType()),
])
AGGS = {"n_docs": ["count", None], "sum_tok": ["sum", "n_tok"], "max_tok": ["max", "n_tok"]}
PACK_SEQ_LEN = 256


def tree_sizes(*roots: str) -> dict[str, int]:
    out = {}
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def parquet_bytes(path: str) -> int:
    return sum(n for p, n in tree_sizes(path).items() if p.endswith(".parquet"))


def fingerprint(df) -> tuple[int, int]:
    """(rows, sum of per-row xxhash64): equal iff the row multisets agree,
    up to hash collisions."""
    r = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*COLS).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def norm_rows(rows) -> list[tuple]:
    return sorted((r[0], tuple(int(t) for t in r[1]), int(r[2]), r[3]) for r in rows)


class TailLookup:
    """A long-lived engine tails a WAL that grows by one segment per
    trigger; after each commit the tailer reads back keys of that segment."""

    name = "tail_lookup"
    N_BASE = 40_000  # events in the base table
    N_DOCS = 8_000
    SEGMENT = 500  # events per trigger (plus 5% re-delivered)
    MAX_TRIGGERS = 120
    LOOKUPS_PER_TRIGGER = 3
    LOOKUPS_AFTER = 0

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.op_walls: list[tuple[bool, float]] = []  # (traced, wall) per trigger
        self.commit_lat: list[float] = []
        self.lag: list[float] = []
        self.lookup_lat: list[float] = []
        self.lookup_log: list[tuple[list, int, list]] = []  # keys, lsn, rows
        self.applied = 0
        self.run_wall = 0.0
        self.wal_bytes = 0
        self.added_bytes = 0

    # ---------------- setup ----------------

    def cfg(self, d: str) -> JobConfig:
        return JobConfig(log_path=os.path.join(d, "wal"), table_path=os.path.join(d, "table"),
                         n_buckets=N_BUCKETS, batch_size=self.SEGMENT, merge_mode="auto",
                         compact_delta_files=16)

    def build_base(self, d: str) -> None:
        """Generate the change log, write its base part as the WAL and
        apply it in one copy-on-write batch."""
        self.log = generate_changelog(self.spark, self.N_BASE + self.SEGMENT * self.MAX_TRIGGERS,
                                      self.N_DOCS, seed=self.seed, hot_key_pct=10, dup_pct=5)
        self.dir, self.wal = d, os.path.join(d, "wal")
        write_log_parquet(scan_slice(self.log, 0, self.N_BASE), self.wal, partitions=4)
        CDCEngine(self.spark, JobConfig(log_path=self.wal, table_path=os.path.join(d, "table"),
                                        n_buckets=N_BUCKETS, batch_size=self.N_BASE)).run()
        self.next_lo = self.N_BASE

    def warm_up(self) -> None:
        """Open the tailing engine, apply one segment, read it back and
        compact, so the window starts warm and at a cycle boundary."""
        self.engine = CDCEngine(self.spark, self.cfg(self.dir))
        self.append_segment()
        self.engine.run()
        self.engine.table.read_keys(["DOC-00000000"]).collect()
        self.engine.table.compact()

    def compacted(self) -> bool:
        """The main table holds no merge-on-read delta files."""
        return not any(e.get("kind") == "delta" for e in self.engine.table.snapshot["manifest"])

    def setup(self) -> float:
        """Median wall of ``SETUP_REPS`` identical base builds, plus the
        warm-up; the last build's directory is the one measured."""
        times = self.setup_times = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.build_base(os.path.join(self.work, f"setup{rep}"))
            times.append(time.perf_counter() - t0)
            if rep:
                shutil.rmtree(os.path.join(self.work, f"setup{rep - 1}"))
        t0 = time.perf_counter()
        self.warm_up()
        times.append(time.perf_counter() - t0)
        return statistics.median(times[:-1]) + times[-1]

    # ---------------- the window ----------------

    def append_segment(self) -> int:
        """Append the next segment to the WAL as one file; returns its bytes."""
        lo, hi = self.next_lo, self.next_lo + self.SEGMENT
        before = parquet_bytes(self.wal)
        (scan_slice(self.log, lo, hi).repartition(1).sortWithinPartitions("seq")
         .write.mode("append").parquet(self.wal))
        self.next_lo = hi
        return parquet_bytes(self.wal) - before

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def _segment_keys(self) -> dict[int, list[str]]:
        """Distinct doc ids of every segment the window may append, by the
        segment's upper LSN."""
        rows = (scan_slice(self.log, self.next_lo, self.N_BASE + self.SEGMENT * self.MAX_TRIGGERS)
                .select((F.ceil((F.col("seq") - self.N_BASE) / self.SEGMENT) * self.SEGMENT
                         + self.N_BASE).alias("hi"), "doc_id")
                .distinct().collect())
        out: dict[int, list[str]] = {}
        for r in rows:
            out.setdefault(int(r["hi"]), []).append(r["doc_id"])
        return {k: sorted(v) for k, v in out.items()}

    def measure(self) -> None:
        keys_by_segment = self._segment_keys() if self.LOOKUPS_PER_TRIGGER else {}
        if self.tracer is not None:
            self.tracer.main_path = self.engine.table.path
        cfg = self.engine.cfg
        roots = [p for p in (cfg.table_path, cfg.packed_path, cfg.aggview_path) if p]
        before = tree_sizes(*roots)
        end_lsn = self.N_BASE + self.SEGMENT * self.MAX_TRIGGERS
        start = time.perf_counter()
        i = 0
        # the window ends at a compaction, so write_amp and the lookups cover
        # whole delta-file cycles however many triggers fit in it
        while self.next_lo < end_lsn:
            elapsed = time.perf_counter() - start
            if i and elapsed >= self.seconds and (self.compacted() or elapsed >= 4 * self.seconds):
                break
            self.wal_bytes += self.append_segment()
            traced = self.tracer is not None and i % 2 == 1
            if self.tracer is not None:
                # traced and untraced triggers alternate, so the tracing
                # overhead is measured on interleaved triggers
                self.tracer.active, self.tracer.trigger = traced, i
            n0 = len(self.engine.metrics.records)
            self.attempted += 1
            t0 = time.time()  # the segment is durable
            try:
                with self._span("bench.trigger"):
                    self.engine.run()
                    t1 = time.time()
                    for _ in range(self.LOOKUPS_PER_TRIGGER):
                        keys = keys_by_segment[self.next_lo]
                        self.lookup(self.rng.sample(keys, min(LOOKUP_KEYS, len(keys))))
                    t2 = time.time()
            except Exception as exc:  # noqa: BLE001 - a failed trigger ends the loop
                self.fail(f"trigger {i}: {exc!r}")
                break
            finally:
                if self.tracer is not None:
                    self.tracer.active = False
            batches = [r for r in self.engine.metrics.records[n0:] if r.get("kind") == "batch"]
            if len(batches) != 1 or batches[0]["hi"] != self.next_lo:
                self.fail(f"trigger {i}: applied {[(b['lo'], b['hi']) for b in batches]}")
                break
            self.op_walls.append((traced, t2 - t0))
            self.applied += batches[0]["applied_events"]
            self.run_wall += t1 - t0
            self.commit_lat.append(batches[0]["emitted_at"] - t0)
            self.lag.append(t1 - t0)
            i += 1
        after = tree_sizes(*roots)
        self.added_bytes = sum(max(n - before.get(p, 0), 0) for p, n in after.items())
        if self.tracer is not None:
            self.tracer.active, self.tracer.trigger = True, None
        for _ in range(self.LOOKUPS_AFTER):
            self.lookup([f"DOC-{k:08d}" for k in self.rng.sample(range(self.N_DOCS), LOOKUP_KEYS)])
        if self.tracer is not None:
            self.tracer.active = False

    def lookup(self, keys: list) -> None:
        """One 8-key point read plus the action that collects it."""
        table = self.engine.table
        self.attempted += 1
        try:
            with self._span("icebox.read_keys") as sp:
                t0 = time.perf_counter()
                rows = table.read_keys(keys).select(*COLS).collect()
                dt = time.perf_counter() - t0
            if sp is not None:
                sp["n"]["rows"] = len(rows)
        except Exception as exc:  # noqa: BLE001 - a failed lookup is a counted failure
            self.fail(f"lookup {keys}: {exc!r}")
            return
        self.lookup_lat.append(dt)
        self.lookup_log.append((keys, int(table.lineage["last_applied_lsn"]), norm_rows(rows)))

    def fail(self, why: str) -> None:
        self.failed += 1
        self.failures.append(why)

    # ---------------- oracle gates ----------------

    def check(self) -> None:
        """The final table equals ``oracle.replay`` over the applied WAL, and
        every lookup returned the oracle state of its keys at its LSN."""
        events = (self.spark.read.parquet(self.wal).where(F.col("seq") <= self.next_lo)
                  .select("seq", "op", *COLS).toPandas())
        state = oracle.replay(events)
        rows = [(d, [int(t) for t in tok], int(n), s)
                for d, tok, n, s in state[COLS].itertuples(index=False)]
        want = fingerprint(self.spark.createDataFrame(rows, TABLE_SCHEMA))
        self.attempted += 1
        got = fingerprint(self.engine.table.read())
        if got != want:
            self.fail(f"final table: fingerprint {got} != oracle {want}")
        for keys, lsn, rows in self.lookup_log:
            self.attempted += 1
            ev = events[events["doc_id"].isin(keys) & (events["seq"] <= lsn)]
            want_rows = norm_rows(oracle.replay(ev)[COLS].itertuples(index=False))
            if rows != want_rows:
                self.fail(f"lookup {keys} @ {lsn}: {rows} != oracle {want_rows}")

    # ---------------- results ----------------

    def metrics(self, setup_s: float) -> dict[str, float]:
        return {
            "setup_s": setup_s,
            "apply_events_per_s": self.applied / self.run_wall,
            "commit_latency_p50_s": statistics.median(self.commit_lat),
            "derived_lag_p50_s": statistics.median(self.lag),
            "lookup_latency_p50_s": statistics.median(self.lookup_lat),
            "write_amp": self.added_bytes / self.wal_bytes,
        }

    def trace_overhead(self) -> float:
        on = [w for t, w in self.op_walls if t]
        off = [w for t, w in self.op_walls if not t]
        return statistics.median(on) - statistics.median(off) if on and off else 0.0


class TailDerived(TailLookup):
    """The same tail with no lookups in the loop, plus a packed-sequence
    table and a GROUP BY view refreshed by every ``run()``."""

    name = "tail_derived"
    N_BASE = 5_000
    N_DOCS = 1_000
    SEGMENT = 75
    MAX_TRIGGERS = 40
    LOOKUPS_PER_TRIGGER = 0
    LOOKUPS_AFTER = 16

    def cfg(self, d: str) -> JobConfig:
        cfg = super().cfg(d)
        # every second trigger compacts (eight delta files per trigger), so
        # a window of whole cycles is two of these costly triggers, not three
        cfg.compact_delta_files = 8
        cfg.packed_path = os.path.join(d, "packed")
        cfg.packed_seq_len = PACK_SEQ_LEN
        cfg.packed_tokens_col = "tokens"
        cfg.packed_shard_col = "source"
        cfg.aggview_path = os.path.join(d, "aggview")
        cfg.aggview_group_cols = ["source"]
        cfg.aggview_aggs = AGGS
        return cfg

    def warm_up(self) -> None:
        """Open the tailing engine and build both derived tables from the
        base table."""
        self.engine = CDCEngine(self.spark, self.cfg(self.dir))
        self.engine.packed.refresh_from(self.engine.table)
        self.engine.aggview.refresh_from(self.engine.table)

    def check(self) -> None:
        """Also: the view equals a direct GROUP BY of the table, and the
        packed chunks equal ``pack_documents`` over the table."""
        super().check()
        table = self.engine.table.read()
        self.attempted += 1
        view = sorted(tuple(r) for r in self.engine.aggview.read()
                      .select("source", *AGGS).collect())
        want = sorted(tuple(r) for r in table.groupBy("source").agg(
            F.count("*").alias("n_docs"), F.sum("n_tok").alias("sum_tok"),
            F.max("n_tok").alias("max_tok")).collect())
        if view != want:
            self.fail(f"aggview {view} != GROUP BY {want}")
        self.attempted += 1
        chunks = sorted(tuple(r) for r in self.engine.packed.chunks().select(
            "shard", "seq_id", F.array_join("tokens", " "), "n_tok", "n_docs").collect())
        text = table.select("doc_id", "source",
                            F.array_join(F.col("tokens").cast("array<string>"), " ").alias("text"))
        want = sorted(tuple(r) for r in pack_documents(
            text, PACK_SEQ_LEN, shard_col="source").select(
            "source", "seq_id", "token_str", "n_tok", "n_docs").collect())
        if chunks != want or not chunks:
            self.fail(f"packed chunks differ from pack_documents ({len(chunks)} vs {len(want)})")


WORKLOADS = {w.name: w for w in (TailLookup, TailDerived)}

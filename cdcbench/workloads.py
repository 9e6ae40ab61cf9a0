"""The benchmark's workloads: seeded inputs, set-up, one measured step, checks.

Every input is generated from the seed and written to disk before the timed
phase; the engine only ever sees those files. Chunks land in a feed's binlog
directory by an atomic directory rename, and latency is timed from the
rename. Each workload keeps, per operation, the timestamps the end-to-end
metrics are computed from; the engine is driven only through its public
classes (ChangeFeed, MultiTableChangeFeed, MQConsumer, MultiMQConsumer,
LakeTable).
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from ticdc_spark.lake.table import LakeTable
from ticdc_spark.oracle import apply_binlog, diff_tables
from ticdc_spark.streaming.changefeed import ChangeFeed
from ticdc_spark.streaming.consumer import MQConsumer, MultiMQConsumer
from ticdc_spark.streaming.multi import MultiTableChangeFeed
from ticdc_spark.testgen import BinlogSpec, generate_binlog, write_resolved_events

N_PARTS = 8  # binlog partitions (spans) and MQ partitions
N_BUCKETS = 8
LOOKUP_KEYS = 8

# Generator parameters per workload and size. "full" is what BENCHMARK.json
# runs; "smoke" only proves that every metric prints. A trickle chunk is
# small against the pre-load's live rows (100 against ~6,900), so each
# commit takes the engine's key-pruned pre-image read (n_events * 4 < rows)
# and its delta files hold few enough keys that later probes skip most of
# them. Each run measures `steps` chunks after one warm-up chunk.
SIZES = {
    "trickle_old_value": {
        "full": dict(preload_events=10_000, n_keys=20_000, chunk=100, steps=2),
        "smoke": dict(preload_events=2_000, n_keys=2_000, chunk=50, steps=2),
    },
    "multi_table_skew": {
        "full": dict(tables=2, events=2_400, steps=2),
        "smoke": dict(tables=2, events=600, steps=2),
    },
}


def _write_chunk(tbl: pa.Table, out_dir: str, n_files: int, mtime: float, prefix: str = "binlog") -> None:
    """Write (part of) one arrival chunk as n_files parquet files with one
    mtime: the file stream source orders files by mtime, so chunk i never
    mixes into chunk i + 1's trigger."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-len(tbl) // n_files)
    for i in range(n_files):
        path = os.path.join(out_dir, f"{prefix}-{i:05d}.parquet")
        pq.write_table(tbl.slice(i * step, step), path)
        os.utime(path, (mtime, mtime))


def _heartbeat(out_dir: str, table: str, ts: int, mtime: float) -> None:
    """One resolved-ts event per part at `ts`: every span of `table` has
    delivered everything at or below it."""
    path = write_resolved_events(out_dir, {part: ts for part in range(N_PARTS)}, table=table,
                                 fname=f"hb-{table}.parquet")
    os.utime(path, (mtime, mtime))


class Oracle:
    """Expected table states from ticdc_spark.oracle.apply_binlog, cached on
    disk per (workload, seed, size, input prefix, resolved ts): the
    sequential replay is too slow to repeat on every run at larger sizes."""

    def __init__(self, cache_dir: str):
        self.cache_dir = cache_dir

    def state(self, tag: str, events, upto_ts: int | None = None) -> pa.Table:
        """Expected state of the binlog `events()` returns, at upto_ts."""
        path = os.path.join(self.cache_dir, f"{tag}-upto{upto_ts}.parquet")
        if os.path.exists(path):
            return pq.read_table(path)
        out = apply_binlog(events(), upto_ts=upto_ts)
        os.makedirs(self.cache_dir, exist_ok=True)
        pq.write_table(out, path + ".tmp")
        os.replace(path + ".tmp", path)
        return out


class Workload:
    """Shared by both workloads: the closed-loop step, op counting, batch
    marks, lookups, checks and the on-disk sizes the layer metrics read.

    A step lands chunk i by renaming its staging directory into the feed's
    binlog directory, runs the feed, then the downstream consumer, then one
    lookup, so every lookup sample is the first read after a commit (a
    second one in the same step is consistently faster)."""

    name = ""
    feed_layer = ""

    def __init__(self, ctx, size: str):
        self.ctx = ctx
        self.p = SIZES[self.name][size]
        # oracle cache tag: the expected state depends on every generator
        # parameter, not just the size's name
        params = ",".join(f"{k}={v}" for k, v in sorted(self.p.items()))
        digest = hashlib.sha1(f"{params},{N_PARTS},{N_BUCKETS}".encode()).hexdigest()[:10]
        self.tag = f"{self.name}-s{ctx.seed}-{digest}"
        self.rng = np.random.default_rng(ctx.seed)
        self.inputs = os.path.join(ctx.run_dir, "inputs")
        self.landed = 0  # chunks landed so far
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.marks: list[tuple[float, dict]] = []  # (commit time, summary) per batch
        self.lookups: list[dict] = []  # one per lookup call
        self.steps: list[dict] = []  # one per measured step
        self.measured_batches: set[int] = set()
        self.measuring = False
        self.live_rows = 0  # rows the upstream tables hold after the run

    def op(self, name: str, fn, **attrs):
        """Run one operation inside a span; an exception is counted as a
        failed operation and the run goes on."""
        self.attempted += 1
        try:
            with self.ctx.tracer.span(name, **attrs) as s:
                return fn(), s
        except Exception as e:
            self.failed += 1
            self.problems.append(f"{name}: {type(e).__name__}: {e}")
            return None, s

    def _on_batch(self, summary: dict) -> None:
        """post_batch hook: the batch has committed to the lake."""
        now = time.time()
        start = max(self.marks[-1][0], self._call_start) if self.marks else self._call_start
        self.ctx.tracer.add(self.feed_layer + ".batch", start, now,
                            batch_id=summary["batch_id"], timings=summary.get("timings", {}))
        self.marks.append((now, summary))
        if self.measuring:
            self.measured_batches.add(summary["batch_id"])

    def exhausted(self) -> bool:
        return self.landed >= self.n_chunks

    def step(self) -> None:
        i = self.landed
        with self.ctx.tracer.span("step", chunk=i):
            t_land = time.time()
            os.rename(os.path.join(self.inputs, "staging", f"chunk-{i:05d}"),
                      os.path.join(self.binlog, f"chunk-{i:05d}"))
            self.landed += 1
            n_pre = len(getattr(self.lookup_table, "preimage_stats", []))
            n0 = len(self.marks)
            self._call_start = time.time()
            _, feed = self.op(self.feed_layer + ".run_available", self.feed.run_available)
            batches = self.marks[n0:]
            _, consume = self.op("consumer.run_once", self.consumer.run_once)
            self.run_lookup(i)
        if self.measuring:
            self.steps.append({
                "events": self.chunk_events(i),
                "commit": [t - t_land for t, _ in batches],
                "deliver": [] if "error" in consume["attrs"] else [consume["end"] - t_land],
                "feed_s": feed["end"] - feed["start"],
                "consume_s": consume["end"] - consume["start"],
                "preimage": getattr(self.lookup_table, "preimage_stats", [])[n_pre:],
                "mq_batches": len(batches),
            })

    def lookup(self, keys: list[str], expect_tag) -> None:
        rows, s = self.op("lake.lookup", lambda: self.lookup_table.lookup(keys).toArrow(),
                          n_keys=len(keys))
        self.lookups.append({"keys": keys, "rows": rows, "expect": expect_tag, "span": s,
                             "wall": s["end"] - s["start"], "measured": self.measuring})

    def check_lookups(self, expected_for) -> None:
        for lk in self.lookups:
            if lk["rows"] is None:
                continue  # already counted as a failed operation
            exp = expected_for(lk["expect"])
            exp = exp.filter(pc.is_in(exp.column("doc_id"), value_set=pa.array(lk["keys"])))
            bad = diff_tables(exp, lk["rows"])
            if bad:
                self.failed += 1
                self.problems.append(f"lookup {lk['keys'][:2]}...: {bad[0]}")

    def check_table(self, label: str, table: LakeTable, expected: pa.Table) -> None:
        try:
            with self.ctx.tracer.span("lake.read", table=label):
                actual = table.read().toArrow()
            bad = diff_tables(expected, actual)
            if label.startswith("upstream"):
                self.live_rows += actual.num_rows
        except Exception as e:
            bad = [f"{type(e).__name__}: {e}"]
        if bad:
            self.failed += 1
            self.problems.append(f"{label}: {bad[0]}")

    def mq_totals(self) -> tuple[int, int]:
        """(bytes, messages) the feed wrote to MQ in the measured batches."""
        nbytes = nmsg = 0
        for b in sorted(self.measured_batches):
            for dirpath, _, files in os.walk(os.path.join(self.mq_dir, f"batch-{b:010d}")):
                for f in files:
                    if f.endswith(".parquet"):
                        path = os.path.join(dirpath, f)
                        nbytes += os.path.getsize(path)
                        if "partition=" in dirpath:
                            nmsg += pq.ParquetFile(path).metadata.num_rows
        return nbytes, nmsg

    @staticmethod
    def manifest_path(table: LakeTable) -> str:
        return os.path.join(table.root, "_manifests", f"v{table.version:08d}.json")

    @classmethod
    def data_bytes(cls, table: LakeTable) -> int:
        """Bytes of the data files the current manifest references."""
        with open(cls.manifest_path(table)) as f:
            buckets = json.load(f)["buckets"]
        return sum(os.path.getsize(os.path.join(table.root, e["path"]))
                   for entries in buckets.values() for e in entries)


class TrickleOldValue(Workload):
    """Steady-state CDC over a pre-loaded table: each step lands 100 updates
    to live keys plus a heartbeat per part, commits them through the
    old-value MQ feed, applies them downstream, then looks up just-written
    and random keys."""

    name = "trickle_old_value"
    feed_layer = "changefeed"

    def generate(self) -> None:
        p = self.p
        spec = BinlogSpec(n_events=p["preload_events"], n_keys=p["n_keys"], seed=self.ctx.seed,
                          hot_frac=0.05, hot_keys=8, tie_frac=0.2, n_parts=N_PARTS)
        self.preload = generate_binlog(spec)
        self.preload_dir = os.path.join(self.inputs, "preload")
        hi = pc.max(self.preload.column("commit_ts")).as_py()
        _write_chunk(self.preload, self.preload_dir, N_PARTS, time.time())
        _heartbeat(self.preload_dir, spec.table, hi, time.time())
        # keys the pre-load never deletes are live once it has committed
        ids = self.preload.column("doc_id")
        deleted = pc.unique(pc.filter(ids, pc.equal(self.preload.column("op"), "D")))
        live = np.unique(pc.filter(ids, pc.invert(pc.is_in(ids, value_set=deleted)))
                         .to_numpy(zero_copy_only=False))
        n = p["chunk"]
        self.n_chunks = 1 + p["steps"]  # chunk 0 is the warm-up
        self.chunks, self.lookup_keys = [], []
        base_mtime = time.time()
        for i in range(self.n_chunks):
            keys = [str(k) for k in self.rng.choice(live, size=n, replace=False)]
            ts0 = hi + 1 + i * n
            n_tok = self.rng.integers(4, 65, size=n)
            tbl = pa.table({
                "commit_ts": pa.array(ts0 + np.arange(n), pa.int64()),
                "seq": pa.array(len(self.preload) + i * n + np.arange(n), pa.int64()),
                "table": pa.array([spec.table] * n, pa.string()),
                "op": pa.array(["U"] * n, pa.string()),
                "doc_id": pa.array(keys, pa.string()),
                "tokens": pa.array([self.rng.integers(0, 50_000, size=k, dtype=np.int32) for k in n_tok],
                                   pa.list_(pa.int32())),
                "n_tok": pa.array(n_tok, pa.int32()),
                "source": pa.array(["trickle"] * n, pa.string()),
                "part": pa.array(self.rng.integers(0, N_PARTS, size=n), pa.int32()),
                "schema_version": pa.array(np.zeros(n, np.int32)),
            })
            cdir = os.path.join(self.inputs, "staging", f"chunk-{i:05d}")
            _write_chunk(tbl, cdir, 1, base_mtime + 2 * i)
            _heartbeat(cdir, spec.table, ts0 + n - 1, base_mtime + 2 * i)
            self.chunks.append(tbl)
            # every lookup mixes just-written and random keys (some absent),
            # so the lookups of a run are alike and their median is steady
            half = LOOKUP_KEYS // 2
            self.lookup_keys.append(
                keys[:half] + [f"doc_{k}" for k in self.rng.integers(0, p["n_keys"], half)])

    def setup(self, rep: int) -> None:
        """Create the upstream and downstream tables, the old-value feed and
        its consumer, and pre-load the upstream table."""
        spark, d = self.ctx.spark, os.path.join(self.ctx.run_dir, f"setup{rep}")
        self.up = self.lookup_table = LakeTable.create(spark, os.path.join(d, "up"), n_buckets=N_BUCKETS)
        self.down = LakeTable.create(spark, os.path.join(d, "down"), n_buckets=N_BUCKETS)
        self.binlog = os.path.join(d, "binlog")
        os.makedirs(self.binlog)
        self.mq_dir = os.path.join(d, "mq")
        # built before the pre-load: the old-value feed turns on the key
        # blooms that make the pre-loaded files prunable
        self.feed = ChangeFeed(
            self.up, os.path.join(self.binlog, "chunk-*"), os.path.join(d, "ck"),
            lineage_dir=os.path.join(d, "lineage"), mq_dir=self.mq_dir,
            mq_partitions=N_PARTS, mq_protocol="open", mq_old_value=True,
            post_batch=self._on_batch,
        )
        self.consumer = MQConsumer(spark, self.mq_dir, self.down)
        ChangeFeed(self.up, self.preload_dir, os.path.join(d, "ck_preload"),
                   lineage_dir=os.path.join(d, "lineage_preload")).run_available()

    def chunk_events(self, i: int) -> int:
        return len(self.chunks[i])

    def run_lookup(self, i: int) -> None:
        self.lookup(self.lookup_keys[i], i)

    def check(self, oracle: Oracle) -> None:
        def upstream_after(i):  # state once chunks 0..i have committed
            return oracle.state(f"{self.tag}-up{i + 1}",
                                lambda: pa.concat_tables([self.preload, *self.chunks[: i + 1]]))

        self.check_table("upstream", self.up, upstream_after(self.landed - 1))
        self.check_table("downstream", self.down,
                         oracle.state(f"{self.tag}-down{self.landed}",
                                      lambda: pa.concat_tables(self.chunks[: self.landed])))
        self.check_lookups(upstream_after)

    def upstream_tables(self) -> list[LakeTable]:
        return [self.up]


class MultiTableSkew(Workload):
    """The multi-table capture unit: each step lands one chunk holding every
    table's events interleaved (t0 skewed onto 4 hot keys), commits it
    through MultiTableChangeFeed with sized MQ framing, applies it downstream
    with MultiMQConsumer, then looks up hot, just-written and random keys of
    t0."""

    name = "multi_table_skew"
    feed_layer = "multi"

    def generate(self) -> None:
        p = self.p
        self.n_chunks = 1 + p["steps"]  # chunk 0 is the warm-up
        self.names = [f"t{i}" for i in range(p["tables"])]
        tables = {
            name: generate_binlog(BinlogSpec(
                n_events=p["events"], n_keys=p["events"] // 4, seed=self.ctx.seed * 16 + ti,
                hot_frac=0.6 if ti == 0 else 0.0, hot_keys=4, tie_frac=0.2,
                n_parts=N_PARTS, table=name, out_of_order=False))  # commit-ts order
            for ti, name in enumerate(self.names)
        }
        # one set of commit-ts cuts for every table: chunk c of each table is
        # the ts range [cuts[c], cuts[c + 1]), and every table's heartbeat
        # for chunk c sits at cuts[c + 1] - 1, so each micro-batch releases
        # exactly its own chunk and nothing waits in the pending tail
        all_ts = np.concatenate([t.column("commit_ts").to_numpy() for t in tables.values()])
        self.cuts = np.linspace(all_ts.min(), all_ts.max() + 1, self.n_chunks + 1).astype(np.int64)
        self.chunks = {}  # table -> list of arrow chunks
        base_mtime = time.time()
        for name, tbl in tables.items():
            bounds = np.searchsorted(tbl.column("commit_ts").to_numpy(), self.cuts)
            self.chunks[name] = [tbl.slice(lo, hi - lo) for lo, hi in zip(bounds, bounds[1:])]
            for c, part in enumerate(self.chunks[name]):
                cdir = os.path.join(self.inputs, "staging", f"chunk-{c:05d}")
                shuffled = part.take(pa.array(self.rng.permutation(len(part))))
                _write_chunk(shuffled, cdir, 2, base_mtime + 2 * c, prefix=name)
                _heartbeat(cdir, name, int(self.cuts[c + 1]) - 1, base_mtime + 2 * c)
        self.files_per_chunk = 3 * len(self.names)  # 2 data files + 1 heartbeat per table
        self.hot_keys = [f"doc_{k}" for k in range(4)]

    def setup(self, rep: int) -> None:
        """Create the upstream and downstream tables, the multi-table feed
        and the multi-table consumer."""
        spark, d = self.ctx.spark, os.path.join(self.ctx.run_dir, f"setup{rep}")
        self.up = {n: LakeTable.create(spark, os.path.join(d, "up", n), n_buckets=N_BUCKETS)
                   for n in self.names}
        self.down = {n: LakeTable.create(spark, os.path.join(d, "down", n), n_buckets=N_BUCKETS)
                     for n in self.names}
        self.lookup_table = self.up["t0"]
        self.binlog = os.path.join(d, "binlog")
        os.makedirs(self.binlog)
        self.mq_dir = os.path.join(d, "mq")
        self.feed = MultiTableChangeFeed(
            self.up, os.path.join(self.binlog, "chunk-*"), os.path.join(d, "ck"),
            max_files_per_trigger=self.files_per_chunk, mq_dir=self.mq_dir,
            mq_partitions=N_PARTS, mq_protocol="open", mq_framing="sized",
            post_batch=self._on_batch,
        )
        self.consumer = MultiMQConsumer(spark, self.mq_dir, self.down, framing="sized")

    def chunk_events(self, i: int) -> int:
        return sum(len(self.chunks[t][i]) for t in self.names)

    def run_lookup(self, i: int) -> None:
        # the 4 hot keys, 2 just-written keys, 2 random keys
        written = [x for x in dict.fromkeys(self.chunks["t0"][i].column("doc_id").to_pylist())
                   if x not in self.hot_keys]
        rand = [f"doc_{x}" for x in self.rng.integers(0, self.p["events"] // 4, 2)]
        self.lookup(self.hot_keys + written[-2:] + rand, i)

    def _expected(self, oracle: Oracle, name: str, i: int) -> pa.Table:
        """State of table `name` once chunks 0..i have committed."""
        return oracle.state(f"{self.tag}-{name}-c{i + 1}",
                            lambda: pa.concat_tables(self.chunks[name][: i + 1]),
                            upto_ts=int(self.cuts[i + 1]) - 1)

    def check(self, oracle: Oracle) -> None:
        for name in self.names:
            exp = self._expected(oracle, name, self.landed - 1)
            self.check_table(f"upstream {name}", self.up[name], exp)
            self.check_table(f"downstream {name}", self.down[name], exp)
        self.check_lookups(lambda i: self._expected(oracle, "t0", i))

    def upstream_tables(self) -> list[LakeTable]:
        return list(self.up.values())


WORKLOADS = {w.name: w for w in (TrickleOldValue, MultiTableSkew)}

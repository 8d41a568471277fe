"""World workloads: a seeded `users3d` World, a read-only phase and a
write-behind CRUD phase, every result checked against an independent
numpy model of the same operations.

Geometry: `users3d` from FIXTURES.md F3 (user id, username hash,
username length, a binary payload and an encoding version) with the id
range widened to 2^20 and a coarser 4 x 4 x 2 chunk grid, plus
``signup_day``, a non-dimension column that rises with the id so that
zone maps can skip partitions. The World is built with its default
settings (pending limit 64, ``validate="flush"``, not versioned).

Two key-locality profiles share one metric set:

- ``hot``: reads select a quarter of a chunk per dim; writes stay inside
  a hot window of ids, so a flush rewrites a quarter of the partitions.
- ``wide``: reads span most of the grid; writes fall anywhere, so a
  flush rewrites nearly every partition.

Flush policy, the same on both: an explicit ``flush()`` after every
batch of three ops (two upserts and a delete), so the pending limit of
64 is never reached, and no ``FlushDaemon`` runs.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from spans import Tracer, dir_diff, dir_files

ID_BITS = 20
N_ROWS = 40_000
GRID = (4, 4, 2)  # chunks per dim: user_id, username_hash, username_length
DIM_END = (1 << ID_BITS, 1 << 16, 64)
BUILDS = 3
MIN_FLUSHES = 3
WARMUP_CYCLES = 3  # read cycles off the clock before the read phase
PENDING_GETS = 4  # checked gets per measured CRUD cycle while its batch is pending
WARMUP_PENDING_GETS = 2  # the same, in the CRUD cycle run off the clock
UPSERTS, INSERTS, DELETES = 300, 100, 100  # rows per batch
PROFILES = ("hot", "wide")


def world_spec():
    from dmds_spark.core.dims import DimSpec, WorldSpec

    names = ("user_id", "username_hash", "username_length")
    return WorldSpec(dims=tuple(
        DimSpec(n, 0, end - 1, end // g) for n, end, g in zip(names, DIM_END, GRID)
    ))


def spark_schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("user_id", T.LongType(), False),
        T.StructField("username_hash", T.LongType(), False),
        T.StructField("username_length", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("version", T.IntegerType(), False),
        T.StructField("signup_day", T.LongType(), False),
    ])


def checksum_col():
    """Per-row mix summed by every checked read; ``Model.checksum`` is
    the same formula in numpy."""
    from pyspark.sql import functions as F

    return (F.col("user_id") * 1000003 + F.col("username_hash") * 1009
            + F.col("username_length") * 31 + F.col("version") * 7
            + F.col("signup_day") * 3 + F.length("payload")).cast("long")


class Model:
    """The World's expected contents, indexed by id."""

    def __init__(self):
        n = 1 << ID_BITS
        self.alive = np.zeros(n, bool)
        self.h = np.zeros(n, np.int64)
        self.ln = np.zeros(n, np.int64)
        self.ver = np.zeros(n, np.int64)
        self.day = np.zeros(n, np.int64)
        self.plen = np.zeros(n, np.int64)

    def put(self, df: pd.DataFrame) -> None:
        i = df["user_id"].to_numpy()
        self.alive[i] = True
        self.h[i] = df["username_hash"].to_numpy()
        self.ln[i] = df["username_length"].to_numpy()
        self.ver[i] = df["version"].to_numpy()
        self.day[i] = df["signup_day"].to_numpy()
        self.plen[i] = df["payload"].map(len).to_numpy()

    def delete(self, ids: np.ndarray) -> None:
        self.alive[ids] = False

    def ids(self) -> np.ndarray:
        return np.flatnonzero(self.alive)

    def expect(self, mask: np.ndarray) -> tuple[int, int]:
        i = np.flatnonzero(mask & self.alive)
        s = (i * 1000003 + self.h[i] * 1009 + self.ln[i] * 31 + self.ver[i] * 7
             + self.day[i] * 3 + self.plen[i]).sum()
        return len(i), int(s)

    def row(self, i: int):
        if not self.alive[i]:
            return None
        return (i, int(self.h[i]), int(self.ln[i]), int(self.ver[i]), int(self.day[i]))


def make_rows(rng, ids: np.ndarray, version=None) -> pd.DataFrame:
    n = len(ids)
    ver = rng.integers(0, 10, n) if version is None else version
    ver = (np.asarray(ver) > 0).astype("int32")  # ~10% at version 0
    return pd.DataFrame({
        "user_id": ids.astype("int64"),
        "username_hash": rng.integers(0, DIM_END[1], n).astype("int64"),
        "username_length": rng.integers(0, DIM_END[2], n).astype("int64"),
        "payload": [b"user-%07d-v%d-%s" % (i, v, b"x" * int(k))
                    for i, v, k in zip(ids, ver, rng.integers(0, 24, n))],
        "version": ver,
        # sign-ups arrive in id order: zone maps on signup_day follow c0
        "signup_day": (ids >> 10).astype("int64") + rng.integers(0, 8, n),
    })


class Reads:
    """Seeded read mix: point gets, boxes (select + and_), unions
    (plus), id IN-lists (hints) and zone-map range reads. The kinds
    come in a fixed cycle, half of them gets, so every run has the
    same mix; the seed picks the keys and bounds."""

    CYCLE = ("get", "box", "get", "plus", "get", "hints", "get", "zone")

    def __init__(self, profile: str, rng):
        self.profile = profile
        self.rng = rng
        self.i = 0

    def _span(self, d: int) -> tuple[int, int]:
        """Value interval on dim ``d`` of a fixed width, at a seeded
        position: a quarter of one chunk (hot) or all but the last
        quarter-chunk of a span of ``g - 1`` chunks (wide)."""
        end, g = DIM_END[d], GRID[d]
        width = end // g
        if self.profile == "hot":
            lo = int(self.rng.integers(0, g)) * width + int(self.rng.integers(0, width // 2))
            return lo, lo + width // 4
        k = max(g - 1, 1)
        c = int(self.rng.integers(0, g - k + 1))
        return c * width, (c + k) * width - 1 - width // 4

    def next(self, model: Model):
        kind = self.CYCLE[self.i % len(self.CYCLE)]
        self.i += 1
        ids = model.ids()
        if kind == "get":
            live = self.rng.random() < 0.8
            i = int(self.rng.choice(ids)) if live else int(self.rng.integers(0, 1 << ID_BITS))
            return "get", i
        if kind == "box":
            return "box", [(d, self._span(d)) for d in range(3)]
        if kind == "plus":
            return "plus", [(1, self._span(1)), (2, self._span(2))]
        if kind == "hints":
            n = 5 if self.profile == "hot" else 50
            if self.profile == "hot":
                c0 = (1 << ID_BITS) // GRID[0]
                lo = int(self.rng.integers(0, GRID[0])) * c0
                pool = ids[(ids >= lo) & (ids < lo + c0)]
            else:
                pool = ids
            pick = self.rng.choice(pool, size=n, replace=False)
            extra = self.rng.integers(0, 1 << ID_BITS, 2)  # maybe absent ids
            return "hints", [int(x) for x in np.concatenate([pick, extra])]
        lo, hi = self._span(0)
        return "zone", (lo >> 10, hi >> 10)


def build_select(world, kind, arg):
    if kind == "box":
        (d0, b0), *rest = arg
        sel = world.select(d0, b0)
        for d, b in rest:
            sel = sel.and_(d, b)
        return sel
    if kind == "plus":
        (d0, b0), (d1, b1) = arg
        return world.select(d0, b0).plus(d1, b1)
    if kind == "hints":
        return world.select_all().hints(arg)
    return None


def model_mask(model: Model, kind, arg) -> np.ndarray:
    n = 1 << ID_BITS
    idx = np.arange(n)
    cols = (idx, model.h, model.ln)
    if kind == "box":
        m = np.ones(n, bool)
        for d, (lo, hi) in arg:
            m &= (cols[d] >= lo) & (cols[d] <= hi)
        return m
    if kind == "plus":
        (d0, (a, b)), (d1, (c, e)) = arg
        return ((cols[d0] >= a) & (cols[d0] <= b)) | ((cols[d1] >= c) & (cols[d1] <= e))
    if kind == "hints":
        m = np.zeros(n, bool)
        m[arg] = True
        return m
    lo, hi = arg
    return (model.day >= lo) & (model.day <= hi)


class WorldRun:
    """One seeded run of a World profile: set-up, read phase, CRUD
    phase, final snapshot check. Timings for the end-to-end metrics are
    taken here with ``perf_counter``; layer spans go to the tracer."""

    def __init__(self, spark, profile: str, seed: int, work: str, tracer: Tracer):
        if profile not in PROFILES:
            raise ValueError(f"unknown World profile {profile!r}")
        self.spark, self.profile, self.work, self.tr = spark, profile, work, tracer
        self.rng = np.random.default_rng(seed)
        self.model = Model()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.out: dict[str, float] = {}
        self.world = None
        self._hot = None  # the hot write window, fixed at the first batch
        self._changed: set[int] = set()  # ids touched since the last flush

    # -- bookkeeping ---------------------------------------------------------

    def _sample(self, key: str, v: float) -> None:
        self.samples.setdefault(key, []).append(v)

    def _check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def _guard(self, what: str, fn):
        """Run one operation; an exception counts as a failed op."""
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 — counted, reported, run goes on
            self.attempted += 1
            self.failed += 1
            self.errors.append(f"{what}: {type(e).__name__}: {str(e)[:200]}")
            return None

    # -- set-up --------------------------------------------------------------

    def setup(self) -> None:
        """Build the World ``BUILDS`` times from the same seeded rows and
        keep the last; then refresh its zone map on ``signup_day``."""
        from dmds_spark.world import World

        ids = self.rng.choice(1 << ID_BITS, size=N_ROWS, replace=False)
        rows = make_rows(self.rng, np.sort(ids))
        self.model.put(rows)
        times = []
        for b in range(BUILDS):
            path = os.path.join(self.work, f"world{b}")
            if self.world is not None:
                self.world.close()
                shutil.rmtree(self.world.path, ignore_errors=True)
            t0 = time.perf_counter()
            world = World(self.spark, world_spec(), path)
            df = self.spark.createDataFrame(rows, spark_schema())
            world.upsert(df)
            self.tr.call("world.build", world.flush)
            times.append(time.perf_counter() - t0)
            self.world = world
        print(f"perfbench: builds {[round(t, 2) for t in times]}", file=sys.stderr)
        self.out["world.build_s"] = statistics.median(times)
        t0 = time.perf_counter()
        world = self.world
        self.tr.call("core.zonemap.refresh", lambda: world.zonemap_refresh(["signup_day"]))
        self.out["core.zonemap.refresh_s"] = time.perf_counter() - t0

    # -- reads ---------------------------------------------------------------

    def _read(self, kind, arg, pending: bool) -> float:
        """One checked read; returns its wall seconds."""
        w, tr = self.world, self.tr
        label = "world.read.pending" if pending else "world.read"
        t0 = time.perf_counter()
        if kind == "get":
            df = tr.call(label + ".build", lambda: w.get(arg))
            got = tr.call(label + ".action", df.collect)
            dt = time.perf_counter() - t0
            want = self.model.row(arg)
            have = [(r.user_id, r.username_hash, r.username_length, r.version, r.signup_day)
                    for r in got]
            self._check(f"get {arg}", have == ([want] if want else []))
            if tr.enabled:
                tr.spans[-1].extra["rows"] = len(got)
            return dt
        from pyspark.sql import functions as F

        def build():
            if kind == "zone":
                return w.read_where({"signup_day": arg})
            return w.read(build_select(w, kind, arg))

        df = tr.call(label + ".build", build)
        agg = df.agg(F.count(F.lit(1)).alias("n"), F.sum(checksum_col()).alias("s"))
        row = tr.call(label + ".action", lambda: agg.collect()[0])
        dt = time.perf_counter() - t0
        n, s = self.model.expect(model_mask(self.model, kind, arg))
        self._check(f"{kind} {arg}", (row.n, row.s or 0) == (n, s))
        if tr.enabled:
            tr.spans[-1].extra["rows"] = row.n
        return dt

    def read_phase(self, seconds: float) -> None:
        """Read-only loop over the freshly built World: no writes, no
        flush, the cached base relation stays valid throughout."""
        w = self.world
        if self.tr.enabled:
            # layer numbers for pruning, measured off the clock
            total = int(np.prod(GRID))
            plan_ms, frac = [], []
            probe = Reads(self.profile, np.random.default_rng(self.rng.integers(1 << 31)))
            for _ in range(50):
                kind, arg = probe.next(self.model)
                if kind in ("box", "plus", "hints"):
                    t0 = time.perf_counter()
                    shape = build_select(w, kind, arg).shape()
                    plan_ms.append((time.perf_counter() - t0) * 1000)
                    frac.append(len(shape.positions()) / total)
            self.out["core.select.plan_ms"] = statistics.median(plan_ms)
            self.out["core.select.chunks_selected_frac"] = statistics.mean(frac)
        reads = Reads(self.profile, self.rng)
        # warm-up, off the clock: WARMUP_CYCLES rounds of the read cycle
        for _ in range(WARMUP_CYCLES * len(Reads.CYCLE)):
            kind, arg = reads.next(self.model)
            self._guard(f"{kind} {arg}", lambda: self._read(kind, arg, False))
        skipped = []
        start = time.perf_counter()
        n = 0
        while time.perf_counter() - start < seconds:
            kind, arg = reads.next(self.model)
            if kind == "zone" and self.tr.enabled:
                rep = w.zonemap_prune_report({"signup_day": arg})
                skipped.append(rep["pruned"] / max(rep["total"], 1))
            dt = self._guard(f"{kind} {arg}", lambda: self._read(kind, arg, False))
            if dt is not None:
                self._sample("get_ms" if kind == "get" else "select_ms", dt * 1000)
                n += 1
        self.out["reads_per_s"] = n / (time.perf_counter() - start)
        if self.tr.enabled:
            self.out["core.zonemap.partitions_skipped_frac"] = (
                statistics.mean(skipped) if skipped else 0.0)

    # -- writes --------------------------------------------------------------

    def _window(self) -> np.ndarray:
        """Ids a batch may touch: the hot window (an eighth of one
        dim-0 chunk's id range) or the whole id space."""
        n = 1 << ID_BITS
        if self.profile == "wide":
            return np.arange(n)
        if self._hot is None:
            c0 = n // GRID[0]
            lo = int(self.rng.integers(0, GRID[0])) * c0 + int(self.rng.integers(0, 8)) * (c0 // 8)
            self._hot = np.arange(lo, lo + c0 // 8)
        return self._hot

    def _batch(self) -> int:
        """Upserts (half move to another chunk), inserts, deletes; the
        model applies each op in the same order. Returns rows changed."""
        w, rng, model = self.world, self.rng, self.model
        win = self._window()
        alive = win[model.alive[win]]
        dead = win[~model.alive[win]]
        pick = rng.choice(alive, size=UPSERTS + DELETES, replace=False)
        up_ids, del_ids = pick[:UPSERTS], pick[UPSERTS:]
        ins_ids = rng.choice(dead, size=INSERTS, replace=False)
        up = make_rows(rng, up_ids, version=np.ones(UPSERTS))
        # the half that stays put keeps its dims: payload-only update
        stay = rng.random(UPSERTS) < 0.5
        up.loc[stay, "username_hash"] = model.h[up_ids[stay]]
        up.loc[stay, "username_length"] = model.ln[up_ids[stay]]
        up["signup_day"] = model.day[up_ids]
        ins = make_rows(rng, ins_ids)
        for rows in (up, ins):
            df = self.spark.createDataFrame(rows, spark_schema())
            self.tr.call("world.upsert", lambda: w.upsert(df))
            model.put(rows)
        self.tr.call("world.delete", lambda: w.delete_ids(del_ids.tolist()))
        model.delete(del_ids)
        self._changed.update(up_ids.tolist())
        self._changed.update(ins_ids.tolist())
        self._changed.update(del_ids.tolist())
        self._last = (up_ids, del_ids)
        return UPSERTS + INSERTS + DELETES

    def _flush(self, sample: bool = True) -> bool:
        w, tr = self.world, self.tr
        before = dir_files(w.path) if tr.enabled else None
        t0 = time.perf_counter()
        tr.call("world.flush", w.flush, changed=len(self._changed))
        if sample:
            self._sample("flush_s", time.perf_counter() - t0)
        if tr.enabled:
            diff = dir_diff(before, dir_files(w.path))
            diff["rows_rewritten"] = sum(
                pq.ParquetFile(os.path.join(w.path, p)).metadata.num_rows
                for p in diff["written"] if p.endswith(".parquet"))
            del diff["written"]
            tr.spans[-1].extra.update(diff)
        self._changed = set()
        return True

    def _cycle(self, gets: int, sample: bool) -> int | None:
        """One write-behind cycle: a batch, ``gets`` checked gets while it
        is pending (updated ids, which may have moved, and deleted ids,
        which must be gone, alternating), then a flush. Returns rows
        changed, or None if the batch or the flush failed."""
        got = self._guard("batch", self._batch)
        if got is None:
            return None
        up_ids, del_ids = self._last
        n_del = gets // 2
        picks = np.empty(gets, np.int64)
        picks[0::2] = self.rng.choice(up_ids, size=gets - n_del, replace=False)
        picks[1::2] = self.rng.choice(del_ids, size=n_del, replace=False)
        for i in picks.tolist():
            dt = self._guard(f"pending get {i}", lambda: self._read("get", i, True))
            if dt is not None and sample:
                self._sample("pending_read_ms", dt * 1000)
        if self._guard("flush", lambda: self._flush(sample)) is None:
            return None
        return got

    def crud_phase(self, seconds: float) -> None:
        """Write-behind loop: one cycle off the clock (the first flush and
        the first pending reads of a JVM run slow), then measured cycles.
        No measured cycle starts that would end past ``seconds`` if it
        took as long as the one before, but at least ``MIN_FLUSHES`` run.

        The first read after a flush re-lists the World directory (the
        flush invalidated the cached base relation), so it is slower
        than the rest; with ``PENDING_GETS`` = 4 one sample in four is
        such a read and the median lies among the others, not between
        the two kinds."""
        self._cycle(WARMUP_PENDING_GETS, sample=False)
        start = time.perf_counter()
        rows = 0
        while True:
            cycle0 = time.perf_counter()
            got = self._cycle(PENDING_GETS, sample=True)
            if got is None:
                break
            rows += got
            cycle_s = time.perf_counter() - cycle0
            elapsed = time.perf_counter() - start
            if len(self.samples["flush_s"]) >= MIN_FLUSHES and elapsed + cycle_s > seconds:
                break
        self.out["crud_rows_per_s"] = rows / (time.perf_counter() - start)

    # -- final state -----------------------------------------------------------

    def final_check(self) -> None:
        """Flush leftovers, then compare the whole snapshot and the
        on-disk footprint with the model."""
        from pyspark.sql import functions as F

        w = self.world
        if w.writes:
            self._guard("final flush", self._flush)

        def snap():
            row = w.snapshot().agg(F.count(F.lit(1)).alias("n"),
                                   F.sum(checksum_col()).alias("s")).collect()[0]
            self._check("final snapshot", (row.n, row.s) == self.model.expect(
                np.ones(1 << ID_BITS, bool)))

        self._guard("final snapshot", snap)
        files = dir_files(w.path)
        data = [p for p in files if p.endswith(".parquet")]
        parts = {os.path.dirname(p) for p in data}
        live = int(self.model.alive.sum())
        self.out["disk_bytes_per_live_row"] = sum(files[p][0] for p in data) / max(live, 1)
        self.out["world.partitions"] = len(parts)
        self.out["world.files_per_partition"] = len(data) / max(len(parts), 1)

    def close(self) -> None:
        if self.world is not None:
            self.world.close()

    # -- layer numbers (traced runs) -------------------------------------------

    def layer_metrics(self) -> dict[str, float]:
        """World and core layers from the attributed spans."""
        from spans import span_metrics

        tr = self.tr
        med = statistics.median
        out = {k: v for k, v in self.out.items() if "." in k}
        flush = [span_metrics(s) | s.extra for s in tr.spans if s.name == "world.flush"]
        for f in ("jobs", "tasks", "driver_s", "executor_run_s", "executor_cpu_s",
                  "gc_s", "input_bytes", "shuffle_bytes", "spill_bytes",
                  "files_written", "bytes_written", "py4j_calls"):
            out[f"world.flush.{f}"] = med(m[f] for m in flush)
        out["world.flush.partitions_rewritten"] = med(m["partitions_touched"] for m in flush)
        out["world.flush.rows_rewritten_per_row_changed"] = (
            sum(m["rows_rewritten"] for m in flush) / max(sum(m["changed"] for m in flush), 1))
        up = [span_metrics(s) for s in tr.spans if s.name == "world.upsert"]
        out["world.upsert.call_ms"] = med(m["wall_s"] for m in up) * 1000
        out["world.upsert.py4j_calls"] = med(m["py4j_calls"] for m in up)
        for label, key in (("world.read", "world.read"),
                           ("world.read.pending", "world.read_pending")):
            builds = [s for s in tr.spans if s.name == label + ".build"]
            actions = [s for s in tr.spans if s.name == label + ".action"]
            reads = [(span_metrics(b), span_metrics(a), a.extra.get("rows", 0))
                     for b, a in zip(builds, actions)]
            out[f"{key}.build_ms"] = med(b["wall_s"] for b, _, _ in reads) * 1000
            out[f"{key}.action_ms"] = med(a["wall_s"] for _, a, _ in reads) * 1000
            out[f"{key}.jobs"] = med(b["jobs"] + a["jobs"] for b, a, _ in reads)
            out[f"{key}.py4j_calls"] = med(b["py4j_calls"] + a["py4j_calls"] for b, a, _ in reads)
            if key == "world.read_pending":
                continue
            out[f"{key}.tasks"] = med(b["tasks"] + a["tasks"] for b, a, _ in reads)
            out[f"{key}.driver_ms"] = med(b["driver_s"] + a["driver_s"] for b, a, _ in reads) * 1000
            out[f"{key}.executor_run_ms"] = med(
                b["executor_run_s"] + a["executor_run_s"] for b, a, _ in reads) * 1000
            out[f"{key}.input_bytes"] = med(b["input_bytes"] + a["input_bytes"] for b, a, _ in reads)
            out[f"{key}.rows_examined_per_row_returned"] = (
                sum(b["input_records"] + a["input_records"] for b, a, _ in reads)
                / max(sum(n for _, _, n in reads), 1))
        return out

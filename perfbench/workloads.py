"""The two workloads: one closed-loop client, one operation at a time.

Each workload runs passes: pass 0 is the JIT-cold first pass (recorded,
kept out of every warm figure), then warm passes until the measured
window ends. Every call into the engine goes through ``Recorder.op`` so
it is timed, and, in a traced run, tagged with its own job group.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from pyspark.sql import functions as F

from manipula_o_de_dataframes_spark import plans
from manipula_o_de_dataframes_spark.operators import filters, sorting
from manipula_o_de_dataframes_spark.queries import (
    QUERIES,
    _nation_week_rev,
    _obs_customer_frame,
    _weekly_nation_census,
)
from manipula_o_de_dataframes_spark.streaming.pending_stream import pending_stream_weekly
from manipula_o_de_dataframes_spark.streaming.upsert_sink import upsert_drained

import checks
import gen
from coldstart import noop
from tracing import PeakDirSize, dir_bytes, spool_dirs_read, subdirs

# refresh_cycle: three commercial session spools, built as bench.py
# builds them, and one consumer served from each (build cost beside
# serve cost).
SPOOLS = [
    ("nation_week_census", _weekly_nation_census),
    ("nation_week_rev", _nation_week_rev),
    ("obs_customer_frame", _obs_customer_frame),
]
SPOOL_CONSUMERS = ["kendall_tau", "weekly_trend", "ipw_ate"]

DASH_INTERACTIONS_PER_PASS = 24
DASH_PAGE_SIZE = 25
DASH_ORDER_COLS = ["n_interacoes", "total_qtd", "ultima_data", "produto", "cliente"]
DASH_KEY = ["subgrupo", "produto", "cliente"]


class Workload:
    """Common pass loop: ``run_pass`` is called with the pass number
    until the window closes, always at least ``min_warm`` warm passes."""

    min_warm = 3

    def __init__(self, spark, rec, ctx):
        self.spark, self.rec, self.ctx = spark, rec, ctx
        self.rng = random.Random(ctx.seed)

    def run(self, seconds: float, hard_deadline: float) -> None:
        with self.rec.pass_():
            self.run_pass(0)
        start = time.perf_counter()
        while True:
            warm = self.rec.pass_no - 1
            now = time.perf_counter()
            if warm >= self.min_warm and now - start >= seconds:
                break
            if warm >= 1 and now >= hard_deadline:
                break
            with self.rec.pass_():
                self.run_pass(self.rec.pass_no)
        self.window_s = time.perf_counter() - start

    def check(self) -> tuple[int, list[str]]:
        """Check outputs after the window: (checks made, issues)."""
        raise NotImplementedError

    def check_queries(self, names: list[str], data_dir: str) -> tuple[int, list[str]]:
        issues = []
        for name in names:
            issues += [f"{name}: {m}" for m in checks.check_query(self.spark, name, data_dir)]
        return len(names), issues


class DashboardSession(Workload):
    """Process click, then a seeded run of filter/sort/page interactions
    served from the cached working set."""

    def __init__(self, spark, rec, ctx):
        super().__init__(spark, rec, ctx)
        self.working = None
        self.samples: list[tuple[dict, list]] = []
        self.sample_slots = set(self.rng.sample(range(DASH_INTERACTIONS_PER_PASS), 2))

    def process(self):
        hist = plans.product_client_history(self.spark, self.ctx.data_dir)
        abc = plans.abc_classification(self.spark, self.ctx.data_dir).select("cliente", "abc")
        return hist.join(abc, "cliente").cache()

    def _count(self, df):
        df.count()
        if self.rec.traced:
            info = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
            self.rec.add("operators.cache_bytes", sum(i.memSize() + i.diskSize() for i in info))
        return df

    def interactions(self) -> list[dict]:
        """One pass of interactions: a fixed, balanced set of shapes
        (which filters are set, sort column and direction, paginate or
        top_k, page) in a seeded order, with seeded filter values. The
        seed changes values and order, not the amount of work."""
        r = self.rng
        out = []
        for i in range(DASH_INTERACTIONS_PER_PASS):
            mask = i % 8
            out.append({
                "shape": i,
                "spec": {
                    "ultimo_consultor": r.choice("ANR") if mask & 1 else "Todos",
                    "subgrupo": f"Brand#{r.randint(1, 25)}" if mask & 2 else "Todos",
                    "abc": "ABC"[i % 3] if mask & 4 else "Todos",
                },
                "col": DASH_ORDER_COLS[(i // 8) % len(DASH_ORDER_COLS)],
                "desc": i % 4 < 2,
                "kind": "top_k" if i % 10 in (3, 6, 9) else "paginate",
                "page": 1 + (i // 2) % 4,
            })
        r.shuffle(out)
        return out

    def page(self, it: dict):
        c = F.col(it["col"])
        order = [c.desc() if it["desc"] else c.asc(), *DASH_KEY]
        df = filters.dynamic(self.working, it["spec"])
        if it["kind"] == "top_k":
            return sorting.top_k(df, order, it["page"] * DASH_PAGE_SIZE)
        return sorting.paginate(df, order, it["page"], DASH_PAGE_SIZE)

    def run_pass(self, p: int) -> None:
        if self.working is not None:
            self.working.unpersist(blocking=True)
        self.working = self.rec.op("plans", "process_click", self.process, self._count)
        if self.working is None:
            return
        for i, it in enumerate(self.interactions()):
            rows = self.rec.op(
                "operators", it["kind"], lambda: self.page(it), lambda df: df.collect(),
                key=f"operators.shape{it['shape']}",
            )
            if p > 0 and i in self.sample_slots and rows is not None:
                self.samples.append((it, rows))

    def check(self) -> tuple[int, list[str]]:
        issues = checks.check_dashboard(
            self.samples, self.working.columns, self.ctx.data_dir, DASH_PAGE_SIZE, DASH_KEY
        )
        return len(self.samples), issues


class RefreshCycle(Workload):
    """Weekly upload: a fresh input directory per pass (written untimed),
    then snapshot ingest, the two streaming drains, the spool rebuilds
    and the spool consumers."""

    def __init__(self, spark, rec, ctx):
        super().__init__(spark, rec, ctx)
        self.dirs: list[str] = []

    def fresh_dir(self, p: int) -> str:
        d = os.path.join(self.ctx.scratch, f"week{p}")
        gen.write_refresh(self.ctx.data_dir, d, self.ctx.seed * 1000 + p)
        # Keep only the previous week: its spools are never read again.
        while len(self.dirs) > 1:
            shutil.rmtree(self.dirs.pop(0), ignore_errors=True)
        self.dirs.append(d)
        return d

    def run_pass(self, p: int) -> None:
        rec, spark, tmp = self.rec, self.spark, self.ctx.tmp
        # The pass timer is already running; the directory write is
        # the upload, not the engine's work, so it is taken back out.
        t0 = time.perf_counter()
        d = self.fresh_dir(p)
        rec.untimed(time.perf_counter() - t0)

        snap_root = os.path.join(tmp, "manipula_snapshots")
        before = dir_bytes(snap_root)
        rec.op("sources", "weekly_snapshots", lambda: QUERIES["weekly_snapshots"](spark, d), noop)
        rec.add("sources.bytes_written", dir_bytes(snap_root) - before)

        for name, fn in (("pending_stream_weekly", pending_stream_weekly),
                         ("upsert_drained", upsert_drained)):
            if rec.traced:
                with PeakDirSize(tmp, ("manipula_stream_", "manipula_upsert_")) as peak:
                    rec.op("streaming", name, lambda: fn(spark, d), noop)
                rec.add("streaming.state_bytes", peak.peak)
            else:
                rec.op("streaming", name, lambda: fn(spark, d), noop)

        root = self.ctx.spool_dir
        bytes0, dirs0 = dir_bytes(root), subdirs(root)
        for name, fn in SPOOLS:
            rec.op("operators.spool", name, lambda: fn(spark, d))
        built = subdirs(root) - dirs0
        rec.add("operators.spool.bytes_written", dir_bytes(root) - bytes0)
        rec.add("operators.spool.dirs", len(built))
        reads = 0
        for name in SPOOL_CONSUMERS:
            df = rec.op("queries", name, lambda: QUERIES[name](spark, d), lambda df: noop(df) or df)
            if rec.traced and df is not None:
                reads += len(spool_dirs_read(df, root) & built)
        if rec.traced:
            # Consumer scans that read a spool built in this pass.
            rec.add("operators.spool.reads_per_build", reads / max(1, len(built)))

    def check(self) -> tuple[int, list[str]]:
        ingest = ["weekly_snapshots", "pending_stream", "stream_upsert"]
        names = checks.sample(ingest, 1, self.ctx.seed) + checks.sample(
            SPOOL_CONSUMERS, 1, self.ctx.seed
        )
        return self.check_queries(names, self.dirs[-1])


WORKLOADS = {
    "dashboard_session": DashboardSession,
    "refresh_cycle": RefreshCycle,
}

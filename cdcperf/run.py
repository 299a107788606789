"""CDC engine benchmark: one closed-loop client driving the public API.

    python3 cdcperf/run.py --workload bulk_apply --seed 1 --seconds 20 --trace 0

Set-up applies an untimed warm batch and read mix.  Per timed batch:
``CdcApplier.apply_batch`` over a staged parquet change log, then
(serve_mixed) a projected follower sync and a rollup sync, point
lookups, and (serve_mixed), before the next batch, ``maintain``.  The
batch count is a pure function of ``--seconds`` (``inputs.n_batches``),
so every build applies the same batches and ends in the same table
state.  After the loop: five full reconciled scans, then the
correctness gate (gate.py).
``--trace 1`` adds spans, a counting FileIO and the per-layer probes,
and prints the per-layer metrics instead of the end-to-end ones.
Metric names and units are those BENCHMARK.json declares; METRICS.md
says what each one measures.

The last line of stdout is the result object; everything the run writes
stays under ``.cdcperf_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".cdcperf_work")
CORES = max(1, min(2, os.cpu_count() or 2))
SHUFFLE_PARTITIONS = 32
SCANS = 5  # full scans after the loop; scan_s is their median


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["bulk_apply", "serve_mixed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def confine_to_checkout(run_dir: str) -> None:
    """Point every temp and spill directory of Python, Spark and the JVMs
    at ``run_dir`` (and keep the JVMs from writing perf data to /tmp)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    # as many GC threads as Spark task threads, so a collection does not
    # contend with the driver and the Python workers for the spare cores
    os.environ.setdefault(
        "SPARK_GRAFT_JVM_OPTS",
        f"-XX:ParallelGCThreads={CORES} -XX:ConcGCThreads=1",
    )


def med(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """One benchmark run: setup, the timed loop, the gate, the probes."""

    def __init__(self, args, run_dir):
        from inputs import WORKLOADS
        from tracing import CountingFileIO, Tracer

        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.dir = run_dir
        self.tracer = Tracer(f"{args.workload}-{args.seed}", enabled=bool(args.trace))
        self.io = CountingFileIO() if args.trace else None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.m: dict[str, tuple[float, str]] = {}
        self.t_start = time.perf_counter()

    # ---- bookkeeping ---------------------------------------------------

    def put(self, name, value, unit):
        self.m[name] = (float(value), unit)

    def op(self, name, fn, ok=lambda out: True):
        """One timed operation: an attempt; a failure if it raises or
        ``ok(result)`` is false.  Returns (result or None, span record)."""
        self.attempted += 1
        with self.tracer.span(name) as rec:
            try:
                out = fn()
            except Exception as e:  # counted, reported, and the run goes on
                out, rec["failed"] = None, f"{type(e).__name__}: {e}"
        if "failed" not in rec and not ok(out):
            rec["failed"] = f"rejected result {out!r}"
        if "failed" in rec:
            self.failed += 1
            self.errors.append(f"{name}: {rec['failed']}")
            return None, rec
        return out, rec

    # ---- phases --------------------------------------------------------

    def log(self, msg):
        print(f"cdcperf: {time.perf_counter() - self.t_start:7.2f}s {msg}", file=sys.stderr)

    def setup(self):
        from giraffe_etl_spark.cdc import CdcApplier, MaintenancePolicy, seed_pages
        from giraffe_etl_spark.cdc.replay import parquet_log_source
        from giraffe_etl_spark.session import get_spark
        from inputs import N_BUCKETS

        t0 = time.perf_counter()
        with self.tracer.span("session.start") as rec:
            self.spark = get_spark(
                "cdcperf", cores=CORES, shuffle_partitions=SHUFFLE_PARTITIONS,
                extra_conf={
                    "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                    "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
                    # one log segment file = one scan task (the html packs
                    # ~10x, so byte-based splitting would merge segments)
                    "spark.sql.files.maxPartitionBytes": str(2 << 20),
                    "spark.sql.files.openCostInBytes": str(128 << 10),
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        self.session_start_s = rec["s"]
        self.log("session started")
        spark, wl, inp = self.spark, self.wl, self.inputs
        self.source = parquet_log_source(inp.log_path)
        policy = (
            # after every batch: fold all deltas, expire all but the last
            # 8 snapshots (the views' cursors trail the head by one)
            MaintenancePolicy(compact_every=1, max_delta_files=0,
                              expire_every=1, keep_last=8)
            if wl.views else None
        )
        # The warm batch's cold-start plan sample is 8x the default
        # fraction, so on its 1/8-size batch it covers as many events as
        # the default does on a full batch: it must catch the hot keys, or
        # the adaptive-planning profile every later batch plans from
        # leaves them unsalted, and bulk_apply's batch time then depends
        # on the seed.  Steady-state batches run no planning job, so the
        # fraction touches nothing else.
        self.applier = CdcApplier(
            spark, os.path.join(self.dir, "table"), n_buckets=N_BUCKETS,
            io=self.io, maintenance=policy, plan_sample=0.16,
        )
        seed_pages(self.applier.pages, spark.createDataFrame(inp.pages))
        self.log("table seeded")
        self.follower = self.rollup = None
        if wl.views:
            self.follower, self.rollup = self.make_views(self.applier.pages)
            self.log("views created")
        # untimed warm-up on the same table and stream: batch 0 (the
        # first batch runs cold at about twice the steady-state time) and
        # one pass of the read mix over its dirty buckets (view syncs, a
        # lookup, a scan), then maintenance, so JIT, codegen, the Python
        # workers, the planning profile and every read path are warm
        # before the first timed batch
        lo, hi = inp.warm_range()
        res = self.applier.apply_batch(self.source(spark, None, lo, hi), 0,
                                       (3 * lo, 3 * hi - 1))
        if res.skipped:
            raise RuntimeError("warm batch 0 skipped on a fresh table")
        self.log(f"warm batch {res.wall_ms} ms, phases {res.phase_ms}")
        if wl.views:
            self.follower.sync()
            self.rollup.sync()
        lookup(self.applier.pages, inp.lookup_keys[0])
        scan_agg(self.applier.pages)
        if wl.views:
            self.applier.maintain(0)
        self.log("warm-up done")
        self.put("setup_s", time.perf_counter() - t0, "s")
        self.log("setup done")

    def make_views(self, pages):
        from giraffe_etl_spark.cdc import ChangelogFollower, IncrementalRollup

        follower = ChangelogFollower(
            self.spark, pages, os.path.join(self.dir, "follower"),
            columns=["url", "warc_ts", "lang"],
        )
        rollup = IncrementalRollup(
            self.spark, pages, os.path.join(self.dir, "rollup"),
            group_cols=["lang"],
            measures={"n_pages": "1", "text_chars": "coalesce(length(text), 0)"},
            # the applier's compactions restate rows, they add none
            on_rewrite="skip",
        )
        return follower, rollup

    def loop(self):
        from giraffe_etl_spark.functions.url import normalize_url_simple
        from inputs import LOOKUPS_PER_BATCH

        inp = self.inputs
        self.results, self.apply_s, self.fresh_s, self.lookup_s = [], [], [], []
        self.maintained, self.maintain_s, self.io_per_batch = [], [], []
        self.follow_reports, self.follow_s, self.rollup_s = [], [], []
        keys = iter(inp.lookup_keys[1:] * (1 + inp.n_batches))
        for b in range(inp.n_batches):
            lo, hi = inp.batch_range(b)
            batch_id = b + 1  # 0 is the warm batch
            batch = self.source(self.spark, None, lo, hi)
            io0 = self.io.snapshot() if self.io else None
            t_b = time.perf_counter()
            res, rec = self.op(
                "apply_batch",
                lambda: self.applier.apply_batch(batch, batch_id, (3 * lo, 3 * hi - 1)),
                ok=lambda r: not r.skipped,
            )
            if res is not None:
                self.results.append(res)
                self.apply_s.append(rec["s"])
                self.tracer.fold_phases(rec, res.phase_ms)
            if io0 is not None:
                io1 = self.io.snapshot()
                self.io_per_batch.append({k: io1[k] - io0[k] for k in io1})
            if self.follower is not None:
                rep, rec = self.op("follow.sync", self.follower.sync)
                if rep is not None:
                    self.follow_reports.append(rep)
                    self.follow_s.append(rec["s"])
                out, rec = self.op("rollup.sync", self.rollup.sync)
                if out is not None:
                    self.rollup_s.append(rec["s"])
                self.fresh_s.append(time.perf_counter() - t_b)
                urls = [next(keys) for _ in range(LOOKUPS_PER_BATCH)]
            else:
                # no views: a change is visible once a point read of a
                # key this batch wrote returns
                rows = inp.changes.iloc[lo:hi]
                rows = rows[rows["op"].isin(["I", "U"]) & rows["url"].notna()]
                urls = [normalize_url_simple(rows["url"].iloc[-1])]
                urls += [next(keys) for _ in range(LOOKUPS_PER_BATCH - 1)]
            for i, url in enumerate(urls):
                out, rec = self.op("lookup", lambda: lookup(self.applier.pages, url))
                if out is not None:
                    self.lookup_s.append(rec["s"])
                    if self.follower is None and i == 0:
                        self.fresh_s.append(time.perf_counter() - t_b)
            if self.wl.views and b + 1 < inp.n_batches:
                # maintenance runs between batches, off the visibility
                # path, so every lookup above and the final scans read
                # buckets holding at least one delta file
                out, rec = self.op("maintain", lambda: self.applier.maintain(batch_id))
                if out is not None:
                    self.maintained.append(out)
                    self.maintain_s.append(rec["s"])
        scans, self.scan_row = [], None
        for _ in range(SCANS):
            row, rec = self.op("scan", lambda: scan_agg(self.applier.pages))
            if row is not None:
                scans.append(rec["s"])
                self.scan_row = row
        self.put("scan_s", med(scans), "s")
        self.log("apply " + " ".join(f"{x:.2f}" for x in self.apply_s)
                 + " | lookup " + " ".join(f"{x:.2f}" for x in self.lookup_s)
                 + " | scan " + " ".join(f"{x:.2f}" for x in scans))

    def report_end_to_end(self):
        rows = sum(r.rows_in for r in self.results)
        self.put("apply_events_per_s", rows / max(sum(self.apply_s), 1e-9), "1/s")
        self.put("apply_batch_p50_s", med(self.apply_s), "s")
        self.put("freshness_p50_s", med(self.fresh_s), "s")
        self.put("lookup_p50_ms", 1000 * med(self.lookup_s), "ms")
        self.put("table_mb", self.table_bytes() / 1e6, "MB")
        self.put("op_ok_ratio", 1 - self.failed / max(self.attempted, 1), "ratio")

    def table_bytes(self):
        snap = self.applier.pages.current_snapshot()
        return sum(
            os.path.getsize(fi["path"])
            for m in (snap.buckets, snap.deltas)
            for fs in m.values()
            for fi in fs
        )

    def gate(self):
        """Untimed, so its Spark jobs run side by side on a thread pool."""
        from concurrent.futures import ThreadPoolExecutor

        import gate

        inp, pages = self.inputs, self.applier.pages
        with ThreadPoolExecutor(max_workers=3) as pool:
            jobs = [pool.submit(gate.check_quarantine, self.applier.quarantine, inp.changes)]
            if self.follower is not None:
                jobs.append(pool.submit(gate.check_views, pages, self.follower, self.rollup))
            want = gate.expected_pages(inp.pages, inp.changes, inp.sample)
            problems = gate.check_pages(pages, want, inp.sample)
            for job in jobs:
                problems += job.result()
        if self.follower is not None and self.scan_row is not None:
            # the scan and the rollup must agree on the live text volume
            got = sum(r["text_chars"] for r in self.rollup.read().collect())
            if got != self.scan_row["text_chars"]:
                problems.append(f"rollup text_chars {got} != scan {self.scan_row['text_chars']}")
        return problems

    def declared_metrics(self, problems):
        """The metrics BENCHMARK.json declares for this mode, in its order;
        a declared metric this run did not produce is a benchmark bug."""
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)["per_layer" if self.args.trace else "end_to_end"]
        out = {}
        for m in spec:
            if m["name"] not in self.m:
                if problems:
                    continue  # a failed gate skips the per-layer probes
                raise KeyError(f"metric {m['name']} declared but not measured")
            value, unit = self.m[m["name"]]
            if unit != m["unit"]:
                raise ValueError(f"metric {m['name']}: unit {unit} != declared {m['unit']}")
            out[m["name"]] = {"value": value, "unit": unit}
        return out

    # ---- traced run: per-layer metrics ---------------------------------

    def report_layers(self):
        res = self.results
        phases = ("setup", "plan", "plan_collect", "merge_write", "write_job",
                  "stage_winners", "footers", "metrics", "compact", "quarantine")
        for ph in phases:
            self.put(f"apply.{ph}_ms", med([r.phase_ms.get(ph, 0) for r in res]), "ms")
        residual = [
            r.wall_ms - sum(r.phase_ms.get(p, 0) for p in
                            ("setup", "plan", "merge_write", "metrics", "compact"))
            for r in res
        ]
        self.put("apply.residual_ms", med(residual), "ms")
        for name, attr in (("rows_in", "rows_in"), ("rows_quarantined", "rows_quarantined"),
                           ("rows_winners", "rows_winners"),
                           ("buckets_touched", "buckets_touched"),
                           ("hot_keys", "hot_keys_detected")):
            self.put(f"apply.{name}", med([getattr(r, attr) for r in res]), "count")
        base = sum(r.rows_in - r.rows_quarantined for r in res)
        self.put("apply.winner_ratio", sum(r.rows_winners for r in res) / max(base, 1), "ratio")
        self.put("apply.winner_ratio_base", base, "count")
        self.put("apply.maintain_s", sum(self.maintain_s), "s")
        self.put("maintain.compacted_buckets",
                 sum(len(m.get("compacted_buckets", [])) for m in self.maintained), "count")
        for k in ("reads", "writes", "lists", "bytes_written"):
            self.put(f"fileio.{k}", med([d[k] for d in self.io_per_batch]),
                     "bytes" if k == "bytes_written" else "count")
        self.put("session.start_s", self.session_start_s, "s")
        self.table_state()
        self.probe_input_plan_functions()
        self.probe_table()
        self.probe_views()
        self.probe_overhead()
        # self time over the whole traced run (loop and probes); spans
        # without children report their plain duration
        st = self.tracer.self_times()
        for name in ("apply_batch", "apply.plan", "apply.merge_write", "maintain",
                     "lookup", "scan", "follow.sync", "rollup.sync"):
            self.put(f"self.{name.replace('.', '_')}_s", st.get(name, 0.0), "s")

    def table_state(self):
        t = self.applier.pages
        snap = t.current_snapshot()
        self.put("table.snapshot_json_bytes", len(snap.to_json()), "bytes")
        self.put("table.snapshots",
                 sum(1 for f in os.listdir(t.meta_dir) if f.startswith("v") and f.endswith(".json")),
                 "count")
        self.put("table.delta_files", sum(len(fs) for fs in snap.deltas.values()), "count")
        self.put("table.base_files", sum(len(fs) for fs in snap.buckets.values()), "count")
        self.put("table.dirty_buckets", sum(1 for fs in snap.deltas.values() if fs), "count")
        self.put("table.bytes_per_event", self.table_bytes() / self.inputs.n_events, "bytes")

    def probe_input_plan_functions(self):
        from pyspark.sql import functions as F

        from giraffe_etl_spark.cdc.plan import (
            batch_exprs, dedup_winners_window, detect_hot_keys, tag_batch,
        )
        from giraffe_etl_spark.functions.udf import extract_text_lang_udf
        from inputs import files_for_range

        inp, spark = self.inputs, self.spark
        lo, hi = inp.batch_range(inp.n_batches - 1)
        batch = self.source(spark, None, lo, hi)
        with self.tracer.span("input.batch_scan") as rec:
            batch.count()
        self.put("input.batch_scan_s", rec["s"], "s")
        self.put("input.files_per_batch",
                 files_for_range(inp.log_events, inp.segment_rows, lo, hi), "count")
        with self.tracer.span("plan.tag_batch") as rec:
            tagged = tag_batch(batch, exprs=batch_exprs())
            tagged.count()
        self.put("plan.tag_batch_s", rec["s"], "s")
        valid = tagged.filter(F.col("_reason").isNull()).drop("_reason")
        n_valid = valid.count()
        # the applier's auto rule: 4 x the mean events per shuffle partition
        threshold = max(64, 4 * n_valid // SHUFFLE_PARTITIONS)
        with self.tracer.span("plan.detect_hot_keys") as rec:
            hot = [r["url"] for r in detect_hot_keys(valid, threshold).collect()]
        self.put("plan.detect_hot_keys_s", rec["s"], "s")
        with self.tracer.span("plan.dedup_window") as rec:
            winners = dedup_winners_window(valid, hot_keys=hot or None).persist()
            winners.count()
        self.put("plan.dedup_window_s", rec["s"], "s")
        # the apply path's one Python crossing: the fused html -> (text,
        # lang) Arrow UDF, over the cached winners so only it is timed
        with self.tracer.span("functions.text_lang") as rec:
            tl = extract_text_lang_udf(F.col("html"))
            winners.filter(F.col("op") != "D").agg(
                F.sum(F.length(tl["text"])), F.count(tl["lang"])
            ).collect()
        self.put("functions.text_lang_s", rec["s"], "s")
        winners.unpersist()

    def probe_table(self):
        t = self.applier.pages
        with self.tracer.span("table.read") as rec:
            t.read().count()
        self.put("table.read_s", rec["s"], "s")
        with self.tracer.span("table.read_keys") as rec:
            lookup(t, self.inputs.lookup_keys[0])
        self.put("table.read_keys_ms", 1000 * rec["s"], "ms")
        head = t.current_snapshot().snapshot_id
        k = min(4, head - 1)  # the last k commits, never before the seed
        for pre in (False, True):
            name = "table.read_changes_pre" if pre else "table.read_changes"
            with self.tracer.span(name) as rec:
                t.read_changes(head - k, head, on_rewrite="skip",
                               with_pre_images=pre).count()
            self.put(f"{name}_s", rec["s"], "s")
        with self.tracer.span("table.commit_probe") as rec:
            t.set_properties({"cdcperf.probe": str(self.args.seed)})
        self.put("table.commit_probe_ms", 1000 * rec["s"], "ms")
        with self.tracer.span("table.compact_deltas") as rec:
            t.compact_deltas(max_delta_files=0)
        self.put("table.compact_deltas_s", rec["s"], "s")
        with self.tracer.span("table.expire") as rec:
            t.expire_snapshots(keep_last=4)
        self.put("table.expire_s", rec["s"], "s")

    def probe_views(self):
        """Follower and rollup sync times: from the loop where it keeps
        views; otherwise views are built now and the stream's probe batch
        is applied and synced."""
        if self.follower is None:
            self.follower, self.rollup = self.make_views(self.applier.pages)
            inp = self.inputs
            lo, hi = inp.probe_range()
            self.applier.apply_batch(self.source(self.spark, None, lo, hi),
                                     inp.n_batches + 1, (3 * lo, 3 * hi - 1))
            with self.tracer.span("follow.sync") as rec:
                self.follow_reports = [self.follower.sync()]
            self.follow_s = [rec["s"]]
            with self.tracer.span("rollup.sync") as rec:
                self.rollup.sync()
            self.rollup_s = [rec["s"]]
        self.put("follow.sync_s", med(self.follow_s), "s")
        self.put("follow.files", med([r["files"] for r in self.follow_reports]), "count")
        self.put("follow.commits", med([r["commits"] for r in self.follow_reports]), "count")
        self.put("rollup.sync_s", med(self.rollup_s), "s")
        with self.tracer.span("rollup.read") as rec:
            self.rollup.read().collect()
        self.put("rollup.read_s", rec["s"], "s")

    def probe_overhead(self):
        """Tracing overhead: traced minus untraced cost of the run, built
        from its parts.  All a traced run adds is span bookkeeping and the
        counting FileIO's wrappers, so each is timed against its untraced
        twin (a disabled span, the plain PosixFileIO) and scaled by the
        run's span and FileIO call counts.  A traced and an untraced run
        are separate processes whose walls differ by host noise far above
        this cost, so their difference could not resolve it."""
        from giraffe_etl_spark.lake.fileio import PosixFileIO
        from tracing import CountingFileIO, Tracer

        meta = self.applier.pages.meta_dir
        path = os.path.join(meta, max(f for f in os.listdir(meta) if f.endswith(".json")))
        on, off = Tracer("overhead", True), Tracer("overhead", False)
        counting, plain = CountingFileIO(), PosixFileIO()

        def span(tracer):
            with tracer.span("probe"):
                pass

        def per_call(fn, reps=2000):
            t0 = time.perf_counter()
            for _ in range(reps):
                fn()
            return (time.perf_counter() - t0) / reps

        d_span, d_io = [], []
        for _ in range(5):  # interleaved rounds; the median of each delta
            d_span.append(per_call(lambda: span(on)) - per_call(lambda: span(off)))
            d_io.append(per_call(lambda: counting.read_text(path))
                        - per_call(lambda: plain.read_text(path)))
        n_spans = len(self.tracer.spans)
        io = self.io.snapshot()
        n_io = io["reads"] + io["writes"] + io["lists"]
        self.put("trace.overhead_ms", 1000 * (n_spans * med(d_span) + n_io * med(d_io)), "ms")
        self.put("trace.spans", n_spans, "count")


def lookup(table, url):
    return table.read_keys([url]).collect()


def scan_agg(table):
    """Full reconciled read of the live pages; every payload column is
    aggregated, so column pruning cannot skip any read."""
    from pyspark.sql import functions as F

    from giraffe_etl_spark.cdc import read_pages

    return read_pages(table).agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.length("html")).alias("html_bytes"),
        F.sum(F.length("text")).alias("text_chars"),
        F.count("lang").alias("langs"),
        F.max("warc_ts").alias("max_ts"),
    ).collect()[0]


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM behind it has exited; the
    JVM exits once its stdin closes and stops its Python workers first."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import giraffe_etl_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"cdcperf: engine sources not found next to the benchmark: {e}",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    confine_to_checkout(run_dir)
    from inputs import make_inputs

    run = Run(args, run_dir)
    try:
        run.inputs = make_inputs(run.wl, args.seed, args.seconds, run_dir)
        run.log("inputs staged")
        run.setup()
        run.loop()
        run.log("loop done")
        if not args.trace:
            run.report_end_to_end()
        t_g = time.perf_counter()
        problems = run.gate()
        print(f"cdcperf: gate {time.perf_counter() - t_g:.1f}s, "
              f"{len(problems)} problem(s)", file=sys.stderr)
        for p in problems + run.errors:
            print(f"cdcperf: {p}", file=sys.stderr)
        if args.trace and not problems:
            run.report_layers()
            run.tracer.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
        metrics = run.declared_metrics(problems)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if hasattr(run, "spark"):
            stop_spark(run.spark)
            run.log("spark stopped")
        shutil.rmtree(run_dir, ignore_errors=True)
    result = {
        "correct": not problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())

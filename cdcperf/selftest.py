"""Self-tests of the benchmark's own machinery (under a minute on 4 vCPUs).

    python3 cdcperf/selftest.py

1. The pyarrow-staged change log equals ``stage_change_log``'s, row for
   row and segment for segment, on a small config.
2. The correctness gate passes an honest table and fails a tampered one
   (one stale row; one dropped row).
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402


def lsn_ranges(path):
    import pyarrow.parquet as pq

    out = []
    for fn in os.listdir(path):
        if fn.endswith(".parquet"):
            lsn = pq.read_table(os.path.join(path, fn), columns=["lsn"])["lsn"]
            out.append((lsn[0].as_py(), lsn[-1].as_py(), len(lsn)))
    return sorted(out)


def test_staging_matches_spark(spark, root):
    from giraffe_etl_spark.cdc.generate import ChangeGenConfig
    from giraffe_etl_spark.cdc.replay import stage_change_log
    from inputs import stage_log

    cfg = ChangeGenConfig(seed=5, n_keys=60, hot_frac=0.3, n_hot_keys=2,
                          malformed_frac=0.05, html_size=128)
    n, seg = 3_000, 700
    ours, theirs = os.path.join(root, "ours"), os.path.join(root, "spark")
    stage_log(ours, cfg, n, seg)
    stage_change_log(spark, theirs, n, cfg, segment_rows=seg)
    assert lsn_ranges(ours) == lsn_ranges(theirs), "segment layout differs"
    a, b = spark.read.parquet(ours), spark.read.parquet(theirs)
    assert a.schema == b.schema, f"{a.schema} != {b.schema}"
    assert a.orderBy("lsn").collect() == b.orderBy("lsn").collect(), "rows differ"


def test_gate_catches_tampering(spark, root):
    import pandas as pd

    import gate
    from giraffe_etl_spark.cdc import CdcApplier, read_pages, seed_pages
    from giraffe_etl_spark.cdc.apply import pages_internal_schema
    from giraffe_etl_spark.cdc.replay import parquet_log_source
    from inputs import N_BUCKETS, Workload, make_inputs

    wl = Workload(name="tiny", n_keys=300, batch_events=1_000, html_size=128,
                  hot_frac=0.3, n_hot_keys=2, views=False)
    inp = make_inputs(wl, seed=3, seconds=10, root=os.path.join(root, "in"))
    applier = CdcApplier(spark, os.path.join(root, "table"), n_buckets=N_BUCKETS)
    seed_pages(applier.pages, spark.createDataFrame(inp.pages))
    src = parquet_log_source(inp.log_path)
    ranges = [inp.warm_range()] + [inp.batch_range(b) for b in range(inp.n_batches)]
    for batch_id, (lo, hi) in enumerate(ranges):
        applier.apply_batch(src(spark, None, lo, hi), batch_id, (3 * lo, 3 * hi - 1))
    want = gate.expected_pages(inp.pages, inp.changes, inp.sample)
    t = applier.pages
    assert gate.check_pages(t, want, inp.sample) == []
    assert gate.check_quarantine(applier.quarantine, inp.changes) == []

    live = want.iloc[0]

    def tamper(html, deleted, lsn):
        # a newer version (higher _lsn, same warc_ts) of one sampled key
        row = pd.DataFrame([{
            "url": live["url"], "warc_ts": live["warc_ts"], "html": html,
            "text": None if deleted else "stale", "lang": None if deleted else "xx",
            "_lsn": lsn, "_deleted": deleted,
        }])
        t.append_deltas(None, spark.createDataFrame(row, pages_internal_schema()))

    tamper(b"<p>stale</p>", deleted=False, lsn=1 << 40)
    stale = gate.check_pages(t, want, inp.sample)
    assert any("differ" in p for p in stale), stale
    tamper(None, deleted=True, lsn=(1 << 40) + 1)
    dropped = gate.check_pages(t, want, inp.sample)
    assert any("missing" in p for p in dropped), dropped
    assert read_pages(t).filter(f"url = '{live['url']}'").count() == 0


def main() -> int:
    work = os.path.join(run.WORK, f"selftest-{os.getpid()}")
    run.confine_to_checkout(work)
    from giraffe_etl_spark.session import get_spark

    spark = get_spark("cdcperf-selftest", cores=run.CORES, shuffle_partitions=8)
    failures = 0
    try:
        for test in (test_staging_matches_spark, test_gate_catches_tampering):
            root = os.path.join(work, test.__name__)
            try:
                test(spark, root)
                print(f"PASS {test.__name__}")
            except Exception as e:  # report every test, then fail the run
                failures += 1
                print(f"FAIL {test.__name__}: {type(e).__name__}: {e}")
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

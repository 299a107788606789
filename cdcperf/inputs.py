"""Workload definitions and input staging for the CDC engine benchmark.

Inputs are a pure function of (workload, seed, batch count): the change
log is written with pyarrow from ``gen_change_batch`` in the same layout
``stage_change_log`` produces through Spark (one contiguous lsn range
per segment file, microsecond ``warc_ts``), so ``parquet_log_source``
prunes and splits a batch exactly as it would over the Spark-staged log,
without paying a Spark job to stage it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from giraffe_etl_spark.cdc.generate import (
    ChangeGenConfig,
    _key_to_url,
    gen_change_batch,
    gen_pages,
)
from giraffe_etl_spark.functions.url import normalize_url_simple

CHANGES_ARROW_SCHEMA = pa.schema(
    [
        ("lsn", pa.int64()),
        ("op", pa.string()),
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
    ]
)


N_BUCKETS = 8
LOOKUPS_PER_BATCH = 4
SECONDS_PER_BATCH = 5


def n_batches(seconds: int) -> int:
    """Timed batches in a run: a pure function of ``--seconds``, never of
    the clock, so a faster and a slower build apply the same batches and
    end in the same state."""
    return max(2, round(seconds / SECONDS_PER_BATCH))


@dataclass(frozen=True)
class Workload:
    name: str
    n_keys: int            # url key space; the seed table holds all of them
    batch_events: int      # events per timed batch
    html_size: int
    hot_frac: float
    n_hot_keys: int
    # serving: a follower and a rollup synced after every batch, and a
    # MaintenancePolicy run between batches
    views: bool

    @property
    def warm_events(self) -> int:
        """The untimed warm-up batch: the same stream, an eighth of a batch."""
        return self.batch_events // 8

    def cfg(self, seed: int) -> ChangeGenConfig:
        return ChangeGenConfig(
            seed=seed,
            n_keys=self.n_keys,
            hot_frac=self.hot_frac,
            n_hot_keys=self.n_hot_keys,
            late_frac=0.05,
            dup_frac=0.01,
            malformed_frac=0.01,
            html_size=self.html_size,
        )


WORKLOADS = {
    # Big skewed batches: two keys carry 25% of the events each, twice the
    # auto salting threshold (4 x events / 32 shuffle partitions = 12.5%).
    "bulk_apply": Workload(
        name="bulk_apply", n_keys=3_000, batch_events=6_000, html_size=1024,
        hot_frac=0.5, n_hot_keys=2, views=False,
    ),
    # Small uniform batches: no key reaches the salting threshold.
    "serve_mixed": Workload(
        name="serve_mixed", n_keys=4_000, batch_events=2_000, html_size=256,
        hot_frac=0.0, n_hot_keys=8, views=True,
    ),
}


def segment_bounds(n_events: int, segment_rows: int) -> list[tuple[int, int]]:
    """Row ranges of the log's segment files, as ``stage_change_log`` cuts them.

    ``stage_change_log`` writes ``spark.range(0, n, 1, n_seg)``, whose
    partition i covers rows [i*n // n_seg, (i+1)*n // n_seg).
    """
    n_seg = max(4, (n_events + segment_rows - 1) // segment_rows)
    cuts = [(i * n_events) // n_seg for i in range(n_seg + 1)]
    return [(cuts[i], cuts[i + 1]) for i in range(n_seg) if cuts[i] < cuts[i + 1]]


def to_arrow(pdf: pd.DataFrame) -> pa.Table:
    """A ``gen_change_batch`` frame as the log's arrow table (us timestamps)."""
    ts = pd.to_datetime(pdf["warc_ts"]).dt.tz_localize("UTC")
    return pa.table(
        {
            "lsn": pa.array(pdf["lsn"].to_numpy(), pa.int64()),
            "op": pa.array(pdf["op"].tolist(), pa.string()),
            "url": pa.array(pdf["url"].tolist(), pa.string()),
            "warc_ts": pa.array(ts, pa.timestamp("ns", tz="UTC")).cast(
                pa.timestamp("us", tz="UTC")
            ),
            "html": pa.array(pdf["html"].tolist(), pa.binary()),
        },
        schema=CHANGES_ARROW_SCHEMA,
    )


def stage_log(
    path: str, cfg: ChangeGenConfig, n_events: int, segment_rows: int
) -> pd.DataFrame:
    """Write rows [0, n_events) of the stream as a segmented log.

    Returns the generated rows (the gate folds them through the oracle).
    """
    os.makedirs(path, exist_ok=True)
    frames = []
    for i, (lo, hi) in enumerate(segment_bounds(n_events, segment_rows)):
        pdf = gen_change_batch(cfg, lo, hi - lo)
        pq.write_table(to_arrow(pdf), os.path.join(path, f"part-{i:05d}.parquet"))
        frames.append(pdf)
    return pd.concat(frames, ignore_index=True)


def files_for_range(n_events: int, segment_rows: int, lo: int, hi: int) -> int:
    """Segment files a batch of rows [lo, hi) reads after lsn pruning."""
    return sum(
        1 for a, b in segment_bounds(n_events, segment_rows) if a < hi and lo < b
    )


@dataclass
class Inputs:
    """One run's staged stream: the warm batch, the timed batches, then a
    probe batch, back to back in one log.

    Batch ids and event ranges: 0 is the warm batch, rows [0, W); timed
    batch b is id b + 1, rows [W + bE, W + (b + 1)E); the probe batch
    (traced run only, after the gate) is id n_batches + 1, the last W
    rows.  W is an eighth of a timed batch E, which is also the segment
    size, so every timed batch reads exactly 8 segment files.
    """

    workload: Workload
    seed: int
    n_batches: int
    log_path: str
    segment_rows: int
    log_events: int          # rows in the log, probe batch included
    pages: pd.DataFrame      # seed table rows
    changes: pd.DataFrame    # every event the gate expects applied, lsn order
    sample: list[str]        # canonical urls the gate checks
    lookup_keys: list[str]   # seeded urls the read mix looks up

    @property
    def n_events(self) -> int:
        """Events applied before the gate: the warm and the timed batches."""
        return self.workload.warm_events + self.workload.batch_events * self.n_batches

    def warm_range(self) -> tuple[int, int]:
        return 0, self.workload.warm_events

    def batch_range(self, b: int) -> tuple[int, int]:
        lo = self.workload.warm_events + b * self.workload.batch_events
        return lo, lo + self.workload.batch_events

    def probe_range(self) -> tuple[int, int]:
        return self.n_events, self.log_events


def key_sample(changes: pd.DataFrame, cfg: ChangeGenConfig, rng, n_random: int) -> list[str]:
    """Canonical urls the gate checks against the oracle.

    Always every hot key, and keys that saw late, duplicate, delete and
    malformed-but-keyed events; topped up with seeded random keys, some
    of which the stream never touches.
    """
    canon = {u: normalize_url_simple(u) for u in changes["url"].dropna().unique()}
    urls = changes["url"].map(lambda u: canon.get(u) if isinstance(u, str) else None)
    picks: set[str] = set()
    hot = urls.value_counts()
    if cfg.hot_frac > 0:
        picks |= set(hot.index[: cfg.n_hot_keys])

    def some(mask, k=12):
        cand = sorted(set(urls[mask].dropna()))
        if cand:
            picks.update(rng.choice(cand, size=min(k, len(cand)), replace=False))

    ts = pd.to_datetime(changes["warc_ts"])
    some(ts < ts.cummax())                                   # late
    some(pd.DataFrame({"u": urls, "t": ts}).duplicated(keep=False))  # dup (url, ts)
    some(changes["op"] == "D")                               # delete
    bad = (
        ~changes["op"].isin(["I", "U", "D"])
        | changes["warc_ts"].isna()
        | (changes["op"].isin(["I", "U"]) & changes["html"].isna())
    )
    some(bad & urls.notna())                                 # malformed
    total = int(cfg.n_keys * (1.0 + cfg.new_key_frac))
    keys = rng.choice(total, size=n_random, replace=False)
    picks.update(normalize_url_simple(u) for u in _key_to_url(keys, max(cfg.n_keys // 3, 1)))
    return sorted(picks)


def make_inputs(workload: Workload, seed: int, seconds: int, root: str) -> Inputs:
    """Stage every input of one run under ``root``."""
    cfg = workload.cfg(seed)
    n = n_batches(seconds)
    warm = workload.warm_events
    log_events = warm + workload.batch_events * n + warm
    # one timed batch spans 8 segments: about 3 scan tasks per core
    segment_rows = max(250, workload.batch_events // 8)
    log_path = os.path.join(root, "log")
    log = stage_log(log_path, cfg, log_events, segment_rows)
    changes = log.iloc[: log_events - warm].reset_index(drop=True)
    pages = gen_pages(workload.n_keys, seed=seed, html_size=workload.html_size)
    rng = np.random.default_rng(seed)
    sample = key_sample(changes, cfg, rng, n_random=48)
    lookup_keys = sorted(
        normalize_url_simple(u)
        for u in rng.choice(pages["url"].to_numpy(), size=64, replace=False)
    )
    return Inputs(
        workload=workload, seed=seed, n_batches=n, log_path=log_path,
        segment_rows=segment_rows, log_events=log_events, pages=pages,
        changes=changes, sample=sample, lookup_keys=lookup_keys,
    )

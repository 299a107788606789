"""Per-run correctness gate: cheap enough to pay on every run.

- pages: the sampled keys' live rows equal ``oracle_apply`` folded over
  just those keys' seed rows and events (the fold is per key, so the
  restriction is exact),
- quarantine: the table's row count equals ``oracle_quarantine``,
- views: the follower equals the projected reconciled pages read, and
  the rollup equals a recompute from that same read.

Each check returns a list of problems; an empty list passes.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from giraffe_etl_spark.cdc import oracle_apply, oracle_quarantine, read_pages
from giraffe_etl_spark.functions.url import normalize_url_simple

PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]


def _canon(series: pd.Series) -> pd.Series:
    table = {u: normalize_url_simple(u) for u in series.dropna().unique()}
    return series.map(lambda u: table.get(u) if isinstance(u, str) else None)


def expected_pages(pages: pd.DataFrame, changes: pd.DataFrame, sample) -> pd.DataFrame:
    keep = set(sample)
    return oracle_apply(
        pages[_canon(pages["url"]).isin(keep)],
        changes[_canon(changes["url"]).isin(keep)],
    )


def check_pages(table, want: pd.DataFrame, sample) -> list[str]:
    got = (
        table.read_keys(sorted(sample))
        .filter(~F.col("_deleted"))
        .select(*PAGE_COLS)
        .toPandas()
    )
    got["html"] = got["html"].map(lambda b: None if b is None else bytes(b))
    got = got.sort_values("url").reset_index(drop=True)
    want = want.sort_values("url").reset_index(drop=True)
    problems = []
    missing = sorted(set(want["url"]) - set(got["url"]))
    extra = sorted(set(got["url"]) - set(want["url"]))
    if missing:
        problems.append(f"pages: {len(missing)} live key(s) missing, e.g. {missing[0]}")
    if extra:
        problems.append(f"pages: {len(extra)} key(s) should be absent, e.g. {extra[0]}")
    if not (missing or extra):
        for col in PAGE_COLS[1:]:
            a = got[col] if col != "warc_ts" else pd.to_datetime(got[col])
            b = want[col] if col != "warc_ts" else pd.to_datetime(want[col])
            bad = ~(a == b)
            if bad.any():
                problems.append(
                    f"pages: {int(bad.sum())} row(s) differ in {col}, "
                    f"e.g. {got['url'][bad.idxmax()]}"
                )
    return problems


def check_quarantine(quarantine_table, changes: pd.DataFrame) -> list[str]:
    got = quarantine_table.read().count()
    want = len(oracle_quarantine(changes))
    return [] if got == want else [f"quarantine: {got} rows, oracle {want}"]


def check_views(pages_table, follower, rollup) -> list[str]:
    src = (
        read_pages(pages_table)
        .select("url", "warc_ts", "lang", F.length("text").alias("chars"))
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    rep = (
        follower.dst.read()
        .filter(~F.col("_deleted"))
        .select("url", "warc_ts", "lang")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    problems = []
    if not src[["url", "warc_ts", "lang"]].equals(rep):
        problems.append(f"follower: {len(rep)} rows differ from the {len(src)}-row source")
    want = (
        src.groupby("lang", dropna=False)
        .agg(n_pages=("url", "size"), text_chars=("chars", "sum"))
        .astype(float)
        .reset_index()
        .sort_values("lang")
        .reset_index(drop=True)
    )
    got = (
        rollup.read()
        .toPandas()[["lang", "n_pages", "text_chars"]]
        .sort_values("lang")
        .reset_index(drop=True)
    )
    if not want.equals(got):
        problems.append(f"rollup: {got.to_dict('records')} != recompute {want.to_dict('records')}")
    return problems

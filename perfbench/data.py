"""Seeded input generators and the pandas reference computations the
correctness gates compare against.

Activity rows follow the reference generator's shape (``log_`` + 9
digits, a 5000-user pool, the 765-address IP pool, watch time in
[1, 120)), with ~10% duplicate deliveries and ~2% dirty rows. Unlike
the reference, log ids never collide by accident: every duplicate is a
full-row copy, so which copy the dedup keeps cannot change the result.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

USER_POOL = 5000
LOG_ID_SPACE = 10**9


def ip_pool() -> list[str]:
    from investcloud_data_pipeline_spark.datagen import IP_POOL

    return list(IP_POOL)


def activity_rows(seed: int, file_idx: int, rows: int, dup_frac: float = 0.1,
                  dirty_frac: float = 0.02) -> pd.DataFrame:
    """One file's rows without timestamps (the caller stamps them).

    ``timestamp`` holds a minutes-back offset (int) until stamped, or
    -1 for rows whose timestamp must be unparseable."""
    rng = np.random.default_rng([seed, file_idx])
    n = np.arange(file_idx * rows, (file_idx + 1) * rows, dtype=np.int64)
    # seeded bijection of [0, 1e9): unique ids that do not look sequential
    a = 1_000_003 + 2 * (seed % 1000)
    ids = (n * a + seed * 7919) % LOG_ID_SPACE
    pool = ip_pool()
    df = pd.DataFrame({
        "log_id": [f"log_{i:09d}" for i in ids],
        "user_id": [f"user_{u:05d}" for u in rng.integers(0, USER_POOL, rows)],
        "timestamp": rng.integers(1, 100_000, rows),
        "ip_address": [pool[i] for i in rng.integers(0, len(pool), rows)],
        "watch_time(min)": rng.integers(1, 120, rows).astype("int64"),
    })
    n_dups = int(rows * dup_frac)
    if n_dups:
        src = rng.integers(0, rows - n_dups, n_dups)
        df.iloc[rows - n_dups:] = df.iloc[src].to_numpy()
    df["log_id"] = df["log_id"].astype(object)
    df["user_id"] = df["user_id"].astype(object)
    df["watch_time(min)"] = df["watch_time(min)"].astype("int64")
    n_dirty = int(rows * dirty_frac)
    if n_dirty:
        idx = rng.choice(rows, n_dirty, replace=False)
        kinds = rng.integers(0, 4, n_dirty)
        for i, kind in zip(idx, kinds):
            if kind == 0:
                df.at[i, "log_id"] = None
            elif kind == 1:
                df.at[i, "user_id"] = None
            elif kind == 2:
                df.at[i, "timestamp"] = -1
            else:
                df.at[i, "watch_time(min)"] = -5
    return df


def stamp(df: pd.DataFrame, now_iso: str | None, anchor=None) -> pd.DataFrame:
    """Turn the offset column into ISO timestamp strings: all rows get
    ``now_iso`` (live files) or ``anchor`` minus the offset in minutes
    (backlog files); offset -1 becomes an unparseable string."""
    from datetime import timedelta

    out = df.copy()
    offs = out["timestamp"].to_numpy()
    if now_iso is not None:
        ts = [now_iso if o >= 0 else "not-a-timestamp" for o in offs]
    else:
        ts = [
            (anchor - timedelta(minutes=int(o))).isoformat() if o >= 0 else "not-a-timestamp"
            for o in offs
        ]
    out["timestamp"] = ts
    return out


def probe_row(seed: int, file_idx: int, now_iso: str) -> dict:
    """The file's unique probe: its user id appears in gold only once
    the file has passed all three layers."""
    return {
        "log_id": probe_user(seed, file_idx),
        "user_id": probe_user(seed, file_idx),
        "timestamp": now_iso,
        "ip_address": "10.0.0.1",
        "watch_time(min)": 1,
    }


def probe_user(seed: int, file_idx: int) -> str:
    return f"probe_{seed}_{file_idx:06d}"


def _validity(raw: pd.DataFrame) -> tuple[pd.Series, pd.Series]:
    """The bronze validity predicate (non-null keys, parseable event
    time, non-negative watch time) and the numeric watch time."""
    ts = pd.to_datetime(raw["timestamp"], errors="coerce", format="ISO8601")
    wt = pd.to_numeric(raw["watch_time(min)"], errors="coerce")
    ok = raw["log_id"].notna() & raw["user_id"].notna() & ts.notna() & wt.notna() & (wt >= 0)
    return ok, wt


def expected_gold(raw: pd.DataFrame, ip_regions: pd.DataFrame) -> pd.DataFrame:
    """Reference gold: validity split, first-copy dedup on log_id, IP→
    region lookup ('Unknown' on miss), per-user total and the region
    with the largest total (ties to the smallest region name)."""
    ok, wt = _validity(raw)
    valid = raw.loc[ok, ["log_id", "user_id", "ip_address"]].copy()
    valid["watch_time"] = wt[ok].astype("float64")
    valid = valid.drop_duplicates("log_id", keep="first")
    regions = dict(zip(ip_regions["ip_address"], ip_regions["region"]))
    valid["geo_region"] = valid["ip_address"].map(regions).fillna("Unknown")
    by = valid.groupby(["user_id", "geo_region"], as_index=False)["watch_time"].sum()
    by = by.sort_values(["user_id", "watch_time", "geo_region"],
                        ascending=[True, False, True])
    top = by.drop_duplicates("user_id", keep="first")[["user_id", "geo_region"]]
    tot = by.groupby("user_id", as_index=False)["watch_time"].sum()
    tot = tot.rename(columns={"watch_time": "total_watch_time"})
    return tot.merge(top, on="user_id")[["user_id", "total_watch_time", "geo_region"]]


def valid_counts(raw: pd.DataFrame) -> tuple[int, int]:
    """(valid rows, distinct valid log ids) under the bronze predicate."""
    ok, _ = _validity(raw)
    return int(ok.sum()), int(raw.loc[ok, "log_id"].nunique())


def gold_matches(actual: pd.DataFrame, expected: pd.DataFrame) -> tuple[bool, str]:
    a = actual[["user_id", "total_watch_time", "geo_region"]].sort_values("user_id")
    e = expected.sort_values("user_id")
    if len(a) != len(e):
        return False, f"gold rows {len(a)} != expected {len(e)}"
    a = a.reset_index(drop=True)
    e = e.reset_index(drop=True)
    bad = (
        (a["user_id"] != e["user_id"])
        | ((a["total_watch_time"] - e["total_watch_time"]).abs() > 1e-6)
        | (a["geo_region"] != e["geo_region"])
    )
    if bad.any():
        i = int(bad.idxmax())
        return False, f"{int(bad.sum())} gold rows differ, first {a.iloc[i].to_dict()} vs {e.iloc[i].to_dict()}"
    return True, ""

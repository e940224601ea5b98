"""Open-loop file generator for the ``medallion_live`` workload.

Runs as its own process so that it keeps its schedule whatever the
pipeline does: each file has a due time on the monotonic clock (shared
by every process on the host) and is landed as soon as it can be, never
skipped and never slowed to match the consumer. Each file is
written under a hidden name and renamed into place, so the file source
only ever sees complete files; its rows are stamped with the landing
time and it carries one probe row whose user id identifies the file.

Protocol: prints ``ready`` once its inputs are built; reads ``t0`` from
stdin and lands the first file at ``t0`` (the consumer waits for it to
reach the sink before it sends more); reads ``t1`` and lands file ``i``
(i >= 1) at ``t1 + (i - 1) / rate``; then writes a JSON log of
``[index, due, landed, rows]`` to ``--log``.

    python3 perfbench/livegen.py --raw DIR --log FILE --seed 1 \
        --files 100 --rate 10 --rows 200
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from datetime import datetime, timezone

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.data import activity_rows, probe_row, stamp  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--raw", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--first", type=int, default=0)
    args = ap.parse_args()

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    frames = [
        activity_rows(args.seed, args.first + i, args.rows) for i in range(args.files)
    ]
    schema = pa.schema([
        ("log_id", pa.string()), ("user_id", pa.string()), ("timestamp", pa.string()),
        ("ip_address", pa.string()), ("watch_time(min)", pa.int64()),
    ])
    print("ready", flush=True)
    t0 = float(sys.stdin.readline())
    log = []
    for i, rows in enumerate(frames):
        idx = args.first + i
        if i == 1:
            t0 = float(sys.stdin.readline())
        due = t0 if i == 0 else t0 + (i - 1) / args.rate
        wait = due - time.monotonic()
        if wait > 0:
            time.sleep(wait)
        now_iso = datetime.now(timezone.utc).replace(tzinfo=None).isoformat()
        df = stamp(rows, now_iso)
        df = pd.concat([df, pd.DataFrame([probe_row(args.seed, idx, now_iso)])],
                       ignore_index=True)
        name = f"live_{idx:06d}.parquet"
        tmp = os.path.join(args.raw, "." + name)
        pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), tmp)
        os.rename(tmp, os.path.join(args.raw, name))
        log.append([idx, due, time.monotonic(), len(df)])
    with open(args.log, "w") as fh:
        json.dump(log, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

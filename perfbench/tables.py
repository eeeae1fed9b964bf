"""Seeded, single-threaded generator of the wallet workload's `events`
table, in the schema graft's event queries read (event_id, ts, user_id,
event_type, value, props).

Wallets are Zipf-skewed, so a few hot wallets dominate the co-activity
graph. The table is written twice: as several parquet files under
`tables/events.parquet/`, so Spark scans it in parallel with no split
confs, and as one file under `oracle/`, which the DuckDB oracle reads.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row count, wallet count, event types, time span and value
# distribution follow the repo's sf0.1 `events` table; that table's
# wallets are near-uniform, and this one skews them on purpose.
EVENTS = 100000
WALLETS = 1500
ZIPF_S = 1.1
FILES = 4
TYPES = np.array(["signup", "purchase", "view", "click", "error"])
T0_US = 1704067200000000  # 2024-01-01T00:00:00
SPAN_US = 30 * 86400 * 1000000


def events(seed, work):
    """Write the table under `work`; return its measured traffic shares."""
    rng = np.random.default_rng(seed)
    rank_p = 1.0 / np.arange(1, WALLETS + 1) ** ZIPF_S
    wallet_of_rank = rng.permutation(WALLETS)
    users = wallet_of_rank[rng.choice(WALLETS, EVENTS, p=rank_p / rank_p.sum())]
    ts = np.sort(T0_US + rng.integers(0, SPAN_US, EVENTS))
    table = pa.table({
        "event_id": pa.array(np.arange(EVENTS, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(users.astype(np.int64)),
        "event_type": pa.array(TYPES[rng.integers(0, len(TYPES), EVENTS)]),
        "value": pa.array(np.round(rng.exponential(50.0, EVENTS), 2)),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, EVENTS)]),
    })
    spark_dir = os.path.join(work, "tables", "events.parquet")
    os.makedirs(spark_dir)
    step = -(-EVENTS // FILES)
    for i in range(FILES):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(spark_dir, f"part-{i:05d}.parquet"))
    os.makedirs(os.path.join(work, "oracle"))
    pq.write_table(table, os.path.join(work, "oracle", "events.parquet"))
    per_wallet = np.sort(np.bincount(users, minlength=WALLETS))[::-1]
    return {
        "events": EVENTS,
        "wallets_seen": int((per_wallet > 0).sum()),
        "top1pct_wallet_share":
            float(per_wallet[:max(1, WALLETS // 100)].sum() / EVENTS),
    }

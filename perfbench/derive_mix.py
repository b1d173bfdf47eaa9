"""Derives the binlog generator's op mix and ops per key from the
repository's `events` CDC fixture.

    python3 perfbench/derive_mix.py <dir holding events.parquet>

The program maps `events` to a changelog with
`sources.changelog.CHANGELOG_SQL` (user_id is the key, event_type the
op). This script measures that changelog: the insert/update/delete
shares, the ops per key, and how much of the traffic the busiest keys
take. `gen.py` takes `update_share` and `OPS_PER_KEY` from it; the
figures for the test data are quoted in `perfbench/METRICS.md`. The
benchmark itself does not run this script.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mysql_syncer_clickhouse_spark.sources.changelog import \
    CHANGELOG_SQL  # noqa: E402


def derive(events_parquet: str) -> dict:
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM "
                    f"'{events_parquet}'")
        ops = dict(con.execute(f"SELECT op, count(*) FROM ({CHANGELOG_SQL}) "
                               f"GROUP BY op").fetchall())
        counts = sorted((n for (n,) in con.execute(
            "SELECT count(*) FROM events GROUP BY user_id").fetchall()),
            reverse=True)
    finally:
        con.close()
    total, keys = sum(counts), len(counts)

    def top_share(frac: float) -> float:
        return sum(counts[:max(1, round(keys * frac))]) / total
    return {
        "rows": total,
        "keys": keys,
        "op_share": {op: n / total for op, n in sorted(ops.items())},
        # every op on a live key is an update or a delete, so the
        # generator's update probability for a live key is this ratio
        "update_share": ops["update"] / (ops["update"] + ops["delete"]),
        "ops_per_key": total / keys,
        "top_1pct_keys_op_share": top_share(0.01),
        "top_20pct_keys_op_share": top_share(0.2),
    }


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    print(json.dumps(derive(os.path.join(sys.argv[1], "events.parquet")),
                     indent=1))

"""Measures the marginal distributions of an ``events`` fixture table and
prints them as the JSON profile ``gen.py`` draws its traffic from.

    python3 perfbench/profile_fixture.py <sf0.1 dir>/events.parquet > perfbench/fixture_profile.json

The profile holds counts, not rates, so it also records how much data
each figure rests on: events per user (the conversation-length
histogram), event types, ``props`` values, events per day and per hour
of day, and the ``value`` quantiles at every 0.1 %.
"""

from __future__ import annotations

import json
import sys

import duckdb

N_QUANTILES = 1000


def profile(path: str) -> dict:
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")

        def rows(sql: str) -> list:
            return con.execute(sql).fetchall()

        (n_events, n_users, first_day), = rows(
            "SELECT count(*), count(DISTINCT user_id), CAST(min(ts) AS DATE)::VARCHAR FROM events"
        )
        (id_is_ts_rank,), = rows(
            "SELECT bool_and(event_id = rn - 1) FROM "
            "(SELECT event_id, row_number() OVER (ORDER BY ts, event_id) AS rn FROM events)"
        )
        per_user = rows(
            "SELECT n, count(*) FROM (SELECT count(*) AS n FROM events GROUP BY user_id) "
            "GROUP BY n ORDER BY n"
        )
        per_day = rows("SELECT count(*) FROM events GROUP BY CAST(ts AS DATE) ORDER BY CAST(ts AS DATE)")
        per_hour = rows("SELECT count(*) FROM events GROUP BY hour(ts) ORDER BY hour(ts)")
        qs = [i / N_QUANTILES for i in range(N_QUANTILES + 1)]
        (value_q,), = rows(f"SELECT quantile_cont(value, {qs}) FROM events")
        return {
            "n_events": n_events,
            "n_users": n_users,
            "first_day": first_day,
            "event_id_is_ts_rank": id_is_ts_rank,
            "events_per_user": {str(n): c for n, c in per_user},
            "event_type": dict(rows("SELECT event_type, count(*) FROM events GROUP BY 1 ORDER BY 1")),
            "props": dict(rows("SELECT props, count(*) FROM events GROUP BY 1 ORDER BY 2 DESC, 1")),
            "events_per_day": [c for (c,) in per_day],
            "events_per_hour": [c for (c,) in per_hour],
            "value_quantiles": [round(v, 4) for v in value_q],
        }
    finally:
        con.close()


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    print(json.dumps(profile(sys.argv[1]), indent=1))

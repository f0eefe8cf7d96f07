"""Output checks run after each workload, in DuckDB.

- replay (the single-thread baseline of traced suite runs): the payment
  completes and timeouts and the session timeouts the engine routed to
  its sinks must equal DuckDB twins of the
  `SparkEntry.oracleSql` shapes of q_e2, q_e1 and q_e4 over the same
  generated parquet (placed/paid within 2 s, view sessions split by a
  1 s gap, session size capped at the rule's 100-event chain); the
  errors rule must fire once per app:error event.
- suite: every query's result must equal its DuckDB oracle, as
  tools/check_oracle.py compares them (columns by name, rows sorted,
  same dtypes, same values); a query that threw fails too.
- live is checked inside the JVM runner against RuleEngine.runBatch.

Each check returns (attempted, failed, messages); a mismatch names what
differed.
"""
import os
import subprocess
import sys

import duckdb

CHAIN_LIMIT = 100


def check(workload, r, work):
    if workload != "suite":
        return 0, 0, []
    attempted, failed, msgs = check_suite(r, work)
    if "replay" in r:
        a, f, m = check_replay(r["replay"], _con(work))
        attempted, failed, msgs = attempted + a, failed + f, msgs + m
    return attempted, failed, msgs


def _con(work):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{work}/duckdb'")
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


def check_replay(r, con):
    con.execute(f"""CREATE VIEW e AS SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
        FROM read_parquet('{r["data_dir"]}/events.parquet/*.parquet')""")
    out = r["out_dir"]
    con.execute(f"CREATE VIEW actions AS SELECT * FROM read_parquet('{out}/actions/*.parquet')")
    con.execute(f"CREATE VIEW mem AS SELECT * FROM read_parquet('{out}/memory_writes/*.parquet')")
    # q_e1/q_e2 twin: a placed order completes at the first paid on its key
    # within [placed, placed + 2 s), else times out at placed + 2 s
    con.execute("""CREATE TABLE pay AS
        WITH s AS (SELECT user_id, event_id, ts FROM e WHERE event_type = 'order:placed'),
             p AS (SELECT user_id, ts FROM e WHERE event_type = 'order:paid')
        SELECT s.user_id, s.event_id, s.ts AS placed, p.ts AS paid
        FROM s ASOF LEFT JOIN p ON p.user_id = s.user_id AND p.ts >= s.ts""")
    twins = {
        "payment complete": """SELECT user_id AS k, event_id AS tag, epoch_us(paid) AS at_us FROM pay
            WHERE paid < placed + INTERVAL 2 SECOND""",
        "payment timeout": """SELECT user_id, event_id, epoch_us(placed + INTERVAL 2 SECOND) FROM pay
            WHERE paid IS NULL OR paid >= placed + INTERVAL 2 SECOND""",
        # q_e4 twin over page:view with a 1 s gap; >= because the
        # deadline is half-open
        "session timeout": f"""WITH d AS (
              SELECT user_id, event_id, ts,
                CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1000000 THEN 1 ELSE 0 END AS new_session
              FROM e WHERE event_type = 'page:view'
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s AS (SELECT user_id, ts, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM d)
            SELECT user_id, LEAST(COUNT(*), {CHAIN_LIMIT}), epoch_us(MAX(ts)) + 1000000
            FROM s GROUP BY user_id, sid""",
        "errors complete": """SELECT 'app:error', event_id, epoch_us(ts) FROM e
            WHERE event_type = 'app:error'""",
    }
    got = {
        "payment complete": """SELECT CAST(key AS BIGINT), CAST(map_extract(vars, 'first')[1] AS BIGINT),
            epoch_us(firedAt) FROM actions WHERE rule = 'payment' AND fire_kind = 'complete'""",
        "payment timeout": """SELECT CAST(key AS BIGINT), CAST(map_extract(vars, 'first')[1] AS BIGINT),
            epoch_us(firedAt) FROM actions WHERE rule = 'payment' AND fire_kind = 'timeout'""",
        "session timeout": """SELECT CAST(key AS BIGINT), CAST(map_extract(vars, 'value')[1] AS BIGINT),
            epoch_us(firedAt) FROM mem WHERE rule = 'session'""",
        "errors complete": """SELECT key, CAST(map_extract(vars, 'first')[1] AS BIGINT),
            epoch_us(firedAt) FROM actions WHERE rule = 'errors'""",
    }
    attempted = failed = 0
    msgs = []
    for name, twin in twins.items():
        con.execute(f"CREATE OR REPLACE TABLE want AS {twin}")
        con.execute(f"CREATE OR REPLACE TABLE have AS {got[name]}")
        n = con.sql("SELECT COUNT(*) FROM want").fetchone()[0]
        lost = con.sql("SELECT COUNT(*) FROM (FROM want EXCEPT ALL FROM have)").fetchone()[0]
        extra = con.sql("SELECT COUNT(*) FROM (FROM have EXCEPT ALL FROM want)").fetchone()[0]
        attempted += n
        if lost or extra:
            failed += lost + extra
            msgs.append(f"replay {name}: {lost} of {n} missing, {extra} unexpected")
    return attempted, failed, msgs


def check_suite(r, work):
    """Run tools/check_oracle.py over the suite's output directory, which
    holds each query's result and the oracle_sql.json it reads."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    data = os.path.join(work, "data", "main")
    p = subprocess.run([sys.executable, os.path.join(root, "tools", "check_oracle.py"), data, r["out_dir"]],
                       cwd=work, capture_output=True, text=True, timeout=120)
    fails = {l.split()[1].rstrip(":"): l for l in p.stdout.splitlines() if l.startswith("FAIL ")}
    for name in r["threw"]:
        fails.setdefault(name, f"FAIL {name}: threw")
    if p.returncode not in (0, 1) or (p.returncode == 1 and not fails):
        return 0, 1, [f"suite: oracle check did not run: {p.stderr.strip()[-500:]}"]
    return 0, len(fails), [f"suite {l[5:]}" for _, l in sorted(fails.items())]

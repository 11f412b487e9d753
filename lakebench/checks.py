"""Output checks of the benchmark, computed apart from the engine.

Each check reads what a run left behind (lake files, sideline files, alert
rows, query results) with DuckDB or plain Python and compares it with what
the generator wrote or with an independent computation:

- ingest: per-hour lake rows, sidelined rows and dropped rows against the
  generator's own counts; per hour, the lake's tallies of the fields the
  rule pack and alerts read (provider, action, identity type, region, user
  name, event time) against the generator's tallies of the same fields; rule
  matches against DuckDB's evaluation of the rule pack over the lake files;
  alerts against `fold_alerts`, an anchored-window fold of those matches
  written here from the reference semantics.
- hunt: one instance of each template against the same query in DuckDB.
- registry: each query's result against its DuckDB oracle over the same
  tables, compared with the engine's tools/check.py (columns sorted by name,
  rows sorted, exact cell equality).

`check(workload, doc, tables_dir)` returns (problems, failed op indices).
"""
import glob
import hashlib
import json
import os
import sys

import duckdb
import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
import check as oracle_check  # noqa: E402  (tools/check.py)

# The rule pack (rules/*.yml) restated in SQL over the lake's columns. Sigma
# string equality is case-insensitive, hence lower().
RULE_SQL = {
    "aws_root_account_usage": "lower(aws.cloudtrail.user_identity_type) = 'root'",
    "iam_privilege_change": "lower(event.provider) = 'iam.amazonaws.com' AND lower(event.action) "
                            "IN ('addusertogroup', 'attachuserpolicy', 'createaccesskey')",
    "cloudtrail_tampering": "lower(event.provider) = 'cloudtrail.amazonaws.com' AND "
                            "lower(event.action) IN ('stoplogging', 'deletetrail')",
    "console_login_burst": "lower(event.action) = 'consolelogin'",
    "guardduty_disabled": "lower(event.provider) LIKE '%guardduty%' AND "
                          "lower(event.action) LIKE 'delete%'",
    "security_group_ingress": "lower(event.action) = 'authorizesecuritygroupingress' AND "
                              "NOT (lower(cloud.region) = 'ap-south-1')",
}


def connect():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads TO 2")
    return con


def lake_view(con, name, path):
    con.execute(f"""CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet(
        '{path}/*/*.parquet', hive_partitioning = true, hive_types = {{'ts_hour': VARCHAR}})""")


def matches_sql(view, where="TRUE"):
    """(hour, rule, dedupe, ts_us) of every rule match in `view`."""
    return " UNION ALL ".join(
        f"SELECT ts_hour AS hour, '{r}' AS rule, user.name AS dedupe, epoch_us(ts) AS ts_us "
        f"FROM {view} WHERE ({where}) AND ({p})" for r, p in RULE_SQL.items())


def alert_id(rule, dedupe, first_us):
    return hashlib.md5(f"{rule}|{dedupe}|{first_us // 1000}".encode()).hexdigest()


def fold_alerts(matches, rules):
    """Anchored-window alert fold. `matches`: (group, rule, dedupe, ts_us);
    `rules`: name -> (threshold, window_s). A match joins its key's open
    alert when it falls less than the window after the alert's first match,
    else it opens a new alert; an alert activates once its match count
    reaches the threshold, at the crossing match's time. Returns tuples
    (group, rule, dedupe, id, first_us, last_us, activated, created_us).
    """
    by_key = {}
    for g, rule, dedupe, ts in matches:
        by_key.setdefault((g, rule, dedupe), []).append(ts)
    out = []
    for (g, rule, dedupe), tss in by_key.items():
        threshold, window_s = rules[rule]
        alert = None  # [first, last, n, created]

        def close():
            first, last, n, created = alert
            out.append((g, rule, dedupe, alert_id(rule, dedupe, first), first, last,
                        n >= threshold, created))

        for ts in sorted(tss):
            if alert is None or ts >= alert[0] + window_s * 1_000_000:
                if alert is not None:
                    close()
                alert = [ts, ts, 1, ts if threshold <= 1 else None]
            else:
                alert[1] = max(alert[1], ts)
                alert[2] += 1
                if alert[3] is None and alert[2] >= threshold:
                    alert[3] = ts
        close()
    return sorted(out, key=repr)


def check_ingest(doc):
    c = doc["check"]
    problems, failed = [], set()
    con = connect()
    lake_view(con, "lake", c["lake"])
    lake_view(con, "alerts", c["alerts_lake"])
    per_hour = dict(con.execute("SELECT ts_hour, count(*) FROM lake GROUP BY 1").fetchall())
    side = {}
    for f in glob.glob(os.path.join(c["sideline"], "**", "*.json"), recursive=True):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    h = json.loads(line)["ts"][:13].replace("T", "-")
                    side[h] = side.get(h, 0) + 1
    timed_from = doc["settings"]["warmup_rounds"] * len(doc["settings"]["round"])
    index = {}
    for i, b in enumerate(c["batches"]):
        h = b["hour"]
        index[h] = i
        lake_n, side_n = per_hour.get(h, 0), side.get(h, 0)
        want_lake = b["lines"] - b["non_json"] - b["mismatched"]
        if lake_n != want_lake or side_n != b["mismatched"] or \
                b["lines"] - lake_n - side_n != b["non_json"]:
            problems.append(f"ingest hour {h}: lake {lake_n} (want {want_lake}), sidelined "
                            f"{side_n} (want {b['mismatched']}), dropped "
                            f"{b['lines'] - lake_n - side_n} (want {b['non_json']})")
            failed.add(i)
    if set(per_hour) - set(index):
        problems.append(f"ingest: lake hours no batch wrote: {sorted(set(per_hour) - set(index))}")

    # the fields the rules and alerts read, against the generator's tallies
    tallies = {
        "fields": ("SELECT ts_hour, event.provider, event.action, "
                   "aws.cloudtrail.user_identity_type, cloud.region, count(*) FROM lake "
                   "GROUP BY ALL", lambda b: b["fields"]),
        "users": ("SELECT ts_hour, user.name, count(*) FROM lake GROUP BY ALL",
                  lambda b: [[u, n] for u, n in b["users"].items()]),
        "event times": ("SELECT ts_hour, sum(epoch_ms(ts)) FROM lake GROUP BY ALL",
                        lambda b: [[b["ts_ms_sum"]]]),
    }
    for what, (sql, of_batch) in tallies.items():
        lake_t = {}
        for r in con.execute(sql).fetchall():
            lake_t.setdefault(r[0], set()).add(tuple(r[1:]))
        for h, i in index.items():
            want_t = {tuple(x) for x in of_batch(c["batches"][i])}
            if lake_t.get(h, set()) != want_t:
                diff = sorted(lake_t.get(h, set()) ^ want_t, key=repr)
                problems.append(f"ingest hour {h}: lake {what} differ from the generator's; "
                                f"first differences {diff[:3]}")
                failed.add(i)

    matches = con.execute(matches_sql("lake")).fetchall()
    want = {}
    for h, rule, _, _ in matches:
        want[(h, rule)] = want.get((h, rule), 0) + 1
    got = {(m["hour"], m["rule"]): m["n"] for m in c["program_matches"]}
    for k in set(want) | set(got):
        if want.get(k, 0) != got.get(k, 0):
            problems.append(f"ingest matches {k}: engine {got.get(k, 0)}, DuckDB {want.get(k, 0)}")
            failed.add(index.get(k[0], -1))

    rules = {r["name"]: (r["threshold"], r["window_s"]) for r in c["rules"]}
    if set(rules) != set(RULE_SQL):
        problems.append(f"ingest: rule pack {sorted(rules)} is not the checked pack")
        return problems, failed
    expect = fold_alerts(matches, rules)
    rows = con.execute("""SELECT ts_hour, matano.alert.rule.name, matano.alert.dedupe,
        matano.alert.id, epoch_us(matano.alert.first_matched_at), epoch_us(ts),
        matano.alert.activated, epoch_us(matano.alert.created) FROM alerts""").fetchall()
    got_alerts = sorted((tuple(r) for r in rows), key=repr)
    if got_alerts != expect:
        diff = sorted(set(got_alerts) ^ set(expect), key=repr)
        problems.append(f"ingest alerts: {len(got_alerts)} from the engine, {len(expect)} "
                        f"from the fold; first differences {diff[:3]}")
        for d in diff:
            failed.add(index.get(d[0], -1))
    failed.discard(-1)
    return problems, {i for i in failed if i >= timed_from}


HUNT_SQL = {
    "timeline": """SELECT epoch_us(ts) AS ts, event.id AS id, event.action AS action,
        event.provider AS provider, source.address AS address FROM lake
        WHERE ts_hour BETWEEN $from AND $to AND user.name = $user ORDER BY ts, id""",
    "ioc_sweep": """SELECT i.threat, l.user.name AS "user", count(*) AS hits
        FROM lake l JOIN iocs i ON l.source.ip = i.ip
        WHERE l.ts_hour BETWEEN $from AND $to GROUP BY 1, 2""",
    "top_actions": """SELECT event.action AS action, count(*) AS n FROM lake
        WHERE cloud.region = $region GROUP BY 1 ORDER BY n DESC, action LIMIT 10""",
    "ips_per_hour": """SELECT ts_hour, count(DISTINCT source.ip) AS ips FROM lake GROUP BY 1""",
    "sigma_sweep": "SELECT rule, count(*) AS n, count(DISTINCT dedupe) AS users FROM ({m}) "
                   "GROUP BY 1",
}
ORDERED = {"timeline", "top_actions"}


def check_hunt(doc):
    c = doc["check"]
    problems, failed = [], set()
    con = connect()
    lake_view(con, "lake", c["lake"])
    con.execute("CREATE TABLE iocs (ip VARCHAR, threat VARCHAR, confidence INT)")
    con.executemany("INSERT INTO iocs VALUES (?, ?, ?)", c["iocs"])
    for kind in HUNT_SQL:
        inst = c["instances"].get(kind)
        if inst is None:
            problems.append(f"hunt {kind}: no timed instance recorded")
            continue
        params = inst["params"]
        sql = HUNT_SQL[kind].replace(
            "{m}", matches_sql("lake", "ts_hour BETWEEN $from AND $to"))
        used = {k: v for k, v in params.items() if f"${k}" in sql}
        want = [list(r) for r in con.execute(sql, used).fetchall()]
        got = [list(r) for r in inst["rows"]]
        if kind not in ORDERED:
            want, got = sorted(want, key=repr), sorted(got, key=repr)
        if want != got:
            problems.append(f"hunt {kind} {params}: engine {len(got)} rows, DuckDB "
                            f"{len(want)} rows; first {got[:2]} vs {want[:2]}")
            failed.add(inst["index"])
    return problems, failed


def plain(x):
    """A cell with DuckDB's list values (ndarrays) turned into lists, which
    tools/check.py compares element by element."""
    if isinstance(x, np.ndarray):
        return [plain(y) for y in x.tolist()]
    if isinstance(x, (list, tuple)):
        return [plain(y) for y in x]
    return x


def frames_equal(got, exp):
    """None when equal, else a one-line description of the first difference."""
    g, e = oracle_check.canon(got), oracle_check.canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs oracle {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} vs oracle {len(e)}"
    for col in g.columns:
        for i, (x, y) in enumerate(zip(g[col].tolist(), e[col].tolist())):
            if not oracle_check.cells_equal(plain(x), plain(y)):
                return f"cell {col}[{i}]: {x!r} vs oracle {y!r}"
    return None


TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def check_registry(doc, tables_dir):
    c = doc["check"]
    problems, failed = [], set()
    con = connect()
    for t in TABLES:
        if os.path.exists(f"{tables_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    for q in c["queries"]:
        name = q["name"]
        files = glob.glob(os.path.join(c["results"], name, "*.parquet"))
        if not files:
            why = "no result written"
        else:
            got = con.execute(
                f"SELECT * FROM read_parquet('{c['results']}/{name}/*.parquet')").df()
            why = frames_equal(got, con.execute(q["oracle"]).df())
        if why:
            problems.append(f"registry {name}: {why}")
            failed |= {o["index"] for o in doc["ops"] if o["kind"] == name}
    return problems, failed


def check(workload, doc, tables_dir):
    if workload == "ingest":
        return check_ingest(doc)
    if workload == "hunt":
        return check_hunt(doc)
    return check_registry(doc, tables_dir)

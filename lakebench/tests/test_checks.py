"""The benchmark's output checks must reject wrong results.

Run: python3 -m unittest discover -s lakebench/tests

Each test builds a small run directory with DuckDB (lake files, sideline
files, alert rows, query results), shows that the check accepts the right
result, then changes one value and shows that the check rejects it.
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import checks  # noqa: E402

HOUR = "2024-03-01-05"
EVENTS = [  # (second of the hour, action, provider, user, region, identity type)
    (10, "ConsoleLogin", "signin.amazonaws.com", "u1", "us-east-1", "IAMUser"),
    (20, "ConsoleLogin", "signin.amazonaws.com", "u1", "us-east-1", "IAMUser"),
    (30, "ConsoleLogin", "signin.amazonaws.com", "u1", "us-east-1", "IAMUser"),
    (40, "ConsoleLogin", "signin.amazonaws.com", "u1", "us-east-1", "IAMUser"),
    (50, "ConsoleLogin", "signin.amazonaws.com", "u1", "us-east-1", "IAMUser"),
    (900, "ConsoleLogin", "signin.amazonaws.com", "u1", "us-east-1", "IAMUser"),
    (60, "GetObject", "s3.amazonaws.com", "root", "eu-west-1", "Root"),
    (70, "StopLogging", "cloudtrail.amazonaws.com", "u2", "us-west-2", "IAMUser"),
    (80, "DescribeInstances", "ec2.amazonaws.com", "u3", "us-east-1", "IAMUser"),
]
RULES = [{"name": n, "threshold": t, "window_s": w} for n, t, w in [
    ("aws_root_account_usage", 1, 3600), ("iam_privilege_change", 2, 1800),
    ("cloudtrail_tampering", 1, 3600), ("console_login_burst", 5, 600),
    ("guardduty_disabled", 1, 3600), ("security_group_ingress", 2, 1800)]]


HOUR_MS = 1709269200000  # 2024-03-01T05:00:00Z


def tallies(events):
    """The generator's tallies of `events`, as a batch in the check payload holds them."""
    fields, users = {}, {}
    for _, a, p, u, r, t in events:
        fields[(p, a, t, r)] = fields.get((p, a, t, r), 0) + 1
        users[u] = users.get(u, 0) + 1
    return {"fields": [list(k) + [n] for k, n in fields.items()], "users": users,
            "ts_ms_sum": sum(HOUR_MS + e[0] * 1000 for e in events)}


def write_lake(con, path, events=EVENTS):
    shutil.rmtree(path, ignore_errors=True)
    rows = ", ".join(
        f"(TIMESTAMPTZ '2024-03-01 05:00:00+00' + INTERVAL {s} SECOND, "
        f"{{'id': 'e{i}', 'action': {'NULL' if a is None else repr(a)}, 'provider': '{p}'}}, {{'name': '{u}'}}, "
        f"{{'region': '{r}'}}, {{'cloudtrail': {{'user_identity_type': '{t}'}}}}, "
        f"{{'ip': '10.0.0.{i}', 'address': '10.0.0.{i}'}}, '{HOUR}')"
        for i, (s, a, p, u, r, t) in enumerate(events))
    con.execute(f"""COPY (SELECT * FROM (VALUES {rows})
        t(ts, event, "user", cloud, aws, source, ts_hour))
        TO '{path}' (FORMAT parquet, PARTITION_BY (ts_hour))""")


class IngestCheck(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        con = checks.connect()
        lake = os.path.join(self.dir, "lake")
        write_lake(con, lake)
        side = os.path.join(self.dir, "side", "error_kind=schema_mismatch")
        os.makedirs(side)
        with open(os.path.join(side, "part-0.json"), "w") as fh:
            fh.write(json.dumps({"ts": "2024-03-01T05:10:00.000Z"}) + "\n")
        checks.lake_view(con, "lake", lake)
        self.matches = con.execute(checks.matches_sql("lake")).fetchall()
        rules = {r["name"]: (r["threshold"], r["window_s"]) for r in RULES}
        self.alerts = checks.fold_alerts(self.matches, rules)
        self.doc = {
            "settings": {"warmup_rounds": 0, "round": ["batch"]},
            "check": {
                "lake": lake, "sideline": os.path.join(self.dir, "side"),
                "alerts_lake": os.path.join(self.dir, "alerts"), "rules": RULES,
                "batches": [dict(tallies(EVENTS), hour=HOUR, lines=len(EVENTS) + 2,
                                 non_json=1, mismatched=1)],
                "program_matches": [{"hour": h, "rule": r, "n": sum(
                    1 for m in self.matches if m[:2] == (h, r))}
                    for h, r in {m[:2] for m in self.matches}],
            }}
        self.con = con
        self.lake = lake

    def tearDown(self):
        shutil.rmtree(self.dir)

    def write_alerts(self, alerts):
        rows = ", ".join(
            f"(make_timestamp({last}), {{'alert': {{'id': '{aid}', 'dedupe': '{d}', "
            f"'first_matched_at': make_timestamp({first}), 'activated': {str(act).lower()}, "
            f"'created': {('make_timestamp(%d)' % c) if c is not None else 'NULL'}, "
            f"'rule': {{'name': '{r}'}}}}}}, '{h}')"
            for h, r, d, aid, first, last, act, c in alerts)
        path = self.doc["check"]["alerts_lake"]
        shutil.rmtree(path, ignore_errors=True)
        self.con.execute(f"""COPY (SELECT * FROM (VALUES {rows}) t(ts, matano, ts_hour))
            TO '{path}' (FORMAT parquet, PARTITION_BY (ts_hour))""")

    def test_fold_activates_the_login_burst_at_the_fifth_match(self):
        burst = [a for a in self.alerts if a[1] == "console_login_burst"]
        self.assertEqual(len(burst), 2)  # the sixth login falls past the 600 s window
        self.assertTrue(burst[0][6] or burst[1][6])
        self.assertEqual(sum(1 for a in burst if a[6]), 1)

    def test_accepts_the_right_result(self):
        self.write_alerts(self.alerts)
        self.assertEqual(checks.check_ingest(self.doc), ([], set()))

    def test_rejects_a_wrong_alert(self):
        wrong = [a[:6] + (not a[6],) + a[7:] if a[1] == "console_login_burst" else a
                 for a in self.alerts]
        self.write_alerts(wrong)
        problems, failed = checks.check_ingest(self.doc)
        self.assertTrue(any("alerts" in p for p in problems))
        self.assertEqual(failed, {0})

    def test_rejects_a_wrong_match_count(self):
        self.write_alerts(self.alerts)
        self.doc["check"]["program_matches"][0]["n"] += 1
        problems, _ = checks.check_ingest(self.doc)
        self.assertTrue(any("matches" in p for p in problems))

    def test_rejects_a_mis_mapped_field(self):
        # what a transform or schema regression would leave in the lake
        wrong = {
            "fields": [(10, None) + EVENTS[0][2:]] + EVENTS[1:],
            "users": [EVENTS[0][:3] + ("u9",) + EVENTS[0][4:]] + EVENTS[1:],
            "event times": [(11,) + EVENTS[0][1:]] + EVENTS[1:],
        }
        self.write_alerts(self.alerts)
        for what, events in wrong.items():
            write_lake(self.con, self.lake, events)
            problems, failed = checks.check_ingest(self.doc)
            self.assertTrue(any(f"lake {what} differ" in p for p in problems), what)
            self.assertEqual(failed, {0}, what)

    def test_rejects_a_lost_row(self):
        self.write_alerts(self.alerts)
        self.doc["check"]["batches"][0]["lines"] += 1
        problems, _ = checks.check_ingest(self.doc)
        self.assertTrue(any("lake" in p for p in problems))


class HuntCheck(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        lake = os.path.join(self.dir, "lake")
        write_lake(checks.connect(), lake)
        self.doc = {"check": {"lake": lake, "iocs": [["10.0.0.7", "c2", 90]], "instances": {
            "timeline": {"index": 0, "params": {"user": "u2", "from": HOUR, "to": HOUR},
                         "rows": [[1709269270000000, "e7", "StopLogging",
                                   "cloudtrail.amazonaws.com", "10.0.0.7"]]},
            "ioc_sweep": {"index": 1, "params": {"from": HOUR, "to": HOUR},
                          "rows": [["c2", "u2", 1]]},
            "top_actions": {"index": 2, "params": {"region": "eu-west-1"},
                            "rows": [["GetObject", 1]]},
            "ips_per_hour": {"index": 3, "params": {}, "rows": [[HOUR, 9]]},
            "sigma_sweep": {"index": 4, "params": {"from": HOUR, "to": HOUR},
                            "rows": [["aws_root_account_usage", 1, 1],
                                     ["cloudtrail_tampering", 1, 1],
                                     ["console_login_burst", 6, 1]]},
        }}}

    def tearDown(self):
        shutil.rmtree(self.dir)

    def test_accepts_the_right_result(self):
        self.assertEqual(checks.check_hunt(self.doc), ([], set()))

    def test_rejects_each_wrong_template_result(self):
        for kind, inst in self.doc["check"]["instances"].items():
            good = inst["rows"][0][-1]
            inst["rows"][0][-1] = good + 1 if isinstance(good, int) else good + "x"
            problems, failed = checks.check_hunt(self.doc)
            self.assertEqual(failed, {inst["index"]}, kind)
            self.assertTrue(problems[0].startswith(f"hunt {kind}"))
            inst["rows"][0][-1] = good


class RegistryCheck(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        con = duckdb.connect()
        for t in checks.TABLES:
            con.execute(f"COPY (SELECT 1 AS k, 0.1::DOUBLE AS v UNION ALL SELECT 2, 0.2) "
                        f"TO '{self.dir}/{t}.parquet' (FORMAT parquet)")
        os.makedirs(os.path.join(self.dir, "results", "q_sum"))
        self.result = os.path.join(self.dir, "results", "q_sum", "part-0.parquet")
        self.con = con
        self.doc = {"ops": [{"index": 4, "kind": "q_sum"}, {"index": 5, "kind": "q_sum"}],
                    "check": {"results": os.path.join(self.dir, "results"), "queries": [
                        {"name": "q_sum", "module": "relational",
                         "oracle": "SELECT k, sum(v) AS s FROM orders GROUP BY k"}]}}

    def tearDown(self):
        shutil.rmtree(self.dir)

    def write_result(self, second_sum):
        self.con.execute(f"COPY (SELECT * FROM (VALUES (2, {second_sum}::DOUBLE), "
                         f"(1, 0.1::DOUBLE)) t(k, s)) TO '{self.result}' (FORMAT parquet)")

    def test_accepts_the_oracle_result_in_any_row_order(self):
        self.write_result(0.2)
        self.assertEqual(checks.check_registry(self.doc, self.dir), ([], set()))

    def test_rejects_a_result_off_by_one_ulp(self):
        self.write_result(0.20000000000000004)
        problems, failed = checks.check_registry(self.doc, self.dir)
        self.assertEqual(failed, {4, 5})
        self.assertIn("cell s", problems[0])


if __name__ == "__main__":
    unittest.main()

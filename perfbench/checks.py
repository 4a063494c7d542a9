"""Correctness checks, run outside the timing window.

Each check compares the engine's output with a side computed apart
from it: DuckDB over the same generated files (for the dashboard, the
registry's closed-form oracle SQL), the generator's own planted counts,
or properties the method must have. Nothing is compared with a stored
copy of an earlier output. A failed check raises ``CheckFailed``.
"""

from __future__ import annotations

import math
import os

import duckdb

from database_activity_monitoring_dam_system_spark.plans import dam


class CheckFailed(AssertionError):
    pass


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _duck_events(events_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{os.path.join(events_dir, 'events.parquet')}')"
    )
    return con


# ── gates_cold ──────────────────────────────────────────────────────────

def _canon(rows, columns) -> list[tuple]:
    """Order-insensitive canonical form of a result (the form the
    oracle-parity tests use): columns sorted by name, values rendered
    as text (floats by repr, timestamps by isoformat), rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        if isinstance(v, bool):
            return str(v)
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return str(v)

    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


def check_gate(name: str, oracle_sql: str, columns: list[str], rows: list[tuple],
               events_dir: str) -> None:
    """One registry gate's rows against DuckDB running its oracle SQL."""
    con = _duck_events(events_dir)
    res = con.execute(oracle_sql)
    o_cols = [d[0] for d in res.description]
    o_rows = res.fetchall()
    _expect(sorted(columns) == sorted(o_cols), f"{name}: columns {columns} != oracle {o_cols}")
    _expect(len(rows) == len(o_rows), f"{name}: {len(rows)} rows, oracle {len(o_rows)}")
    _expect(_canon(rows, columns) == _canon(o_rows, o_cols), f"{name}: rows differ from the oracle")


# ── dashboard_serving ───────────────────────────────────────────────────

class DashboardOracle:
    """DuckDB recounts over the generated events, with the activity
    derivation and rule battery written as the registry's oracle SQL."""

    def __init__(self, events_dir: str) -> None:
        self.con = _duck_events(events_dir)
        kp = self.con.execute(dam.QUERIES["activity_kpis"].oracle)
        cols = [d[0] for d in kp.description]
        self.kpis = dict(zip(cols, kp.fetchone()))
        self.ops = dict(self.con.execute(dam.QUERIES["operations_by_type"].oracle).fetchall())
        self.top = [tuple(r) for r in self.con.execute(dam.QUERIES["top_users"].oracle).fetchall()]
        self.n_volume = len(self.con.execute(dam.QUERIES["volume_anomalies"].oracle).fetchall())
        self.anchor = self.con.execute("SELECT max(ts) FROM events").fetchone()[0]

    def _activity(self, where: str, select: str = "count(*)", tail: str = ""):
        sql = dam.activity_sql(f"SELECT {select} FROM activity WHERE {where} {tail}")
        return self.con.execute(sql).fetchall()

    def _battery(self, where: str) -> int:
        sql = dam.battery_sql(f"SELECT count(*) FROM checked WHERE {where}")
        return self.con.execute(sql).fetchone()[0]

    def _check_stats(self, s: dict) -> None:
        k = self.kpis
        for key in ("total_activities", "suspicious_count", "failed_count", "today_count"):
            _expect(s[key] == k[key], f"stats.{key} {s[key]} != duckdb {k[key]}")
        hist = s["severity_histogram"]
        for sev in ("Low", "Medium", "High", "Critical"):
            want = k[f"sev_{sev.lower()}"]
            _expect(hist[sev] == want, f"severity {sev} {hist[sev]} != duckdb {want}")
        _expect(sum(hist.values()) == s["total_activities"], "severity histogram does not sum to total")
        _expect(s["by_operation_type"] == self.ops, f"operation counts {s['by_operation_type']} != {self.ops}")
        _expect(sum(s["by_operation_type"].values()) == s["total_activities"], "operation counts do not sum to total")
        got_top = [(u["username"], u["count"]) for u in s["top_users"]]
        _expect(got_top == self.top, f"top users {got_top} != {self.top}")

    def check(self, kind: str, args: dict, payload) -> int:
        """Validate one response; returns the number of rows it carried."""
        if kind == "dashboard_data":
            self._check_stats(payload["stats"])
            acts = payload["activities"]
            sev = args.get("severity")
            where = f"severity_level = '{sev}'" if sev else "TRUE"
            n_match = self._battery(where)
            _expect(len(acts) == min(args["limit"], n_match),
                    f"dashboard page has {len(acts)} rows, want {min(args['limit'], n_match)}")
            if sev:
                _expect(all(a["severity_level"] == sev for a in acts),
                        "dashboard page ignores its severity filter")
            keys = [(a["access_timestamp"], a["activity_id"]) for a in acts]
            _expect(keys == sorted(keys, reverse=True), "dashboard page is not newest first")
            return len(acts)
        if kind == "chart_data":
            kp = payload["kpis"]
            for short, key in (("total", "total_activities"), ("suspicious", "suspicious_count"),
                               ("failed", "failed_count"), ("today", "today_count")):
                _expect(kp[short] == self.kpis[key], f"chart kpi {short} mismatch")
            sev = payload["severity_chart"]["data"]
            _expect(sev == [self.kpis[f"sev_{x}"] for x in ("low", "medium", "high", "critical")],
                    "severity chart mismatch")
            _expect(sum(sev) == kp["total"], "severity chart does not sum to total")
            ops = dict(zip(payload["operation_type_chart"]["labels"], payload["operation_type_chart"]["data"]))
            _expect(ops == self.ops, "operation chart mismatch")
            _expect(len(payload["timeline_chart"]["labels"]) > 0, "empty timeline")
            return len(payload["timeline_chart"]["labels"])
        if kind == "compliance_report":
            rt = args["report_type"]
            a = f"TIMESTAMP '{self.anchor.isoformat(sep=' ')}'"
            if rt == "daily":
                scope = f"CAST(access_timestamp AS DATE) = CAST({a} AS DATE)"
            else:
                days = 7 if rt == "weekly" else 30
                scope = f"access_timestamp >= {a} - INTERVAL {days} DAY"
            total = self._activity(scope)[0][0]
            st = payload["statistics"]
            _expect(st["total_activities"] == total, f"compliance total {st['total_activities']} != {total}")
            findings_sql = (
                f"SELECT count(*) FROM ({dam.QUERIES['compliance_findings'].oracle}) f "
                f"WHERE f.activity_id IN ({dam.activity_sql(f'SELECT activity_id FROM activity WHERE {scope}')})"
            )
            want = self.con.execute(findings_sql).fetchone()[0]
            _expect(len(payload["findings"]) == want, f"compliance findings {len(payload['findings'])} != {want}")
            _expect(st["non_compliant_count"] == len(payload["findings"]), "finding count mismatch")
            return len(payload["findings"])
        if kind == "anomalies":
            _expect(len(payload["volume"]) == self.n_volume,
                    f"volume anomalies {len(payload['volume'])} != {self.n_volume}")
            return len(payload["volume"]) + len(payload["impossible_travel"])
        if kind == "user_activities":
            uid, limit = args["user_id"], args["limit"]
            n_user = self._activity(f"user_id = {uid}")[0][0]
            _expect(len(payload) == min(limit, n_user), f"user page {len(payload)} rows, want {min(limit, n_user)}")
            _expect(all(r["user_id"] == uid for r in payload), "user page carries another user")
            keys = [(r["access_timestamp"], r["activity_id"]) for r in payload]
            _expect(keys == sorted(keys, reverse=True), "user page is not newest first")
            return len(payload)
        if kind == "behavior_profile":
            uid, days = args["user_id"], args["days"]
            a = f"TIMESTAMP '{self.anchor.isoformat(sep=' ')}'"
            rows = self._activity(
                f"user_id = {uid} AND access_timestamp >= {a} - INTERVAL {days} DAY",
                "CAST(hour(access_timestamp) AS INTEGER) AS h, operation_type, count(*)",
                "GROUP BY 1, 2",
            )
            peak: dict[int, int] = {}
            ops: dict[str, int] = {}
            for h, op, c in rows:
                peak[h] = peak.get(h, 0) + c
                ops[op] = ops.get(op, 0) + c
            _expect(payload["peak_hours"] == peak, "behavior peak hours mismatch")
            _expect(payload["operation_types"] == ops, "behavior operation types mismatch")
            _expect(payload["total_activities"] == sum(peak.values()), "behavior total mismatch")
            return len(rows)
        raise CheckFailed(f"unknown request kind {kind}")


# ── ingest ──────────────────────────────────────────────────────────────

BLOCK_RULE_IDS = (1, 2)  # the fixture's action='block' rules


def check_ingest(manifest: dict, sinks: dict, notified_rows: int) -> dict:
    """One drained stream: sink row counts against the generator's
    planted counts, and the two alert paths against each other."""
    con = duckdb.connect()

    def q(sql: str):
        return con.execute(sql).fetchall()

    def src(name: str) -> str:
        return f"read_parquet('{sinks[name]}/*.parquet')"

    n_act = q(f"SELECT count(*) FROM {src('activity')}")[0][0]
    n_alerts = q(f"SELECT count(*) FROM {src('alerts')}")[0][0]
    n_blocked = q(
        f"SELECT count(*) FROM {src('blocks')} WHERE rule_id IN {BLOCK_RULE_IDS}"
    )[0][0]
    _expect(n_blocked == manifest["blocked"], f"blocked {n_blocked} != planted {manifest['blocked']}")
    _expect(n_act + n_blocked == manifest["non_system"],
            f"activity {n_act} + blocked {n_blocked} != non-system events {manifest['non_system']}")
    n_high = q(
        f"SELECT count(*) FROM {src('activity')} WHERE severity_level IN ('High', 'Critical')"
    )[0][0]
    _expect(n_alerts == n_high, f"alert rows {n_alerts} != High/Critical activity rows {n_high}")
    _expect(notified_rows == n_alerts, f"notifier got {notified_rows} rows, alerts sink has {n_alerts}")
    markers = " OR ".join(
        f"contains(lower(operation_details), '{m}')" for m in manifest["injection_markers"]
    )
    inj = q(
        f"SELECT count(*), count(*) FILTER (WHERE severity_level = 'Critical') "
        f"FROM {src('activity')} WHERE {markers}"
    )[0]
    _expect(inj[0] == manifest["injection"], f"injection rows {inj[0]} != planted {manifest['injection']}")
    _expect(inj[1] == inj[0], f"{inj[0] - inj[1]} unblocked injections are not Critical")
    return {"activity_rows": n_act, "alert_rows": n_alerts, "blocked_rows": n_blocked}


# ── corpus ──────────────────────────────────────────────────────────────

def _shard_rows(shards_dir: str) -> list[tuple]:
    con = duckdb.connect()
    return con.execute(
        f"SELECT * EXCLUDE (shard_id) FROM read_parquet('{shards_dir}/**/*.parquet', "
        "hive_partitioning = true) ORDER BY doc_id"
    ).fetchall()


def check_corpus_report(report: dict, shards_dir: str, bench_ids: list[int]) -> list[tuple]:
    """Properties every pipeline run must have; returns the shard rows."""
    order = ("n_raw", "n_quality", "n_deduped", "n_clean")
    counts = [report[k] for k in order]
    _expect(all(a >= b for a, b in zip(counts, counts[1:])) and counts[-1] > 0,
            f"stage counts are not monotone: {counts}")
    drops = sum(v for k, v in report.items() if k.startswith("n_dropped_"))
    _expect(drops == report["n_raw"] - report["n_clean"],
            f"drop breakdown {drops} != n_raw - n_clean {report['n_raw'] - report['n_clean']}")
    rows = _shard_rows(shards_dir)
    _expect(len(rows) == report["n_clean"], f"shards hold {len(rows)} docs, n_clean {report['n_clean']}")
    kept = {r[0] for r in rows}
    leaked = sorted(set(bench_ids) & kept)
    _expect(not leaked, f"benchmark items survived: {leaked}")
    return rows


def check_incremental(inc_report: dict, inc_rows: list[tuple], full_report: dict,
                      full_rows: list[tuple], perturbed: dict) -> None:
    """The incremental run equals a full recompute over the same snapshot."""
    for k in ("n_raw", "n_quality", "n_deduped", "n_clean"):
        _expect(inc_report[k] == full_report[k], f"incremental {k} {inc_report[k]} != full {full_report[k]}")
    _expect(inc_rows == full_rows, "incremental shards differ from a full recompute")
    want_delta = perturbed["perturb_changed"] + perturbed["perturb_added"]
    _expect(inc_report.get("n_delta") == want_delta,
            f"incremental re-processed {inc_report.get('n_delta')} docs, the perturbation touched {want_delta}")

"""Seeded input generators for the benchmark workloads.

Every generator takes the seed as an argument and writes plain files
(parquet or JSON lines) into a directory the caller names; the engine
under test only ever sees those files. The same seed yields
byte-identical files. Row counts and the share of every planted
pattern are fixed (they do not depend on the seed), so each workload
does the same amount of work whatever the seed; the seed moves values,
order and timing only.

Each generator returns a small manifest of what it planted, which the
correctness checks use as the independent side of their comparisons.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ── events (dashboard_serving) ──────────────────────────────────────────

EVENT_ROWS = 20_000
EVENT_USERS = 1_500
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EVENT_T0 = dt.datetime(2024, 1, 1)
EVENT_SPAN_S = 30 * 24 * 3600


def write_events(out_dir: str, seed: int, rows: int = EVENT_ROWS) -> dict:
    """``events.parquet`` in the testdata schema (event_id, ts as
    TIMESTAMP(NANOS), user_id, event_type, value, props): 30 days of
    uniformly spread events from ``EVENT_USERS`` users. The DAM
    derivation (plans/events_activity.py) plants its patterns from
    event_id residues, so their shares are the same for every seed."""
    rng = np.random.default_rng([seed, 1])
    offs = np.sort(rng.integers(0, EVENT_SPAN_S * 1_000_000, rows))
    t0_ns = int(EVENT_T0.replace(tzinfo=dt.timezone.utc).timestamp()) * 10**9
    table = pa.table(
        {
            "event_id": pa.array(np.arange(rows, dtype=np.int64)),
            "ts": pa.array(t0_ns + offs * 1000, pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, EVENT_USERS, rows), pa.int64()),
            "event_type": pa.array(
                [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), rows)]
            ),
            "value": pa.array(np.round(rng.exponential(50.0, rows), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]
            ),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "events.parquet"))
    # users with at least 3 activity-log rows (event_id % 7 != 0 keeps
    # the user id) in the last 7 days: the per-user requests pick from
    # these. A user with a single row in the window runs 2 Spark jobs
    # for behavior_profile instead of 4 (the sort stage is skipped),
    # which would make the job count depend on the seed.
    ids = np.arange(rows)
    users = table.column("user_id").to_numpy()
    recent = offs >= offs[-1] - 7 * 24 * 3600 * 1_000_000
    uniq, n = np.unique(users[recent & (ids % 7 != 0)], return_counts=True)
    active = sorted(int(u) for u in uniq[n >= 3])
    return {"rows": rows, "users": EVENT_USERS, "active_users": active}


# ── dashboard request mix ───────────────────────────────────────────────

# One round is what one admin session asks for in about two minutes.
# The dashboard page re-polls /api/dashboard-data every 30 s with a
# 50-row page (BASELINE.md, "Dashboard query page size";
# SURVEY.md E2), so dashboard_data carries the most weight: three
# unfiltered refreshes and one severity-filtered view. The other kinds
# are on-demand views, one each; their weights (and the chart page's
# refresh rate) have no source in the reference and are a choice of
# the benchmark.
REQUEST_MIX = (
    ("dashboard_data", 4), ("chart_data", 1), ("compliance_report", 1),
    ("anomalies", 1), ("user_activities", 1), ("behavior_profile", 1),
)
REQUEST_KINDS = tuple(k for k, _ in REQUEST_MIX)
PAGE_ROWS = 50  # app.py:1078, the admin dashboard page


def request_mix(seed: int, active_users: list[int]) -> list[tuple[str, dict]]:
    """One round of dashboard requests, ``REQUEST_MIX`` in seeded order.
    The seed picks only values that leave the amount of work unchanged:
    the severity of the filtered dashboard view, the user ids and the
    order. Time windows are fixed (the cached frame is time-ordered, so
    a time filter would change how much of it a request scans), and
    user ids come from ``active_users``, users with at least 3 rows in
    the last 7 days."""
    rng = np.random.default_rng([seed, 2])
    mix: list[tuple[str, dict]] = []
    for kind, weight in REQUEST_MIX:
        for i in range(weight):
            if kind == "dashboard_data":
                # the refreshes are unfiltered; the last view filters
                sev = ["Low", "Medium", "High"][rng.integers(3)] if i == weight - 1 else None
                args = {"limit": PAGE_ROWS, "severity": sev, "time_range_hours": None}
            elif kind == "chart_data":
                args = {"timeline_hours": 24}
            elif kind == "compliance_report":
                args = {"report_type": "weekly"}
            elif kind == "anomalies":
                args = {}
            elif kind == "user_activities":
                args = {
                    "user_id": active_users[rng.integers(len(active_users))],
                    "limit": PAGE_ROWS,
                }
            else:
                args = {"user_id": active_users[rng.integers(len(active_users))], "days": 7}
            mix.append((kind, args))
    order = rng.permutation(len(mix))
    return [mix[i] for i in order]


# ── agent events (ingest) ───────────────────────────────────────────────

AGENT_TABLES = ("products", "orders", "customers", "accounts", "payments", "inventory")
AGENT_USERS = 200
# The agent reads the general log 50 rows per 3 s poll and POSTs them
# (BASELINE.md, "Agent ingest ceiling", dam_agent.py:191,336): one file
# of AGENT_BATCH events is one poll and one micro-batch.
AGENT_BATCH = 50
# per round (two polls): exact counts of each planted pattern. The hex
# (10 %) and system-query (15 %) shares are the agent_events fixture's
# (FIXTURES.md section 7); the other shares have no source in the
# reference and are a choice of the benchmark.
AGENT_PLAN = {
    "plain": 55,
    "hex_plain": 10,
    "system": 15,
    "injection": 2,
    "blocked": 2,
    "sensitive": 4,
    "burst": 12,
}
BURST_SECONDS = 6  # one user, the whole burst inside two poll intervals
INJECTIONS = (
    "select id from orders; drop table audit",
    "select id from orders where id=1 waitfor delay '0:0:5'",
    "select load_file('/etc/passwd') from products",
    "select benchmark(1000000, md5(1)) from accounts",
)
BLOCKED = (
    "select id from customers where id=1 union select pass from admins",
    "select id from products where id=1 and sleep(5)",
)
SYSTEM = (
    "SHOW TABLES",
    "select table_name from information_schema.tables",
    "SET NAMES utf8",
    "COMMIT",
)
SENSITIVE = (
    "select password from users where id={k}",
    "select name, salary from employees where id={k}",
    "select ssn from customers where id={k}",
)
AGENT_T0 = dt.datetime(2026, 8, 1)


def _plain_sql(rng: np.random.Generator, k: int) -> str:
    table = AGENT_TABLES[rng.integers(len(AGENT_TABLES))]
    verb = rng.integers(4)
    if verb == 0:
        return f"select id, qty from {table} where id={k}"
    if verb == 1:
        return f"insert into {table} values ({k}, 'x')"
    if verb == 2:
        return f"update {table} set qty=qty+1 where id={k}"
    return f"delete from {table} where id={k}"


def _scaled(plan: dict[str, int], scale: float) -> dict[str, int]:
    return {k: max(1, round(n * scale)) for k, n in plan.items()}


def write_agent_events(out_dir: str, seed: int, scale: float = 1.0) -> dict:
    """JSON lines in the agent's POST shape (event_time, user_host,
    argument), ``AGENT_BATCH`` events per file, with strictly increasing pinned
    mtimes so the file source replays the files in a fixed order, one
    per micro-batch under ``maxFilesPerTrigger=1``. The planted mix is
    ``AGENT_PLAN``: plain DML, hex-encoded DML, system queries (skipped
    by the agent filter), injections no firewall rule blocks,
    firewall-blocked SQL (UNION / sleep payloads), sensitive-column SQL
    and one user's burst inside ``BURST_SECONDS``. Events spread over
    one day (off-hours included) in time order, so the files replay a
    backlog the agent drains one poll at a time. ``scale`` multiplies
    every count (the tests run at a tenth)."""
    rng = np.random.default_rng([seed, 3])
    plan = _scaled(AGENT_PLAN, scale)
    events: list[tuple[str, str]] = []  # (kind, sql)
    for kind, n in plan.items():
        if kind == "burst":
            continue
        for _ in range(n):
            k = int(rng.integers(1, 10**6))
            if kind == "plain":
                sql = _plain_sql(rng, k)
            elif kind == "hex_plain":
                sql = "0x" + _plain_sql(rng, k).encode().hex()
            elif kind == "system":
                sql = SYSTEM[rng.integers(len(SYSTEM))]
            elif kind == "injection":
                sql = INJECTIONS[rng.integers(len(INJECTIONS))]
            elif kind == "blocked":
                sql = BLOCKED[rng.integers(len(BLOCKED))]
            else:
                sql = SENSITIVE[rng.integers(len(SENSITIVE))].format(k=k)
            events.append((kind, sql))
    n_spread = len(events)
    order = rng.permutation(n_spread)
    # spread events over one day (off-hours included), one per slot
    offs = np.sort(rng.integers(0, 24 * 3600 * 1000, n_spread))
    rows = []
    for slot, i in enumerate(order):
        kind, sql = events[i]
        u = int(rng.integers(0, AGENT_USERS))
        rows.append((int(offs[slot]), f"user_{u}", sql))
    # the burst: one user fires their queries inside BURST_SECONDS
    n_burst = plan["burst"]
    u = int(rng.integers(0, AGENT_USERS))
    start = int(rng.integers(0, 23 * 3600 * 1000))
    for j in range(n_burst):
        k = int(rng.integers(1, 10**6))
        rows.append(
            (start + j * BURST_SECONDS * 1000 // n_burst, f"user_{u}",
             f"select id, qty from products where id={k}")
        )
    rows.sort(key=lambda r: r[0])
    os.makedirs(out_dir, exist_ok=True)
    files = -(-len(rows) // AGENT_BATCH)
    for f in range(files):
        path = os.path.join(out_dir, f"events-{f:03d}.json")
        with open(path, "w") as fh:
            for off_ms, user, sql in rows[f * AGENT_BATCH:(f + 1) * AGENT_BATCH]:
                ts = AGENT_T0 + dt.timedelta(milliseconds=off_ms)
                fh.write(json.dumps({
                    "event_time": ts.isoformat(timespec="milliseconds"),
                    "user_host": f"{user}[{user}] @ host{off_ms % 7} []",
                    "argument": sql,
                }) + "\n")
        os.utime(path, (1_000_000 + f, 1_000_000 + f))
    total = len(rows)
    return {
        "events": total,
        "files": files,
        "system": plan["system"],
        "non_system": total - plan["system"],
        "blocked": plan["blocked"],
        "injection": plan["injection"],
        "injection_markers": ["drop table", "waitfor delay", "load_file(", "benchmark("],
    }


def agent_users(n: int = AGENT_USERS) -> list[tuple[int, str, str]]:
    """The users dimension for ``resolve_user_ids``: user_k has id k+1
    and role Admin/User/Guest by k % 3."""
    roles = ("Admin", "User", "Guest")
    return [(k + 1, f"user_{k}", roles[k % 3]) for k in range(n)]


# ── documents (corpus) ──────────────────────────────────────────────────

DOC_ROWS = 600
STOPWORDS = ("the", "a", "of", "and", "to")
LANGS = ("en", "en", "en", "de", "fr", "zh")
# per corpus: exact counts of each planted pattern
DOC_PLAN = {
    "too_short": 30,
    "too_noisy": 18,
    "low_fluency": 12,
    "exact_dup": 18,
    "near_dup": 48,
}
BENCH_ITEMS = 12
PERTURB = {"changed": 60, "added": 18, "removed": 12}


def _vocab() -> list[str]:
    syll = ("ka", "lo", "mi", "ne", "su", "ra", "to", "ve", "di", "po", "gu", "be")
    return [a + b + c for a in syll for b in syll for c in syll[:4]]


def _clean_text(rng: np.random.Generator, vocab: list[str], n_tok: int) -> str:
    toks = []
    for _ in range(n_tok):
        if rng.random() < 0.3:
            toks.append(STOPWORDS[rng.integers(len(STOPWORDS))])
        else:
            toks.append(vocab[rng.integers(len(vocab))])
    return " ".join(toks)


def _doc_table(docs: list[tuple[int, str, str, str]]) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": pa.array([d[1] for d in docs]),
            "lang": pa.array([d[2] for d in docs]),
            "source": pa.array([d[3] for d in docs]),
            "n_chars": pa.array([len(d[1]) for d in docs], pa.int64()),
        }
    )


def write_corpus(out_dir: str, seed: int, scale: float = 1.0) -> dict:
    """Two snapshots of a document corpus in the testdata schema
    (doc_id, text, lang, source, n_chars) plus a benchmark set:

    * ``documents.parquet`` — ``DOC_ROWS`` docs: clean text (30 %
      English stopwords), with ``DOC_PLAN`` planted drops: too-short
      docs, punctuation-noisy docs, stopword-free docs, exact copies
      and one-token near-copies of clean docs;
    * ``documents_v2.parquet`` — the seeded perturbation: ``PERTURB``
      changed docs (12 tokens appended), added docs and removed docs;
    * ``benchmark.parquet`` — ``BENCH_ITEMS`` clean docs sampled
      verbatim from the corpus (each must be dropped as contaminated).

    ``scale`` multiplies every count (the tests run at a tenth).
    """
    rng = np.random.default_rng([seed, 4])
    vocab = _vocab()
    plan = _scaled(DOC_PLAN, scale)
    perturb = _scaled(PERTURB, scale)
    n_clean = round(DOC_ROWS * scale) - sum(plan.values())
    docs: list[tuple[int, str, str, str]] = []

    def meta() -> tuple[str, str]:
        return LANGS[rng.integers(len(LANGS))], f"src{rng.integers(5)}"

    for _ in range(n_clean):
        docs.append((0, _clean_text(rng, vocab, int(rng.integers(60, 160))), *meta()))
    clean_texts = [d[1] for d in docs]
    for _ in range(plan["too_short"]):
        docs.append((0, _clean_text(rng, vocab, int(rng.integers(3, 9))), *meta()))
    for _ in range(plan["too_noisy"]):
        toks = _clean_text(rng, vocab, int(rng.integers(30, 60))).split()
        docs.append((0, " ".join(t + "!?#%" for t in toks), *meta()))
    for _ in range(plan["low_fluency"]):
        toks = [vocab[rng.integers(len(vocab))] for _ in range(int(rng.integers(40, 80)))]
        docs.append((0, " ".join(toks), *meta()))
    for _ in range(plan["exact_dup"]):
        docs.append((0, clean_texts[rng.integers(n_clean)], *meta()))
    for _ in range(plan["near_dup"]):
        src = clean_texts[rng.integers(n_clean)]
        docs.append((0, src + " " + vocab[rng.integers(len(vocab))], *meta()))
    order = rng.permutation(len(docs))
    docs = [(i, *docs[j][1:]) for i, j in enumerate(order)]
    # benchmark items: verbatim clean docs (ids of docs from the clean pool)
    clean_ids = [i for i, j in enumerate(order) if j < n_clean]
    bench_ids = sorted(int(x) for x in rng.choice(clean_ids, max(1, round(BENCH_ITEMS * scale)), replace=False))
    bench = [(i, docs[i][1]) for i in bench_ids]

    # perturbation → snapshot v2
    ids = np.arange(len(docs))
    touched = rng.choice(ids, perturb["changed"] + perturb["removed"], replace=False)
    changed = set(int(x) for x in touched[: perturb["changed"]])
    removed = set(int(x) for x in touched[perturb["changed"]:])
    v2 = []
    for d in docs:
        if d[0] in removed:
            continue
        if d[0] in changed:
            d = (d[0], d[1] + " " + _clean_text(rng, vocab, 12), d[2], d[3])
        v2.append(d)
    for k in range(perturb["added"]):
        v2.append((len(docs) + k, _clean_text(rng, vocab, int(rng.integers(60, 160))), *meta()))

    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(_doc_table(docs), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(_doc_table(v2), os.path.join(out_dir, "documents_v2.parquet"))
    pq.write_table(
        pa.table({
            "doc_id": pa.array([b[0] for b in bench], pa.int64()),
            "text": pa.array([b[1] for b in bench]),
        }),
        os.path.join(out_dir, "benchmark.parquet"),
    )
    return {
        "docs": len(docs),
        "docs_v2": len(v2),
        "bench_ids": bench_ids,
        **{f"planted_{k}": v for k, v in plan.items()},
        **{f"perturb_{k}": v for k, v in perturb.items()},
    }

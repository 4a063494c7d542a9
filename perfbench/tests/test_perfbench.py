"""The benchmark's own tests: generators are reproducible, every
workload completes at a tenth of its size with its checks passing, and
each check rejects a deliberately wrong answer.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import copy
import hashlib
import os

import pytest

from perfbench import checks, gen
from perfbench.workloads import WORKLOADS

SCALE = 0.1


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            path = os.path.join(dirpath, n)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize(
    "write",
    [
        lambda d, s: gen.write_events(d, s, rows=500),
        lambda d, s: gen.write_agent_events(d, s, scale=SCALE),
        lambda d, s: gen.write_corpus(d, s, scale=SCALE),
    ],
    ids=["events", "agent_events", "corpus"],
)
def test_same_seed_same_bytes(tmp_path, write):
    assert write(str(tmp_path / "a"), 7) == write(str(tmp_path / "b"), 7)
    write(str(tmp_path / "c"), 8)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def test_request_mix_is_seeded():
    users = list(range(1, 300))
    assert gen.request_mix(3, users) == gen.request_mix(3, users)
    assert gen.request_mix(3, users) != gen.request_mix(4, users)
    want = sorted(k for k, n in gen.REQUEST_MIX for _ in range(n))
    assert sorted(k for k, _ in gen.request_mix(3, users)) == want


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["TZ"] = "UTC"
    from database_activity_monitoring_dam_system_spark.session import get_spark

    s = get_spark(
        "perfbench-tests",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse")),
        },
    )
    yield s


@pytest.fixture(scope="module")
def finished(spark, tmp_path_factory):
    """Each workload after setup, one round and its checks."""
    done = {}

    def run(name: str):
        if name not in done:
            prev = {k: os.environ.get(k) for k in WORKLOADS[name].env}
            os.environ.update(WORKLOADS[name].env)
            try:
                wl = WORKLOADS[name](spark, str(tmp_path_factory.mktemp(name)), 5, scale=SCALE)
                wl.setup()
                lat = wl.round()
                lat = wl.finish() or lat
                wl.check()
            finally:
                for k, v in prev.items():
                    if v is None:
                        os.environ.pop(k, None)
                    else:
                        os.environ[k] = v
            done[name] = (wl, lat)
        return done[name]

    return run


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_workload_completes_with_checks(finished, name):
    wl, lat = finished(name)
    assert len(lat) == wl.ops_per_round()
    assert all(t > 0 for t in lat)


def test_dashboard_check_rejects_wrong_answer(finished):
    wl, _ = finished("dashboard_serving")
    oracle = checks.DashboardOracle(wl.data)
    kind, args, payload = next(p for p in wl.payloads if p[0] == "dashboard_data")
    oracle.check(kind, args, payload)
    bad = copy.deepcopy(payload)
    bad["stats"]["severity_histogram"]["High"] += 1
    with pytest.raises(checks.CheckFailed):
        oracle.check(kind, args, bad)
    kind, args, payload = next(p for p in wl.payloads if p[0] == "user_activities")
    oracle.check(kind, args, payload)
    with pytest.raises(checks.CheckFailed):  # a row missing from the page
        oracle.check(kind, args, payload[:-1])


def test_ingest_check_rejects_wrong_answer(finished):
    wl, _ = finished("ingest")
    want = wl.expected()
    checks.check_ingest(want, wl.sinks, wl.notifier.rows)
    with pytest.raises(checks.CheckFailed):
        checks.check_ingest(want, wl.sinks, wl.notifier.rows + 1)
    wrong = dict(want, blocked=want["blocked"] + 1)
    with pytest.raises(checks.CheckFailed):
        checks.check_ingest(wrong, wl.sinks, wl.notifier.rows)


def test_corpus_check_rejects_wrong_answer(finished):
    wl, _ = finished("corpus")
    full, full_out, inc, _inc_out = wl.results[0]
    shards = os.path.join(full_out, "shards")
    rows = checks.check_corpus_report(full, shards, wl.manifest["bench_ids"])
    with pytest.raises(checks.CheckFailed):  # a benchmark item that survived
        checks.check_corpus_report(full, shards, [rows[0][0]])
    with pytest.raises(checks.CheckFailed):  # a drop breakdown that does not add up
        checks.check_corpus_report(dict(full, n_dropped_dedup=full["n_dropped_dedup"] + 1),
                                   shards, wl.manifest["bench_ids"])
    with pytest.raises(checks.CheckFailed):  # a document missing from the incremental shards
        checks.check_incremental(inc, rows[1:], full, rows, wl.manifest)


def test_gate_check_rejects_wrong_answer(finished):
    wl, _ = finished("gates_cold")
    cols, rows = wl.results["activity_kpis"]
    oracle = wl.specs["activity_kpis"].oracle
    checks.check_gate("activity_kpis", oracle, cols, rows, wl.data)
    bad = [tuple(v + 1 if isinstance(v, int) else v for v in rows[0])]
    with pytest.raises(checks.CheckFailed):
        checks.check_gate("activity_kpis", oracle, cols, bad, wl.data)

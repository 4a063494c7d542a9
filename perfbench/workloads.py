"""The benchmark's workloads.

Each workload is a closed loop with one client: ``setup()`` generates
its inputs from the seed and pays every one-off cost (warm-up,
serving-artifact build); ``round()`` runs one fixed amount of work and
returns the latency of each operation in it; ``check()`` validates the
outputs of the measured rounds, outside the timing window.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time

from database_activity_monitoring_dam_system_spark import api, pipeline
from database_activity_monitoring_dam_system_spark.plans import dam
from database_activity_monitoring_dam_system_spark.sources import testdata
from database_activity_monitoring_dam_system_spark.streaming import ingest

from . import checks, gen, probes


class Workload:
    name = ""
    env: dict[str, str] = {}

    def __init__(self, spark, work: str, seed: int, scale: float = 1.0) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.scale = scale  # input size multiplier; the tests run at a tenth
        self.data = os.path.join(work, "data")
        self.rounds_done = 0
        self.layer_detail: dict = {}

    def setup(self) -> None:
        raise NotImplementedError

    def round(self) -> list[float]:
        raise NotImplementedError

    def ops_per_round(self) -> int:
        raise NotImplementedError

    def finish(self) -> list[float] | None:
        """Called after the measured rounds, before the checks. Returns
        the operation latencies when the workload takes them from the
        engine rather than from ``round()``."""
        return None

    def check(self) -> None:
        raise NotImplementedError

    def per_layer(self) -> dict:
        """Workload-specific per-layer counts (zero where the workload
        does not enter the layer), over the whole run."""
        return {}


class GatesCold(Workload):
    """The DAM-native registry gates (``plans/dam.py`` ``QUERIES``) run
    the way the oracle-parity tests run them: no shared frames, each
    gate built from parquet and collected. Not in BENCHMARK.json: one
    run costs about 50 s in a fresh JVM on four cores, which the run
    budget of BENCHMARK.json cannot hold next to the other workloads."""

    name = "gates_cold"
    env: dict[str, str] = {}

    def setup(self) -> None:
        self.specs = dam.QUERIES
        self.manifest = gen.write_events(self.data, self.seed, rows=round(gen.EVENT_ROWS * self.scale))
        self.results: dict = {}

    def round(self) -> list[float]:
        self.rounds_done += 1
        lat = []
        for name, spec in self.specs.items():
            t = time.perf_counter()
            df = spec.fn(self.spark, self.data)
            rows = [tuple(r) for r in df.collect()]
            lat.append(time.perf_counter() - t)
            self.results[name] = (df.columns, rows)
        return lat

    def ops_per_round(self) -> int:
        return len(self.specs)

    def check(self) -> None:
        for name, (cols, rows) in self.results.items():
            checks.check_gate(name, self.specs[name].oracle, cols, rows, self.data)


class DashboardServing(Workload):
    """Seeded mix of ``api.DamAnalytics`` requests over the persisted
    rule-battery frame, in serving mode. Setup builds and caches the
    frame; each request is planning, execution over cached rows and
    ``collect()``."""

    name = "dashboard_serving"
    env = {"SPARK_DAM_SHARE_FRAMES": "1"}
    # the first mix of a process runs about 1.5x slower than the next;
    # one untimed mix takes that step, and each further one costs a
    # run budget that holds three workloads only with short set-ups
    WARMUP_MIXES = 1

    def setup(self) -> None:
        self.manifest = gen.write_events(self.data, self.seed, rows=round(gen.EVENT_ROWS * self.scale))
        self.mix = gen.request_mix(self.seed, self.manifest["active_users"])
        frame = dam._battery(self.spark, self.data)
        frame.count()  # materialise the persisted serving frame
        self.api = api.DamAnalytics(frame, now=dam._anchor(self.spark, self.data))
        self.payloads: list = []
        for _ in range(self.WARMUP_MIXES):  # JIT, codegen cache, broadcast state
            self._run_mix()

    def _run_mix(self) -> list[float]:
        lat = []
        self.payloads = []
        for kind, args in self.mix:
            t = time.perf_counter()
            payload = getattr(self.api, kind)(**args)
            lat.append(time.perf_counter() - t)
            self.payloads.append((kind, args, payload))
        return lat

    def round(self) -> list[float]:
        self.rounds_done += 1
        return self._run_mix()

    def ops_per_round(self) -> int:
        return len(self.mix)

    def check(self) -> None:
        oracle = checks.DashboardOracle(self.data)
        self.rows_returned = sum(oracle.check(k, a, p) for k, a, p in self.payloads)

    def per_layer(self) -> dict:
        cached = 0.0
        for blk in self.spark.sparkContext._jsc.sc().getRDDStorageInfo():
            cached += blk.memSize() / 2**20
        self.layer_detail["api.rows_returned"] = self.rows_returned
        return {
            "api.requests": len(self.mix) * (self.rounds_done + self.WARMUP_MIXES),
            "plans.shared_cached_mb": cached,
        }


class CountingNotifier:
    """The ingest notifier hook: counts the alert rows it is handed."""

    def __init__(self) -> None:
        self.rows = 0
        self._lock = threading.Lock()

    def __call__(self, payload: list) -> None:
        with self._lock:
            self.rows += len(payload)


class Ingest(Workload):
    """The write path as a running service: one
    ``streaming.ingest.start_ingest`` query, started in setup from empty
    sinks and checkpoint, with a users dimension, the firewall rule
    fixture, a blocks sink and a counting notifier. Each round is two
    agent polls: each seeded poll file lands in the source directory in
    turn, and the round ends when the query has committed both."""

    name = "ingest"
    env: dict[str, str] = {}
    # the process's first micro-batch is several times slower than the
    # ones after it, and the next few still speed up: two untimed rounds
    WARMUP_ROUNDS = 2

    def setup(self) -> None:
        self.polls = os.path.join(self.data, "polls")
        self.manifest = gen.write_agent_events(self.polls, self.seed, scale=self.scale)
        self.src = os.path.join(self.data, "src")
        os.makedirs(self.src)
        out = os.path.join(self.work, "stream")
        self.sinks = {k: os.path.join(out, k) for k in ("activity", "alerts", "blocks")}
        self.notifier = CountingNotifier()
        users = self.spark.createDataFrame(
            gen.agent_users(), "user_id long, username string, role string"
        )
        rules = self.spark.createDataFrame(dam.FIREWALL_RULES_FIXTURE, dam._RULES_SCHEMA)
        self.query = ingest.start_ingest(
            self.spark, self.src,
            activity_sink=self.sinks["activity"], alerts_sink=self.sinks["alerts"],
            checkpoint_dir=os.path.join(out, "checkpoint"),
            users=users, firewall_rules=rules,
            blocks_sink=self.sinks["blocks"], notifier=self.notifier,
            resolve_user_ids=True, max_files_per_trigger=1,
        )
        self.delivered = 0
        for _ in range(self.WARMUP_ROUNDS):
            self._deliver_round()

    def _deliver_round(self) -> None:
        """Deliver the round's polls in turn: each poll file is renamed
        into the source directory whole, under a new name, and the next
        one lands once the query has committed it."""
        for name in sorted(os.listdir(self.polls)):
            staged = os.path.join(self.data, "staged.json")
            shutil.copyfile(os.path.join(self.polls, name), staged)
            os.replace(staged, os.path.join(self.src, f"p{self.delivered:05d}-{name}"))
            self.delivered += 1
            self.query.processAllAvailable()
            if self.query.exception() is not None:
                raise RuntimeError(f"ingest stream failed: {self.query.exception()}")

    def round(self) -> list[float]:
        self.rounds_done += 1
        self._deliver_round()
        return []  # the micro-batch durations come from the progress reports

    def finish(self) -> list[float]:
        self.query.stop()
        progress = [p for p in self.query.recentProgress if p["numInputRows"] > 0]
        self.progress = progress[-self.rounds_done * self.manifest["files"]:]
        return [p["batchDuration"] / 1000.0 for p in self.progress]

    def expected(self) -> dict:
        """The generator's planted counts (one round), times the rounds
        delivered, warm-up included."""
        rounds = self.delivered // self.manifest["files"]
        want = dict(self.manifest)
        for key in ("events", "non_system", "blocked", "injection"):
            want[key] = self.manifest[key] * rounds
        return want

    def check(self) -> None:
        self.checked = checks.check_ingest(self.expected(), self.sinks, self.notifier.rows)

    def ops_per_round(self) -> int:
        return self.manifest["files"]

    def per_layer(self) -> dict:
        mb, files = 0.0, 0
        for path in self.sinks.values():
            m, f = probes.dir_mb(path)
            mb, files = mb + m, files + f
        for key in ("addBatch", "queryPlanning", "latestOffset", "walCommit", "commitOffsets"):
            vals = [p["durationMs"].get(key, 0) for p in self.progress]
            self.layer_detail[f"streaming.{key}_ms.p50"] = statistics.median(vals)
        c = self.checked
        # counts the seeded input fixes go to the LAYERS line: a change
        # in them is a fault, not a gain or a loss
        self.layer_detail.update({
            "streaming.batches": len(self.progress),
            "sinks.rows": c["activity_rows"] + c["alert_rows"] + c["blocked_rows"],
            "notifier.rows": self.notifier.rows,
        })
        rounds = self.delivered // self.manifest["files"]
        return {
            "streaming.evals_per_event": sum(p["numInputRows"] for p in self.progress)
            / (self.manifest["events"] * self.rounds_done),
            "sinks.files": files / rounds,
            "sinks.output_mb": mb / rounds,
        }


class Corpus(Workload):
    """``pipeline.run_corpus_pipeline`` over a seeded corpus and its
    seeded perturbation. Setup runs the full pipeline over the corpus:
    it warms the pipeline and leaves the gate state the incremental
    runs start from. Each round is an incremental run over the
    perturbed snapshot, then a full run over the same snapshot, which is
    the full recompute the incremental run must equal."""

    name = "corpus"
    env: dict[str, str] = {}
    EPOCH_TARGETS = {"en": 100_000, "de": 100_000}
    SHARDS = 4

    def setup(self) -> None:
        self.manifest = gen.write_corpus(self.data, self.seed, scale=self.scale)
        v2 = os.path.join(self.data, "v2")
        os.makedirs(v2)
        os.replace(
            os.path.join(self.data, "documents_v2.parquet"),
            os.path.join(v2, "documents.parquet"),
        )
        self.docs = testdata.load_table(self.spark, self.data, "documents")
        self.docs_v2 = testdata.load_table(self.spark, v2, "documents")
        self.bench = self.spark.read.parquet(os.path.join(self.data, "benchmark.parquet"))
        self.base = os.path.join(self.work, "base")
        self.base_report = self._run(self.docs, self.base)
        self.results: list = []

    def _run(self, docs, out: str, **incremental) -> dict:
        return pipeline.run_corpus_pipeline(
            docs, os.path.join(out, "shards"),
            benchmark=self.bench, epoch_targets=self.EPOCH_TARGETS,
            n_shards=self.SHARDS, state_dir=os.path.join(out, "state"),
            **incremental,
        )

    def round(self) -> list[float]:
        self.rounds_done += 1
        base = os.path.join(self.work, f"r{self.rounds_done}")
        inc_out, full_out = os.path.join(base, "incremental"), os.path.join(base, "full")
        t = time.perf_counter()
        inc = self._run(
            self.docs_v2, inc_out,
            old_snapshot=self.docs, old_state_dir=os.path.join(self.base, "state"),
        )
        t_inc = time.perf_counter() - t
        t = time.perf_counter()
        full = self._run(self.docs_v2, full_out)
        t_full = time.perf_counter() - t
        self.results.append((full, full_out, inc, inc_out))
        self.layer_detail.setdefault("full_run_s", []).append(t_full)
        self.layer_detail.setdefault("incremental_run_s", []).append(t_inc)
        return [t_inc, t_full]

    def check(self) -> None:
        bench_ids = self.manifest["bench_ids"]
        checks.check_corpus_report(self.base_report, os.path.join(self.base, "shards"), bench_ids)
        for full, full_out, inc, inc_out in self.results:
            full_rows = checks.check_corpus_report(full, os.path.join(full_out, "shards"), bench_ids)
            inc_rows = checks.check_corpus_report(inc, os.path.join(inc_out, "shards"), bench_ids)
            checks.check_incremental(inc, inc_rows, full, full_rows, self.manifest)

    def ops_per_round(self) -> int:
        return 2

    def per_layer(self) -> dict:
        mb, files = 0.0, 0
        for _f, full_out, _i, inc_out in self.results:
            for out in (full_out, inc_out):
                m, f = probes.dir_mb(out)
                mb, files = mb + m, files + f
        n = len(self.results)
        return {
            "sinks.files": files / n,
            "sinks.output_mb": mb / n,
            "pipeline.full_s": statistics.median(self.layer_detail["full_run_s"]),
            "pipeline.incremental_s": statistics.median(self.layer_detail["incremental_run_s"]),
            "pipeline.delta_share": statistics.mean(r[2]["n_delta"] / r[2]["n_raw"] for r in self.results),
        }


WORKLOADS = {w.name: w for w in (DashboardServing, Ingest, Corpus, GatesCold)}

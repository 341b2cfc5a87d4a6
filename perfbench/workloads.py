"""The benchmark's workloads: set-up, timed passes, output checks and the
per-layer metrics of a traced pass.

Both classes expose ``setup()``, ``run_passes(seconds, tracer)`` (at least
``min_passes`` passes, then more until ``seconds`` have elapsed),
``layer_metrics`` and the ``attempted`` / ``failed`` tallies of their
output checks. Inputs come from the star corpus under ``perfbench/data``.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from collections import Counter
from urllib.parse import quote

import gen
from store import canonical, digest_rows

from cnics_to_fhir_spark.assembly import resources as R
from cnics_to_fhir_spark.config import JobSpec, Settings
from cnics_to_fhir_spark.job import run_job
from cnics_to_fhir_spark.load.http_writer import WriterConfig, write_action_plan
from cnics_to_fhir_spark.operators.merge import action_counts
from cnics_to_fhir_spark.sources.fhir import snapshot_via_http

# identifier[0].system base per resource type; the site name completes it
SYSTEMS = {
    "Patient": R.SITE_PATIENT_ID_BASE,
    "Condition": R.DX_RECORD_ID_BASE,
    "MedicationRequest": R.MED_RECORD_ID_BASE,
    "Observation": R.LAB_RECORD_ID_BASE,
}
SOURCE_TABLES = (
    "Patient", "Demographic", "Diagnosis", "Medication", "Lab", "Pro",
    "ProPatients", "ProSessions", "Crosswalk", "StandardDiagnoses",
)
ACTIONS = ("insert", "update", "delete")
# star corpora (copies of the engine's read-only test corpus), one per scale
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
# the writer runs with WriterConfig defaults except base_url and this
BUNDLE_SIZE = 100
# snapshot search page size
PAGE_SIZE = 1000
# Spark counts of one traced phase, with units
PHASE_COUNTS = {
    "jobs": "count", "stages": "count", "tasks": "count", "shuffle_bytes": "B",
    "spill_bytes": "B", "executor_s": "s", "driver_gap_s": "s",
}


class _Steps:
    """Prints the duration of each set-up step as a ``#`` line."""

    def __init__(self) -> None:
        self.t = time.time()

    def __call__(self, step: str) -> None:
        now = time.time()
        print(f"# setup step {step}: {now - self.t:.2f}s", flush=True)
        self.t = now


class _NoTrace:
    @staticmethod
    def span(name, group=None):
        return contextlib.nullcontext()


@contextlib.contextmanager
def _phase(res: dict, tracer, name: str, group: str | None = None):
    """Times one phase of a pass into ``res["phase_s"]``, inside the
    tracer's span when there is one."""
    t = time.time()
    with (tracer or _NoTrace).span(name, group=group):
        yield
    res["phase_s"][name] = time.time() - t


def summary(passes: list[dict]) -> tuple[float, float]:
    """``run_s``: the sum over a pass's phases (sync) or entries (catalog)
    of each one's median wall time across the passes, so a stall in one
    phase of one pass does not move it; and the pass output (writes the
    store acknowledged, or result rows) per second of ``run_s``."""
    names = {n for p in passes for n in p["phase_s"]}
    run_s = sum(_median(p["phase_s"][n] for p in passes if n in p["phase_s"]) for n in names)
    return run_s, _median(p["out"] for p in passes) / run_s


def _timed_loop(seconds: float, min_passes: int, one_pass) -> list[dict]:
    out, t0 = [], time.time()
    while len(out) < min_passes or time.time() - t0 < seconds:
        out.append(one_pass())
    return out


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _spans_of(tracer, name: str) -> list:
    return [s for s in tracer.spans if s.name == name]


class SyncBench:
    def __init__(self, spark, store, work: str, seed: int, cfg: dict) -> None:
        self.spark, self.store, self.work, self.seed, self.cfg = spark, store, work, seed, cfg
        self.job = JobSpec(sites=tuple(cfg["sites"]), db_name="cnics",
                           resources=("conditions", "medicationrequests", "observations"))
        self.writer = WriterConfig(base_url=store.url, bundle_size=BUNDLE_SIZE)
        self.attempted = self.failed = 0

    # -- inputs ----------------------------------------------------------------
    def setup(self) -> None:
        """Generate the inputs, seed the store with the converged state
        and save it, then make the warm-up pass (``plan_once``)."""
        cfg, t = self.cfg, _Steps()
        day0 = gen.cnics_tables(self.seed, os.path.join(DATA, cfg["star"]), lab_share=cfg["lab_share"])
        self.day0 = gen.write_tables(day0, os.path.join(self.work, "day0"))
        t("generate")
        day1 = gen.churn(self.seed, day0, **cfg["churn"])
        self.source = gen.write_tables(day1, os.path.join(self.work, "day1"))
        t("churn")
        self.seed_converged(self.day0, day0["Patient"])
        self.store.admin("save", b"")
        self.base = {(r["resourceType"], r["id"]): r for r in self.store.admin("dump")}
        t("seed converged store")
        self.plan_once(expected_actions(day1, self.base, self.job.sites))
        t("warm-up pass and action plan")

    def seed_converged(self, src: str, patients) -> None:
        """Load the store with the state an initial load followed by one
        re-sync of ``src`` converges to, from a single plan: a snapshot that
        lists every source patient (server ids 1..n) makes ``run_job`` emit
        the re-sync's Patient bodies and clinical bodies with resolved
        subject references. The writer loads it (PUT for the patients,
        POST for the rest), which also warms up the write path."""
        from pyspark.sql import functions as F

        from cnics_to_fhir_spark.schemas import FHIR_SNAPSHOT

        keys = sorted((b.decode(), site) for b, site in zip(
            patients["SitePatientId"].to_pylist(), patients["Site"].to_pylist()) if site in self.job.sites)
        snap = self.spark.createDataFrame(
            [("Patient", str(i), None, SYSTEMS["Patient"] + site, key, True)
             for i, (key, site) in enumerate(keys, start=1)],
            FHIR_SNAPSHOT,
        )
        plan = self.run_job(self.tables(src), snap)
        write_action_plan(plan.filter(F.col("action") != "delete"), self.writer)

    def tables(self, src: str) -> dict:
        """The source tables, read from the parquet files in ``src``."""
        return {n: self.spark.read.parquet(os.path.join(src, f"{n}.parquet")) for n in SOURCE_TABLES}

    def run_job(self, tables: dict, snap):
        """``job.run_job`` without a writer: the action plan the writer
        takes."""
        plan = run_job(self.spark, self.job, Settings(),
                       lambda site: lambda name: snap if name == "Snapshot" else tables[name])
        return plan.drop("site")

    def plan_once(self, expected: dict[tuple[str, str], set[str]]) -> None:
        """The warm-up pass: the re-sync's action plan against the saved
        store, computed once, materialised and collected with its
        ``action_counts``, then written and checked like a timed pass. Its
        business keys per (type, action) must equal ``expected``; its
        action counts and the store state it leads to are what every timed
        pass must reproduce."""
        snap = self.snapshot().cache()
        snap.count()
        plan = self.run_job(self.tables(self.source), snap).cache()
        rows = [r.asDict() for r in plan.collect()]
        self.planned = Counter({r["action"]: r["n"] for r in action_counts(plan).collect()})
        acked = write_action_plan(plan, self.writer)
        plan.unpersist()
        snap.unpersist()
        got: dict[tuple[str, str], set[str]] = {}
        for r in rows:
            got.setdefault((r["resource_type"], r["action"]), set()).add(r["key"])
        bad = sum(len(got.get(k, set()) ^ expected.get(k, set())) for k in set(got) | set(expected))
        self.want, self.unchanged_update_share = apply_plan(self.base, rows)
        self.per_type = Counter(r["resource_type"] for r in rows)
        self.n_actions = len(rows)
        self.attempted += len(rows)
        self.failed += min(bad, len(rows))
        self._check({"acked": acked})

    def snapshot(self):
        """The store's resources of the synced sites, one search shard per
        site per resource type."""
        snap = None
        for rtype, base in SYSTEMS.items():
            part = snapshot_via_http(
                self.spark, self.store.url, rtype, page_size=PAGE_SIZE,
                shards=[f"identifier={quote(base + s, safe='')}%7C" for s in self.job.sites],
            )
            snap = part if snap is None else snap.unionByName(part)
        return snap

    # -- one pass ------------------------------------------------------------
    def one_pass(self, src: str, tracer=None) -> dict:
        """One sync of ``src``: the snapshot read (materialised once, as
        every site plan reads it), ``run_job`` without a writer, and
        ``write_action_plan`` over the plan, so the pipelines run inside
        the writer's tasks as they do under ``run_job(writer_cfg=...)``.
        A traced pass materialises the plan first (``plan_exec``) to time
        the pipelines apart from the writes."""
        T = tracer or _NoTrace
        stats = [self.store.stats()] if tracer else []
        res: dict = {"phase_s": {}}
        t0 = time.time()
        with T.span("pass"):
            with _phase(res, tracer, "snapshot"):
                snap = self.snapshot().cache()
                res["snapshot_rows"] = snap.count()
            if tracer:
                stats.append(self.store.stats())
            with _phase(res, tracer, "read_sources"):
                tables = self.tables(src)
            with _phase(res, tracer, "plan_build"):
                plan = self.run_job(tables, snap)
            if tracer:
                with _phase(res, tracer, "plan_exec"):
                    plan = plan.cache()
                    plan.count()
                stats.append(self.store.stats())
            with _phase(res, tracer, "write"):
                res["acked"] = write_action_plan(plan, self.writer)
        res["run_s"] = time.time() - t0
        if tracer:
            stats.append(self.store.stats())
            res["store"] = stats
        plan.unpersist()
        snap.unpersist()
        res["out"] = sum(res["acked"][a] for a in ACTIONS)
        return res

    # -- checks --------------------------------------------------------------
    def _check(self, res: dict) -> None:
        """Writes acknowledged equal the actions planned at set-up
        (``action_counts``), with no failures; the store holds exactly the
        saved state with that plan applied, keys and bodies."""
        acked = res["acked"]
        bad = acked["failed"] + sum(abs(self.planned[a] - acked[a]) for a in ACTIONS)
        have = self.store.admin("digest")
        for rtype in set(have) | set(self.want):
            if have.get(rtype) != self.want.get(rtype):
                bad += max(self.per_type[rtype], 1)
        self.attempted += self.n_actions
        self.failed += min(bad, self.n_actions)

    def run_passes(self, seconds: float, tracer=None) -> list[dict]:
        """Checked passes, each from the saved store state."""
        def one():
            self.store.admin("restore", b"")
            if tracer:
                tracer.pass_id += 1
            t0 = time.time()
            try:
                res = self.one_pass(self.source, tracer=tracer)
            except Exception as exc:  # noqa: BLE001 — a failed pass counts, the run goes on
                self.attempted += self.n_actions
                self.failed += self.n_actions
                print(f"# pass failed: {exc!r}"[:500])
                wall = time.time() - t0
                return {"run_s": wall, "phase_s": {"failed": wall}, "out": 0, "failed": True}
            self._check(res)
            return res

        return _timed_loop(seconds, self.cfg["min_passes"], one)

    # -- per-layer metrics -----------------------------------------------------
    def layer_metrics(self, passes: list[dict], tracer) -> dict[str, float]:
        passes = [p for p in passes if not p.get("failed")]
        if not passes:
            return {}

        def phase(name: str, key: str) -> float:
            return _median(s.counts.get(key, 0) for s in _spans_of(tracer, name))

        def wall(name: str) -> float:
            return _median(s.wall for s in _spans_of(tracer, name))

        def store_delta(key: str, i: int = 0, j: int = -1) -> float:
            return _median(p["store"][j][key] - p["store"][i][key] for p in passes)

        acked = {a: _median(p["acked"][a] for p in passes) for a in (*ACTIONS, "failed")}
        written = sum(acked[a] for a in ACTIONS)
        requests = store_delta("requests", 2, 3)
        m = {
            "job.plan_build_s": wall("plan_build"),
            "job.plan_build_jobs": phase("plan_build", "jobs"),
            "sources.snapshot_s": wall("snapshot"),
            "sources.snapshot_rows": _median(p["snapshot_rows"] for p in passes),
            "sources.snapshot_requests": store_delta("requests", 0, 1),
            "sources.snapshot_jobs": phase("snapshot", "jobs"),
            "sources.read_s": wall("read_sources"),
            "sources.read_jobs": phase("read_sources", "jobs"),
            "pipelines.exec_s": wall("plan_exec"),
            **{f"pipelines.{k}": phase("plan_exec", k) for k in PHASE_COUNTS},
            **{f"merge.{a}": self.planned[a] for a in ACTIONS},
            "merge.unchanged_update_share": self.unchanged_update_share,
            "http_writer.write_s": wall("write"),
            "http_writer.jobs": phase("write", "jobs"),
            "http_writer.requests": requests,
            "http_writer.entries_per_request": written / max(requests, 1),
            "http_writer.acked": written,
            "http_writer.failed": acked["failed"],
            "trace.pass_self_s": _median(tracer.self_time(s) for s in _spans_of(tracer, "pass")),
        }
        m.update({f"store.{k}": store_delta(k) for k in ("busy_s", "requests", "bytes_in", "bytes_out")})
        return m


def expected_actions(tables: dict, base: dict, sites) -> dict[tuple[str, str], set[str]]:
    """Key-level oracle of the merge: per (resource type, action), the
    business keys a sync of ``tables`` against the store state ``base``
    must plan. Mirrors the extract rules only (page = patients of the sites
    with a demographic row; clinical rows of page patients that are not
    historical and have a name), not the resource bodies."""
    pat = tables["Patient"].to_pydict()
    with_demo = set(tables["Demographic"]["PatientId"].to_pylist())
    page = {pid: sp.decode() for pid, sp, site in zip(pat["PatientId"], pat["SitePatientId"], pat["Site"])
            if site in sites and pid in with_demo}
    current = {"Patient": set(page.values())}
    for rtype, name, col in (("Condition", "Diagnosis", "DiagnosisName"),
                             ("MedicationRequest", "Medication", "MedicationName"),
                             ("Observation", "Lab", "TestName")):
        t = tables[name].to_pydict()
        current[rtype] = {
            key.decode() if isinstance(key, bytes) else key
            for key, pid, hist, label in zip(t["SiteRecordId"], t["PatientId"], t["Historical"], t[col])
            if pid in page and hist != "Yes" and label
        }
    existing: dict[str, set[str]] = {}
    for (rtype, _), res in base.items():
        existing.setdefault(rtype, set()).add(res["identifier"][0]["value"])
    out = {}
    for rtype, cur in current.items():
        old = existing.get(rtype, set())
        out.update({(rtype, "insert"): cur - old, (rtype, "update"): cur & old, (rtype, "delete"): old - cur})
    return {k: v for k, v in out.items() if v}


def apply_plan(base: dict, plan: list) -> tuple[dict, float]:
    """Digest of ``base`` (store dump keyed by (type, id)) with the plan
    applied, and the share of updates that re-send the stored body."""
    state = {k: (res["identifier"][0]["value"], res) for k, res in base.items()}
    new, unchanged, updates = [], 0, 0
    for r in plan:
        t, a = r["resource_type"], r["action"]
        if a == "delete":
            state.pop((t, r["id"]), None)
        elif a == "update":
            res = json.loads(r["body_json"])
            old = state.get((t, r["id"]))
            updates += 1
            unchanged += old is not None and canonical(old[1]) == canonical(res)
            state[(t, r["id"])] = (r["key"], res)
        else:
            new.append((t, r["key"], json.loads(r["body_json"])))
    digest = digest_rows([(t, key, res) for (t, _), (key, res) in state.items()] + new)
    return digest, unchanged / updates if updates else 0.0


class CatalogBench:
    def __init__(self, spark, work: str, cfg: dict) -> None:
        from cnics_to_fhir_spark.plans import catalog

        self.spark, self.work, self.cfg = spark, work, cfg
        self.entries = {n: catalog()[n] for n in cfg["entries"]}
        self.attempted = self.failed = 0
        self.rows: dict[str, int] = {}

    def setup(self) -> None:
        """Run every entry once on the star corpus (the warm-up),
        hash-matching oracle-bearing entries against DuckDB."""
        import duckdb
        from selfcheck import normalize, value_hash

        step = _Steps()
        self.sf_dir = os.path.join(DATA, self.cfg["star"])
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{os.path.join(self.work, 'tmp', 'duckdb')}'")
        for f in sorted(os.listdir(self.sf_dir)):
            name = f.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{self.sf_dir}/{f}')")
        for name, e in self.entries.items():
            self.attempted += 1
            try:
                sdf = e.spark(self.spark, self.sf_dir).toPandas()
                self.rows[name] = len(sdf)
                if e.oracle is not None:
                    odf = con.execute(e.oracle).fetchdf()
                    s_n, o_n = normalize(sdf), normalize(odf)
                    if (len(s_n) != len(o_n) or list(s_n.columns) != list(o_n.columns)
                            or value_hash(s_n) != value_hash(o_n)):
                        raise AssertionError("result does not hash-match the DuckDB oracle")
            except Exception as exc:  # noqa: BLE001 — a failed check counts, the run goes on
                self.failed += 1
                self.rows.setdefault(name, -1)
                print(f"# {name}: check failed: {exc!r}"[:500])
        con.close()
        step("warm-up pass with oracle checks")

    def one_pass(self, tracer=None) -> dict:
        T = tracer or _NoTrace
        res = {"out": 0, "phase_s": {}}
        t0 = time.time()
        with T.span("pass"):
            for name, e in self.entries.items():
                self.attempted += 1
                try:
                    with _phase(res, tracer, name, group=name):
                        n = e.spark(self.spark, self.sf_dir).count()
                    ok = n == self.rows[name]
                except Exception as exc:  # noqa: BLE001
                    print(f"# {name}: failed: {exc!r}"[:500])
                    n, ok = 0, False
                self.failed += not ok
                res["out"] += n
        res["run_s"] = time.time() - t0
        return res

    def run_passes(self, seconds: float, tracer=None) -> list[dict]:
        def one():
            if tracer:
                tracer.pass_id += 1
            return self.one_pass(tracer)

        return _timed_loop(seconds, self.cfg["min_passes"], one)

    def layer_metrics(self, passes: list[dict], tracer) -> dict[str, float]:
        m = {}
        gap = unattributed = 0.0
        for name in self.entries:
            spans = _spans_of(tracer, name)
            m[f"catalog.{name}.s"] = _median(s.wall for s in spans)
            m[f"catalog.{name}.jobs"] = _median(s.counts["jobs"] for s in spans)
            m[f"catalog.{name}.shuffle_bytes"] = _median(s.counts["shuffle_bytes"] for s in spans)
            gap += _median(s.counts["driver_gap_s"] for s in spans)
            unattributed += _median(s.counts["ungrouped"] for s in spans)
        m["catalog.driver_gap_s"] = gap
        m["catalog.unattributed_jobs"] = unattributed
        return m


def per_layer_units(catalog_entries) -> dict[str, str]:
    """Every per-layer metric name with its unit. A traced run reports all
    of them; a layer the workload does not exercise reads 0."""
    units = {
        "job.plan_build_s": "s", "job.plan_build_jobs": "count",
        "sources.snapshot_s": "s", "sources.snapshot_rows": "count",
        "sources.snapshot_requests": "count", "sources.snapshot_jobs": "count",
        "sources.read_s": "s", "sources.read_jobs": "count",
        "pipelines.exec_s": "s", **{f"pipelines.{k}": u for k, u in PHASE_COUNTS.items()},
        "merge.insert": "count", "merge.update": "count", "merge.delete": "count",
        "merge.unchanged_update_share": "ratio",
        "http_writer.write_s": "s", "http_writer.jobs": "count", "http_writer.requests": "count",
        "http_writer.entries_per_request": "count", "http_writer.acked": "count",
        "http_writer.failed": "count",
        "store.busy_s": "s", "store.requests": "count", "store.bytes_in": "B", "store.bytes_out": "B",
        "trace.pass_self_s": "s",
    }
    for name in catalog_entries:
        units.update({f"catalog.{name}.s": "s", f"catalog.{name}.jobs": "count",
                      f"catalog.{name}.shuffle_bytes": "B"})
    units.update({"catalog.driver_gap_s": "s", "catalog.unattributed_jobs": "count",
                  "tracing_overhead_s": "s", "failed_share": "ratio", "peak_rss_mib": "MiB"})
    return units

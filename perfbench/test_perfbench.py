"""The benchmark's own tests: generator determinism, the stand-in store's
bundle and paging semantics, metric and workload names against
``BENCHMARK.json``, the converged-store seeding, and a tiny sf0.001 smoke
pass of each workload, run in-process. Run from the checkout root:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import urllib.request

import pytest

import gen
import run
import store as store_mod
import workloads

ROOT = run.ROOT
CONFIG = run.load_config()
# the smallest star corpus, for the smoke passes
SMOKE = os.path.join(workloads.DATA, "sf0.001")


# -- generator ---------------------------------------------------------------

def test_generator_is_deterministic_per_seed():
    a, b, c = (gen.cnics_tables(s, SMOKE) for s in (7, 7, 8))
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["Demographic"].equals(c["Demographic"]) and not a["Lab"].equals(c["Lab"])
    assert all(x.equals(y) for x, y in zip(gen.churn(7, a).values(), gen.churn(7, b).values()))


def test_generator_covers_every_site_plan_table():
    t = gen.cnics_tables(1, SMOKE)
    assert set(t) == set(workloads.SOURCE_TABLES)
    sites = t["Patient"]["Site"].to_pylist()
    assert set(sites) == set(gen.SITES) and len(set(map(sites.count, gen.SITES))) == 1
    assert len(t["Crosswalk"]) > 0 and len(t["Lab"]) > 0


def test_churn_removes_adds_and_changes_records():
    day0 = gen.cnics_tables(3, SMOKE)
    day1 = gen.churn(3, day0, removed=0.05, added=0.05, changed=0.10)
    k0 = set(day0["Diagnosis"]["SiteRecordId"].to_pylist())
    k1 = set(day1["Diagnosis"]["SiteRecordId"].to_pylist())
    n = len(k0)
    assert 0.02 * n < len(k0 - k1) < 0.08 * n
    assert len(k1 - k0) == round(0.05 * n)
    names0 = dict(zip(day0["Diagnosis"]["SiteRecordId"].to_pylist(), day0["Diagnosis"]["DiagnosisName"].to_pylist()))
    changed = sum(names0[k] != v for k, v in zip(
        day1["Diagnosis"]["SiteRecordId"].to_pylist(), day1["Diagnosis"]["DiagnosisName"].to_pylist()) if k in names0)
    assert 0.05 * n < changed < 0.15 * n


# -- stand-in store ------------------------------------------------------------

@pytest.fixture()
def fhir_store():
    s = run.Store()
    yield s
    s.close()


def _post(url: str, obj) -> dict:
    req = urllib.request.Request(url, data=json.dumps(obj).encode(),
                                 headers={"Content-Type": "application/fhir+json"})
    with urllib.request.urlopen(req) as resp:
        return json.loads(resp.read())


def _get(url: str) -> dict:
    with urllib.request.urlopen(url) as resp:
        return json.loads(resp.read())


def _cond(key: str, site: str = "uw", **extra) -> dict:
    return {"resourceType": "Condition",
            "identifier": [{"system": f"https://sys/{site}", "value": key}], **extra}


def test_store_transaction_bundle_semantics(fhir_store):
    url = fhir_store.url
    post = lambda res: {"resource": res, "request": {  # noqa: E731
        "method": "POST", "url": "Condition", "ifNoneExist": f"identifier={res['identifier'][0]['value']}"}}
    out = _post(url, {"resourceType": "Bundle", "type": "transaction",
                      "entry": [post(_cond("a")), post(_cond("b")), post(_cond("a"))]})
    statuses = [e["response"]["status"] for e in out["entry"]]
    assert statuses == ["201 Created", "201 Created", "200 OK"]  # conditional create
    ids = {e["response"]["location"] for e in out["entry"]}
    assert len(ids) == 2
    rid_a = out["entry"][0]["response"]["location"].split("/")[1]
    rid_b = out["entry"][1]["response"]["location"].split("/")[1]
    out = _post(url, {"resourceType": "Bundle", "type": "transaction", "entry": [
        {"resource": _cond("a", note="v2"), "request": {"method": "PUT", "url": f"Condition/{rid_a}"}},
        {"request": {"method": "DELETE", "url": f"Condition/{rid_b}?_cascade=delete"}},
    ]})
    assert all(e["response"]["status"].startswith("2") for e in out["entry"])
    dump = fhir_store.admin("dump")
    assert dump == [dict(_cond("a", note="v2"), id=rid_a)]
    assert fhir_store.admin("digest") == store_mod.digest_rows([("Condition", "a", _cond("a", note="v2"))])
    stats = fhir_store.stats()
    assert stats["requests"] == 2 and stats["bytes_in"] > 0 and stats["busy_s"] > 0


def _create(url: str, *resources) -> dict:
    return _post(url, {"resourceType": "Bundle", "type": "batch", "entry": [
        {"resource": r, "request": {"method": "POST", "url": r["resourceType"]}} for r in resources]})


def test_store_save_restore(fhir_store):
    _create(fhir_store.url, _cond("a"))
    fhir_store.admin("save", b"")
    _create(fhir_store.url, _cond("b"))
    assert len(fhir_store.admin("dump")) == 2
    fhir_store.admin("restore", b"")
    assert [r["identifier"][0]["value"] for r in fhir_store.admin("dump")] == ["a"]
    fhir_store.admin("reset", b"")
    assert fhir_store.admin("dump") == []


def test_store_search_pages_per_site(fhir_store):
    _create(fhir_store.url, *[_cond(f"u{i}", "uw") for i in range(7)], *[_cond(f"j{i}", "jh") for i in range(3)])
    url = f"{fhir_store.url}/Condition?_format=json&_count=3&identifier=https%3A%2F%2Fsys%2Fuw%7C"
    keys, pages = [], 0
    while url:
        page = _get(url)
        pages += 1
        assert page["total"] == 7 and len(page["entry"]) <= 3
        keys += [e["resource"]["identifier"][0]["value"] for e in page["entry"]]
        url = next((lk["url"] for lk in page["link"] if lk["relation"] == "next"), None)
    assert pages == 3 and keys == [f"u{i}" for i in range(7)]
    assert _get(f"{fhir_store.url}/Condition?_count=100")["total"] == 10


# -- names ---------------------------------------------------------------------

def test_names_match_benchmark_json():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in bench["workloads"]} <= set(CONFIG["workloads"])
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    units = workloads.per_layer_units(CONFIG["workloads"]["catalog_heavy"]["entries"])
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == units
    assert len(bench["per_layer"]) <= 128


# -- sync semantics ------------------------------------------------------------

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    session = run.start_spark(str(tmp_path_factory.mktemp("spark")))
    yield session
    run.stop_spark(session)


def _normalized(dump: list) -> list[str]:
    """Store contents with server ids replaced by business keys."""
    pat = {r["id"]: r["identifier"][0]["value"] for r in dump if r["resourceType"] == "Patient"}
    out = []
    for r in dump:
        r = {k: v for k, v in r.items() if k != "id"}
        ref = (r.get("subject") or {}).get("reference", "")
        if ref.startswith("Patient/") and ref[8:] in pat:
            r["subject"] = {"reference": "Patient/" + pat[ref[8:]]}
        out.append(json.dumps(r, sort_keys=True))
    return sorted(out)


def test_converged_seed_equals_initial_load_plus_resync(tmp_path, spark, fhir_store):
    cfg = dict(CONFIG["workloads"]["sync_resync"], star="sf0.001")
    bench = workloads.SyncBench(spark, fhir_store, str(tmp_path), 5, cfg)
    tables = gen.cnics_tables(5, SMOKE, lab_share=cfg["lab_share"])
    src = gen.write_tables(tables, str(tmp_path / "src"))
    bench.one_pass(src)
    bench.one_pass(src)
    two_passes = fhir_store.admin("dump")
    fhir_store.admin("reset", b"")
    bench.seed_converged(src, tables["Patient"])
    seeded = fhir_store.admin("dump")
    assert len(two_passes) > 100
    assert not any("urn:pending:" in json.dumps(r) for r in two_passes)
    assert _normalized(seeded) == _normalized(two_passes)


# -- smoke passes --------------------------------------------------------------

def _smoke_bench(workload: str, spark, store, work: str):
    cfg = dict(CONFIG["workloads"][workload], star="sf0.001", min_passes=1)
    if cfg["kind"] == "sync":
        return workloads.SyncBench(spark, store, work, 1, cfg)
    return workloads.CatalogBench(spark, work, dict(cfg, entries=cfg["entries"][:3]))


@pytest.mark.parametrize("workload", sorted(CONFIG["workloads"]))
def test_smoke_pass(workload, tmp_path, spark, fhir_store):
    bench = _smoke_bench(workload, spark, fhir_store, str(tmp_path))
    result = run.measure(spark, bench, 0, 0, str(tmp_path / "trace.jsonl"))
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())
    json.dumps(result)


def test_traced_smoke_pass_reports_every_layer(tmp_path, spark, fhir_store):
    bench = _smoke_bench("sync_resync", spark, fhir_store, str(tmp_path))
    result = run.measure(spark, bench, 0, 1, str(tmp_path / "trace.jsonl"))
    assert result["correct"]
    units = workloads.per_layer_units(CONFIG["workloads"]["catalog_heavy"]["entries"])
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["job.plan_build_jobs"] == 0 and m["pipelines.jobs"] > 0
    assert m["http_writer.acked"] == m["merge.insert"] + m["merge.update"] + m["merge.delete"]
    assert m["merge.delete"] > 0 and m["merge.insert"] > 0 and m["sources.snapshot_rows"] > 0
    spans = [json.loads(line) for line in open(tmp_path / "trace.jsonl")]
    assert {s["name"] for s in spans} == {"pass", "snapshot", "read_sources", "plan_build", "plan_exec", "write"}


def test_reap_descendants_ends_orphaned_grandchildren():
    # the shell exits at once and leaves its background sleep orphaned,
    # as the JVM leaves its Python workers
    code = (
        "import subprocess, time, run\n"
        "run.become_subreaper()\n"
        "out = subprocess.run(['sh', '-c', 'sleep 60 >/dev/null 2>&1 & echo $!'],\n"
        "                     capture_output=True, text=True).stdout\n"
        "t = time.time()\n"
        "run.reap_descendants(grace_s=0.5)\n"
        "print(int(out), time.time() - t)\n"
    )
    env = dict(os.environ, PYTHONPATH=os.path.dirname(run.__file__))
    proc = subprocess.run([sys.executable, "-c", code], env=env, capture_output=True,
                          text=True, timeout=60, check=True)
    pid, waited = proc.stdout.split()
    assert not os.path.exists(f"/proc/{pid}")
    assert float(waited) < 10


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    # start_spark exports PYTHONPATH=<checkout> in this process; the child
    # must find the engine only through its own checkout
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "sync_resync", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert not proc.stdout.strip()

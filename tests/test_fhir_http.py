"""S6 — partition-parallel FHIR snapshot fetch against a paginating mock
server.

The reference fetches every page through one serial cursor and dodges
pagination entirely with ``_count=50000`` (cnics_to_fhir.py:215-217). Our
``snapshot_via_http`` shards the search (e.g. per site / per _lastUpdated
range) so each shard's ``next``-link chain walks on its own Spark task.
local[*] executors share the process, so a threaded http.server is
reachable from mapInPandas workers; the handler records the serving thread
per request so the test can prove more than one task fetched.
"""

from __future__ import annotations

import http.server
import json
import threading
from urllib.parse import parse_qs, urlparse

import pytest

from cnics_to_fhir_spark.sources.fhir import (
    lastupdated_shards,
    site_shards,
    snapshot_via_http,
)

pytest.importorskip("requests")

# 37 resources across two sites — with page size 5, site 'a' has 4 pages
# and site 'b' has 4 pages, so every shard genuinely paginates.
DATASET = [
    {"resourceType": "Condition", "id": f"c{i}",
     "subject": {"reference": f"Patient/p{i}"},
     "identifier": [{"system": "urn:cnics", "value": f"{'a' if i % 2 else 'b'}-{i}"}],
     "_site": "a" if i % 2 else "b"}
    for i in range(37)
]


class _PagingHandler(http.server.BaseHTTPRequestHandler):
    # shard -> set of client task partition ids (X-Task-Partition header)
    fetching_tasks: dict[str, set[str]] = {}
    base_url: str = ""

    def do_GET(self):
        q = parse_qs(urlparse(self.path).query)
        site = q.get("site", [None])[0]
        count = int(q.get("_count", ["5"])[0])
        offset = int(q.get("_offset", ["0"])[0])
        rows = [r for r in DATASET if site is None or r["_site"] == site]
        page = rows[offset : offset + count]
        shard_key = site or "__all__"
        _PagingHandler.fetching_tasks.setdefault(shard_key, set()).add(
            self.headers.get("X-Task-Partition", "?")
        )
        bundle = {
            "total": len(rows),
            "entry": [{"resource": {k: v for k, v in r.items() if k != "_site"}}
                      for r in page],
            "link": [],
        }
        if offset + count < len(rows):
            nxt = (f"{_PagingHandler.base_url}/Condition?_format=json"
                   f"&_count={count}&_offset={offset + count}")
            if site:
                nxt += f"&site={site}"
            bundle["link"].append({"relation": "next", "url": nxt})
        body = json.dumps(bundle).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/fhir+json")
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):  # silence
        pass


def _serve(handler):
    """Start a threaded server for ``handler`` and point its base_url at it."""
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    handler.base_url = f"http://127.0.0.1:{srv.server_address[1]}"
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


@pytest.fixture()
def mock_fhir():
    _PagingHandler.fetching_tasks = {}
    srv = _serve(_PagingHandler)
    yield _PagingHandler.base_url
    srv.shutdown()


def test_sharded_fetch_matches_serial(spark, mock_fhir):
    serial = snapshot_via_http(spark, mock_fhir, "Condition", page_size=5)
    sharded = snapshot_via_http(
        spark, mock_fhir, "Condition", page_size=5, shards=["site=a", "site=b"]
    )
    s_rows = sorted(r["id"] for r in serial.collect())
    p_rows = sorted(r["id"] for r in sharded.collect())
    assert s_rows == p_rows == sorted(f"c{i}" for i in range(37))


def test_shards_fetch_on_separate_tasks(spark, mock_fhir):
    # trace_tasks is the opt-in debug header; production default sends none
    sharded = snapshot_via_http(
        spark, mock_fhir, "Condition", page_size=5, shards=["site=a", "site=b"],
        trace_tasks=True,
    )
    # one mapInPandas partition per shard
    assert sharded.rdd.getNumPartitions() == 2
    rows = sharded.collect()
    assert len(rows) == 37
    # both shard chains were walked, each by its own Spark task — i.e. the
    # fetch was partition-parallel, not one serial cursor
    assert set(_PagingHandler.fetching_tasks) == {"a", "b"}
    all_tasks = set().union(*_PagingHandler.fetching_tasks.values())
    assert len(all_tasks) >= 2
    # and each shard's chain stayed on a single task (no page re-fetch)
    assert all(len(v) == 1 for v in _PagingHandler.fetching_tasks.values())


def test_pagination_walks_all_next_links(spark, mock_fhir):
    # 37 rows at page size 5 → 8 pages on the unsharded chain
    df = snapshot_via_http(spark, mock_fhir, "Condition", page_size=5)
    assert df.count() == 37
    assert {r["resource_type"] for r in df.collect()} == {"Condition"}


def test_shard_helpers():
    lu = lastupdated_shards(["2020-01-01", "2021-01-01"])
    assert lu == [
        "_lastUpdated=lt2020-01-01",
        "_lastUpdated=ge2020-01-01&_lastUpdated=lt2021-01-01",
        "_lastUpdated=ge2021-01-01",
    ]
    assert site_shards(["uw"], "urn:cnics") == ["identifier=urn:cnics%7Cuw*"]
    with pytest.raises(ValueError, match="non-empty"):
        lastupdated_shards([])


def test_sharded_snapshot_runs_without_a_shuffle(spark, mock_fhir):
    # the shard seeds are one RDD slice each, so the fetch is a single stage
    sharded = snapshot_via_http(
        spark, mock_fhir, "Condition", page_size=5, shards=["site=a", "site=b"]
    )
    assert len(sharded.collect()) == 37
    plan = sharded._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


# Pages covering the row rules' edge cases: a resource without identifier,
# an empty identifier list, a resource without subject, an entry without
# resource, and a bundle without entry (page 1).
EDGE_PAGES = [
    {
        "resourceType": "Bundle",
        "entry": [
            {"resource": {"resourceType": "Condition", "id": "full",
                          "subject": {"reference": "Patient/p1"},
                          "identifier": [{"system": "urn:s", "value": "v1"},
                                         {"system": "urn:t", "value": "v2"}],
                          "meta": {"lastUpdated": "2024-01-02T00:00:00Z"}}},
            {"resource": {"resourceType": "Condition", "id": "no-ident",
                          "subject": {"reference": "Patient/p2"}}},
            {"resource": {"resourceType": "Condition", "id": "empty-ident",
                          "subject": {"reference": "Patient/p3"}, "identifier": []}},
            {"resource": {"resourceType": "Condition", "id": "no-subject",
                          "identifier": [{"system": "urn:s", "value": "v4"}]}},
            {"fullUrl": "urn:uuid:no-resource"},
        ],
    },
    {"resourceType": "Bundle", "total": 0},
    {
        "resourceType": "Bundle",
        "entry": [{"resource": {"resourceType": "Condition", "id": "last",
                                "subject": {"reference": "Patient/p5"},
                                "identifier": [{"value": "v5"}]}}],
    },
]


class _EdgeHandler(http.server.BaseHTTPRequestHandler):
    base_url: str = ""

    def do_GET(self):
        page = int(parse_qs(urlparse(self.path).query).get("page", ["0"])[0])
        bundle = dict(EDGE_PAGES[page])
        if page + 1 < len(EDGE_PAGES):
            bundle["link"] = [{"relation": "next",
                               "url": f"{_EdgeHandler.base_url}/Condition?page={page + 1}"}]
        body = json.dumps(bundle).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/fhir+json")
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):  # silence
        pass


@pytest.fixture()
def edge_store():
    srv = _serve(_EdgeHandler)
    yield _EdgeHandler.base_url
    srv.shutdown()


def _sorted_rows(rows) -> list[tuple]:
    return sorted((tuple(r) for r in rows), key=repr)


def test_http_rows_match_bundle_parse_on_edge_cases(spark, edge_store):
    from cnics_to_fhir_spark.sources.fhir import snapshot_from_bundles
    from cnics_to_fhir_spark.sources.fhir_datasource import (
        FhirSnapshotDataSource,
        FhirUpdatesStreamReader,
    )

    via_http = snapshot_via_http(spark, edge_store, "Condition")
    bundles = spark.createDataFrame([(json.dumps(p),) for p in EDGE_PAGES], "bundle_json string")
    via_bundles = snapshot_from_bundles(bundles)
    assert via_http.columns == via_bundles.columns
    expected = _sorted_rows(via_bundles.collect())
    assert _sorted_rows(via_http.collect()) == expected
    assert len(expected) == 6
    by_id = {r[1]: r for r in expected}
    assert by_id["full"][3:6] == ("urn:s", "v1", True)  # identifier[0] only
    assert by_id["no-ident"][3:6] == (None, None, False)
    assert by_id["empty-ident"][3:6] == (None, None, True)  # the array exists
    assert by_id["no-subject"][2] is None
    assert by_id[None] == (None,) * 5 + (False,)  # the entry without resource

    # the data source and the stream reader walk the same pages the same way
    spark.dataSource.register(FhirSnapshotDataSource)
    via_ds = (
        spark.read.format("fhir_snapshot").option("url", edge_store)
        .option("pushdown", "false").load()
    )
    assert _sorted_rows(via_ds.drop("last_updated").collect()) == expected
    stream = FhirUpdatesStreamReader({"url": edge_store})
    polled = stream._fetch("_lastUpdated=gt1970-01-01T00:00:00Z")
    assert _sorted_rows(r[:-1] for r in polled) == expected
    assert {r[-1] for r in polled} == {None, "2024-01-02T00:00:00Z"}

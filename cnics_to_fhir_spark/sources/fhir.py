"""S5/S6 — FHIR store snapshot sources.

The reference issues one GET per patient per resource type (N+1,
cnics_to_fhir.py:354, :543, :640, :723). The engine replaces that with bulk
snapshot reads parsed into the FHIR_SNAPSHOT relational shape, so
reconciliation is one join per resource type.

Two paths:
- ``snapshot_from_bundles``: parse FHIR search-set Bundle JSON documents
  (from files/exports/fixtures) — pure from_json/explode, fully columnar.
- ``snapshot_via_http``: partition-parallel GET with pagination via
  mapInPandas, one task per shard with no shuffle; each page is parsed once
  by :func:`walk_snapshot`, which also backs the ``fhir_snapshot`` data
  source (requests gated behind import-try; the 50000-`_count`
  no-pagination hack at cnics_to_fhir.py:215-217 becomes real paging).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cnics_to_fhir_spark.schemas import FHIR_SNAPSHOT

# FHIR_SNAPSHOT with every column nullable, as the from_json parse of
# snapshot_from_bundles yields it: an entry without a resource is a NULL row.
SNAPSHOT_SCHEMA = T.StructType([T.StructField(f.name, f.dataType) for f in FHIR_SNAPSHOT])

# Only the fields reconciliation consumes (identifier[0] + id + subject),
# mirroring FIXTURES.md §4. Everything else in the bundle is pruned at parse.
BUNDLE_SCHEMA = T.StructType(
    [
        T.StructField("total", T.LongType(), True),
        T.StructField(
            "entry",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField(
                            "resource",
                            T.StructType(
                                [
                                    T.StructField("resourceType", T.StringType(), True),
                                    T.StructField("id", T.StringType(), True),
                                    T.StructField(
                                        "subject",
                                        T.StructType(
                                            [T.StructField("reference", T.StringType(), True)]
                                        ),
                                        True,
                                    ),
                                    T.StructField(
                                        "identifier",
                                        T.ArrayType(
                                            T.StructType(
                                                [
                                                    T.StructField("system", T.StringType(), True),
                                                    T.StructField("value", T.StringType(), True),
                                                ]
                                            )
                                        ),
                                        True,
                                    ),
                                ]
                            ),
                            True,
                        )
                    ]
                )
            ),
            True,
        ),
    ]
)


def snapshot_from_bundles(bundles: DataFrame, json_col: str = "bundle_json") -> DataFrame:
    """Bundle JSON strings → FHIR_SNAPSHOT rows.

    Quirk parity: only ``identifier[0]`` is surfaced (cnics_to_fhir.py:556,
    :652, :736); ``has_identifier`` records whether the array existed at all
    (the guard Condition/Observation have but MedicationRequest lacks —
    :555 vs :652; the engine applies the guard uniformly and documents the
    divergence). An empty ``identifier`` list gives NULL system and value
    (``get`` tolerates the missing index that ``[0]`` rejects under ANSI)."""
    parsed = bundles.select(F.from_json(F.col(json_col), BUNDLE_SCHEMA).alias("b"))
    entries = parsed.select(F.explode("b.entry").alias("e")).select("e.resource.*")
    return entries.select(
        F.col("resourceType").alias("resource_type"),
        F.col("id"),
        F.col("subject.reference").alias("subject_ref"),
        F.get("identifier", 0).getField("system").alias("identifier_0_system"),
        F.get("identifier", 0).getField("value").alias("identifier_0_value"),
        F.col("identifier").isNotNull().alias("has_identifier"),
    )


def lastupdated_shards(boundaries: list[str]) -> list[str]:
    """Half-open ``_lastUpdated`` range shards from sorted date boundaries.

    ``["2020-01-01", "2021-01-01", "2022-01-01"]`` → two shards covering
    [2020, 2021) and [2021, 2022), plus open-ended head/tail shards so the
    union is exactly the full corpus regardless of data outside the range.
    """
    if not boundaries:
        raise ValueError(
            "lastupdated_shards: boundaries must be non-empty "
            "(a dynamically-built empty list would otherwise IndexError)"
        )
    shards = [f"_lastUpdated=lt{boundaries[0]}"]
    for lo, hi in zip(boundaries, boundaries[1:]):
        shards.append(f"_lastUpdated=ge{lo}&_lastUpdated=lt{hi}")
    shards.append(f"_lastUpdated=ge{boundaries[-1]}")
    return shards


def site_shards(sites: list[str], system: str) -> list[str]:
    """One identifier-system shard per site — the reference's per-site
    databases (cnics_to_fhir.py:85-104) become disjoint search shards."""
    return [f"identifier={system}%7C{site}*" for site in sites]


def http_session(headers: dict[str, str] | None = None):
    """A ``requests.Session`` for the snapshot readers. The import is
    deferred to the executor so environments without ``requests`` can still
    use the bundle path."""
    try:
        import requests
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError(
            "FHIR snapshot reads need the 'requests' package on executors; "
            "use snapshot_from_bundles over an exported bundle instead"
        ) from e
    session = requests.Session()
    if headers:
        session.headers.update(headers)
    return session


def walk_snapshot(session, url: str, max_pages: int) -> Iterator[tuple]:
    """Walk one search's ``next``-link chain from ``url`` (at most
    ``max_pages`` pages) and yield one FHIR_SNAPSHOT row per entry, in
    ``SNAPSHOT_SCHEMA`` column order, plus ``meta.lastUpdated`` last.

    Each page is parsed once, by ``resp.json()``. The row rules are those of
    :func:`snapshot_from_bundles`: only ``identifier[0]`` is surfaced, and
    ``has_identifier`` means the array exists (an empty one counts)."""
    pages = 0
    while url and pages < max_pages:
        resp = session.get(url)
        resp.raise_for_status()
        bundle = resp.json()
        for entry in bundle.get("entry") or []:
            r = entry.get("resource") or {}
            ident = r.get("identifier")
            first = ident[0] if ident else {}
            yield (
                r.get("resourceType"),
                r.get("id"),
                (r.get("subject") or {}).get("reference"),
                first.get("system"),
                first.get("value"),
                ident is not None,
                (r.get("meta") or {}).get("lastUpdated"),
            )
        pages += 1
        url = next(
            (link.get("url") for link in bundle.get("link") or [] if link.get("relation") == "next"),
            None,
        )


def snapshot_via_http(
    spark: SparkSession,
    base_url: str,
    resource_type: str,
    page_size: int = 1000,
    headers: dict[str, str] | None = None,
    max_pages: int = 10_000,
    shards: list[str] | None = None,
    trace_tasks: bool = False,
) -> DataFrame:
    """Partition-parallel paged GET → FHIR_SNAPSHOT, in one stage: the
    shard URLs are seeded one per RDD slice (no shuffle), and each task
    walks its chain with :func:`walk_snapshot`, emitting snapshot rows
    straight from the parsed pages. Requires ``requests`` at runtime on
    executors.

    ``shards`` is a list of FHIR search-fragment strings whose result sets
    partition the corpus (build with :func:`lastupdated_shards` /
    :func:`site_shards`). Each shard seeds its own task, which walks its own
    ``next``-link chain — so a 1000-executor cluster fetches 1000 page
    chains concurrently instead of the reference's one serial cursor
    (the ``_count=50000`` no-pagination hack, cnics_to_fhir.py:215-217).
    Without shards, one seed → one chain (correct but driver-shaped; fine
    for small stores only)."""
    base = f"{base_url}/{resource_type}?_format=json&_count={page_size}"
    urls = [(f"{base}&{s}",) for s in shards] if shards else [(base,)]
    # one slice per shard: each task walks its own next-chain in parallel
    seed = spark.createDataFrame(spark.sparkContext.parallelize(urls, len(urls)), "url string")

    def fetch(batches: Iterator) -> Iterator:
        import pandas as pd

        from pyspark import TaskContext

        session = http_session(headers)
        # opt-in debug header tracing which task fetched each chain (the
        # test suite uses it to prove shard-parallelism); OFF by default so
        # production fetches send nothing nonstandard to real servers
        if trace_tasks:
            tc = TaskContext.get()
            if tc is not None:
                session.headers["X-Task-Partition"] = str(tc.partitionId())
        for pdf in batches:
            rows = [row[:-1] for url in pdf["url"] for row in walk_snapshot(session, url, max_pages)]
            yield pd.DataFrame.from_records(rows, columns=SNAPSHOT_SCHEMA.fieldNames())

    return seed.mapInPandas(fetch, schema=SNAPSHOT_SCHEMA)

"""Ingest sources (SURVEY.md §2.1 S1-S3): the paginated-REST source
semantics of the reference, re-expressed as testable pure logic plus a
Spark materialization path.

The reference fetches pages driver-side in a while loop
(``lambda_function.py:24-54``): page size 100, stop on non-200 / short
page / ≥500 rows, truncate to 500. Here:

- ``paginate``            — those exact semantics as pure logic with an
  injectable fetcher (no network in tests; a requests-backed fetcher
  would plug straight in).
- ``ingest_rows``         — rows → DataFrame under the explicit A1
  schema (no inference; SURVEY.md §1.4 layer 1).
- ``parallel_fetch_plan`` — the 100 TB shape: page index space as a
  DataFrame, fetch inside ``mapInPandas`` so pagination runs on
  executors, one core-sized wave of tasks, instead of serially on the
  driver. The plan's one exchange sits after the fetch, so a consumer
  that reads its input more than once (a global sort's range sampler,
  a second action on the same DataFrame) reads shuffle files, not the
  API: each page is fetched once.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

PAGE_SIZE = 100  # lambda_function.py:12 (LIMIT)
MAX_RECORDS = 500  # lambda_function.py:13

#: FIXTURES.md §A1 — the SAM.gov record shape the reference reads
#: (lambda_function.py:46,69-78), nested officeAddress included.
RAW_OPPORTUNITIES_SCHEMA = T.StructType(
    [
        T.StructField("noticeId", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("solicitationNumber", T.StringType()),
        T.StructField("fullParentPathName", T.StringType()),
        T.StructField("postedDate", T.StringType()),
        T.StructField("typeOfSetAsideDescription", T.StringType()),
        T.StructField("naicsCode", T.StringType()),
        T.StructField(
            "officeAddress",
            T.StructType(
                [
                    T.StructField("city", T.StringType()),
                    T.StructField("state", T.StringType()),
                ]
            ),
        ),
        T.StructField("uiLink", T.StringType()),
    ]
)

#: A fetcher returns (status_code, rows) for an offset —
#: the injectable seam standing in for requests.get (lambda_function.py:40).
Fetcher = Callable[[int], tuple[int, list[dict[str, Any]]]]


def paginate(
    fetch_page: Fetcher,
    page_size: int = PAGE_SIZE,
    max_records: int = MAX_RECORDS,
) -> list[dict[str, Any]]:
    """The reference's pagination loop semantics, exactly
    (lambda_function.py:24-54): advance offset by page_size; stop on
    non-200 status, short page, or accumulated ≥ max_records; truncate
    the result to max_records."""
    all_results: list[dict[str, Any]] = []
    offset = 0
    while True:
        status, results = fetch_page(offset)
        if status != 200:
            break
        all_results.extend(results)
        if len(results) < page_size or len(all_results) >= max_records:
            break
        offset += page_size
    return all_results[:max_records]


def ingest_rows(
    spark: SparkSession,
    rows: list[dict[str, Any]],
    schema: T.StructType = RAW_OPPORTUNITIES_SCHEMA,
) -> DataFrame:
    """rows → DataFrame under an explicit schema. Declared (not
    inferred) schema is the engine's answer to the reference's
    defensive ``.get(key, default)`` layer: absent keys become NULLs
    here and are coalesced downstream (pipeline.contracts)."""
    return spark.createDataFrame(rows, schema)


def parallel_fetch_plan(
    spark: SparkSession,
    n_pages: int,
    page_fetcher: Callable[[int], list[dict[str, Any]]],
    schema: T.StructType = RAW_OPPORTUNITIES_SCHEMA,
    parallelism: int | None = None,
) -> DataFrame:
    """Executor-side pagination: page ids as a DataFrame, fetch inside
    mapInPandas. At 100 TB the driver never touches a record; each
    task pulls its own page range (rate limits permitting) and emits
    Arrow batches straight into the plan.

    ``parallelism`` defaults to the context's ``defaultParallelism``:
    the fetch runs as one wave of tasks, one per core, rather than as
    a fixed task count that spills into a second wave on a small box.
    ``spark.range`` splits the page ids evenly without a shuffle.

    The one round-robin exchange comes AFTER the fetch. Everything
    above it reads shuffle files, so a multi-pass consumer (the range
    sampler of a downstream global sort, or a second action on the
    same DataFrame) does not call the API again: one call per page.
    An action on another DataFrame derived from this one plans its own
    exchange and fetches once more. The exchange also evens out pages
    of uneven size before the downstream operators."""
    if parallelism is None:
        parallelism = spark.sparkContext.defaultParallelism
    field_names = [f.name for f in schema.fields]

    def fetch_pages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict[str, Any]] = []
            for page_id in pdf["id"]:
                rows.extend(page_fetcher(int(page_id)))
            yield pd.DataFrame(
                {name: [r.get(name) for r in rows] for name in field_names}
            )

    pages = spark.range(0, n_pages, 1, max(1, min(parallelism, n_pages)))
    return pages.mapInPandas(fetch_pages, schema=schema).repartition(parallelism)

"""Pagination-source semantics (SURVEY.md §2.1 S1): cap, short-page
stop, error stop — the reference's loop behaviors as pure logic, plus
the executor-side parallel fetch plan."""

from __future__ import annotations

import os
import uuid
from collections import Counter

import pytest

from etl_pipeline_sam_gov_spark.pipeline.contracts import (
    filter_veteran_set_asides,
    snapshot_sink,
    transform_contracts,
)
from etl_pipeline_sam_gov_spark.pipeline.ingest import (
    RAW_OPPORTUNITIES_SCHEMA,
    ingest_rows,
    paginate,
    parallel_fetch_plan,
)
from etl_pipeline_sam_gov_spark.plans.introspect import physical_plan


def fake_pages(total: int, page_size: int = 100):
    def fetch(offset: int):
        rows = [
            {"noticeId": str(i), "title": f"t{i}"}
            for i in range(offset, min(offset + page_size, total))
        ]
        return 200, rows

    return fetch


def test_short_page_stops():
    rows = paginate(fake_pages(250))
    assert len(rows) == 250
    assert rows[-1]["noticeId"] == "249"


def test_cap_truncates_to_max_records():
    rows = paginate(fake_pages(10_000))
    assert len(rows) == 500  # lambda_function.py:13,49,54 semantics
    assert rows[-1]["noticeId"] == "499"


def test_exact_page_boundary():
    # 500 rows in 5 full pages: cap reached exactly, no 6th fetch needed
    calls = []
    base = fake_pages(10_000)

    def counting(offset):
        calls.append(offset)
        return base(offset)

    rows = paginate(counting)
    assert len(rows) == 500
    assert calls == [0, 100, 200, 300, 400]


def test_error_status_stops():
    def fetch(offset):
        if offset >= 200:
            return 503, []
        return fake_pages(10_000)(offset)

    rows = paginate(fetch)
    assert len(rows) == 200  # keeps what arrived before the failure


def test_ingest_rows_explicit_schema(spark):
    df = ingest_rows(spark, [{"noticeId": "1", "officeAddress": {"city": "X"}}])
    row = df.collect()[0]
    assert row["noticeId"] == "1"
    assert row["officeAddress"]["city"] == "X"
    assert row["officeAddress"]["state"] is None
    assert row["title"] is None  # absent key → NULL under declared schema


def test_parallel_fetch_plan_runs_on_executors(spark):
    def page_fetcher(page_id: int):
        return [
            {"noticeId": str(page_id * 10 + i), "title": f"p{page_id}"}
            for i in range(10)
        ]

    df = parallel_fetch_plan(spark, n_pages=8, page_fetcher=page_fetcher)
    rows = df.collect()
    assert len(rows) == 80
    assert {r["title"] for r in rows} == {f"p{i}" for i in range(8)}


def ten_per_page():
    """A fetcher of ten records per page, as a closure: cloudpickle
    ships it by value to Python workers, which cannot import tests."""

    def fetch(page_id: int):
        return [{"noticeId": f"{page_id}-{i}", "title": f"p{page_id}"} for i in range(10)]

    return fetch


def test_parallel_fetch_plan_exchange_follows_the_fetch(spark):
    """One exchange, above MapInPandas: everything downstream reads
    shuffle files instead of re-running the fetch."""
    lines = physical_plan(parallel_fetch_plan(spark, 8, ten_per_page())).splitlines()
    exchanges = [i for i, line in enumerate(lines) if "Exchange " in line]
    fetch = [i for i, line in enumerate(lines) if "MapInPandas" in line]
    assert len(exchanges) == 1 and len(fetch) == 1
    assert exchanges[0] < fetch[0]


def test_parallel_fetch_plan_no_pages_is_empty(spark):
    df = parallel_fetch_plan(spark, 0, ten_per_page())
    assert df.schema == RAW_OPPORTUNITIES_SCHEMA
    assert df.collect() == []


@pytest.mark.parametrize("n_pages", [1, 3])
def test_parallel_fetch_plan_fewer_pages_than_cores(spark, n_pages):
    rows = parallel_fetch_plan(spark, n_pages, ten_per_page()).collect()
    assert sorted(r["noticeId"] for r in rows) == sorted(
        f"{p}-{i}" for p in range(n_pages) for i in range(10)
    )


def test_parallel_fetch_plan_explicit_parallelism(spark):
    df = parallel_fetch_plan(spark, 8, ten_per_page(), parallelism=2)
    assert "splits=2" in physical_plan(df)
    assert df.rdd.getNumPartitions() == 2
    assert df.count() == 80


def recording_fetcher(marker_dir: str, fail_on: int | None = None):
    """Ten veteran set-aside records per page. Each call leaves one
    marker file named after its page (Python workers are separate
    processes, so the calls cannot be counted in memory)."""

    def fetch(page_id: int):
        if page_id == fail_on:
            raise RuntimeError(f"page {page_id} unavailable")
        open(os.path.join(marker_dir, f"{page_id}.{uuid.uuid4().hex}"), "w").close()
        return [
            {
                "noticeId": f"{page_id}-{i}",
                "title": f"Contract {page_id}-{i}",
                "postedDate": "2001-07-20",
                "typeOfSetAsideDescription": "Veteran-Owned Small Business Set-Aside",
            }
            for i in range(10)
        ]

    return fetch


def test_pipeline_fetches_each_page_once(spark, tmp_path):
    """The sorted pipeline's range sampler and its write both read the
    ingest; the API must still be called once per page."""
    markers = tmp_path / "calls"
    markers.mkdir()
    n_pages = 12
    raw = parallel_fetch_plan(spark, n_pages, recording_fetcher(str(markers)))
    out = str(tmp_path / "snap")
    snapshot_sink(transform_contracts(filter_veteran_set_asides(raw)), out)
    calls = Counter(int(name.split(".")[0]) for name in os.listdir(markers))
    assert calls == Counter(range(n_pages))
    assert spark.read.parquet(out).count() == n_pages * 10


def test_failed_snapshot_write_keeps_previous_snapshot(spark, tmp_path):
    """A fetch that raises inside the final write job must leave the
    previous snapshot readable, not an empty directory."""
    markers = tmp_path / "calls"
    markers.mkdir()
    out = str(tmp_path / "snap")
    snapshot_sink(parallel_fetch_plan(spark, 5, recording_fetcher(str(markers))), out)
    failing = parallel_fetch_plan(spark, 20, recording_fetcher(str(markers), fail_on=13))
    with pytest.raises(Exception, match="page 13 unavailable"):
        snapshot_sink(failing, out)
    assert spark.read.parquet(out).count() == 50


def test_fetcher_error_surfaces_and_the_session_recovers(spark, tmp_path):
    """A fetcher raising on page k fails the action with its own message
    from the Python worker; the next action in the same session runs on
    fresh workers and returns every row."""
    from pyspark.errors import PythonException

    markers = tmp_path / "calls"
    markers.mkdir()
    failing = parallel_fetch_plan(spark, 8, recording_fetcher(str(markers), fail_on=5))
    with pytest.raises(PythonException, match="page 5 unavailable"):
        failing.collect()
    assert parallel_fetch_plan(spark, 8, ten_per_page()).count() == 80


def uneven_pages(sizes: dict[int, int]):
    """Ten records per page, except pages listed in ``sizes``."""

    def fetch(page_id: int):
        return [{"noticeId": f"{page_id}-{i}"} for i in range(sizes.get(page_id, 10))]

    return fetch


def test_short_and_empty_pages_return_exactly_their_rows(spark):
    sizes = {2: 3, 4: 0}
    rows = parallel_fetch_plan(spark, 6, uneven_pages(sizes)).collect()
    assert sorted(r["noticeId"] for r in rows) == sorted(
        f"{p}-{i}" for p in range(6) for i in range(sizes.get(p, 10))
    )


def malformed_office_address():
    """Page 1's second record carries ``officeAddress`` as a string, not
    the {city, state} object of FIXTURES.md §A1."""

    def fetch(page_id: int):
        rows = [
            {"noticeId": f"{page_id}-{i}", "officeAddress": {"city": "Austin", "state": "tx"}}
            for i in range(3)
        ]
        if page_id == 1:
            rows[1]["officeAddress"] = "Austin, TX"
        return rows

    return fetch


def test_malformed_office_address_is_read_positionally(spark):
    """Current behaviour, pinned: the pandas → Arrow conversion reads a
    string ``officeAddress`` as a sequence, so its first two characters
    become city and state. The record is neither dropped nor fails the
    job; every other record is intact."""
    rows = parallel_fetch_plan(spark, 3, malformed_office_address()).collect()
    got = {r["noticeId"]: r["officeAddress"].asDict() for r in rows}
    assert len(got) == 9
    assert got.pop("1-1") == {"city": "A", "state": "u"}
    assert all(v == {"city": "Austin", "state": "tx"} for v in got.values())


def test_corrupt_json_rows_are_quarantined_not_fatal(spark, tmp_path):
    """PERMISSIVE JSON ingest: malformed rows land in _corrupt_record
    instead of failing the job — the ingest-robustness contract a
    landing-zone reader needs (the reference would crash on a null
    field, SURVEY.md §1.4; the engine quarantines instead)."""
    import json

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    p = tmp_path / "landing.json"
    rows = [json.dumps({"id": 1, "v": "ok"}), "{not json at all", json.dumps({"id": 3, "v": "also ok"})]
    p.write_text("\n".join(rows))
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
        .cache()  # SPARK-21610: corrupt-record column needs a materialized scan
    )
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 2
    assert bad.count() == 1
    assert "{not json" in bad.collect()[0]["_corrupt_record"]
    df.unpersist()


# ---------------------------------------------------------------------------
# Live-HTTP lane through the DataSource seam (round-5, VERDICT r04 #8):
# a local http.server stands in for the paginated API so the
# timeout/non-200/short-page/retry semantics of lambda_function.py:40-54
# are exercised end-to-end with zero external network. The server runs
# in a daemon thread; Spark's local-mode Python workers reach it over
# loopback.
# ---------------------------------------------------------------------------

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

N_LIVE_ROWS = 230  # 2 full pages of 100 + one short page of 30


def _live_rows(offset: int, limit: int) -> list[dict]:
    return [
        {
            "noticeId": f"L-{i:08d}",
            "title": f"Live {i}",
            "typeOfSetAsideDescription": None if i % 3 else "8(a) Set-Aside",
            "postedDate": f"2026-08-{i % 28 + 1:02d}",
        }
        for i in range(offset, min(offset + limit, N_LIVE_ROWS))
    ]


class _ApiHandler(BaseHTTPRequestHandler):
    flaky_hits: dict[str, int] = {}

    def do_GET(self):  # noqa: N802 — BaseHTTPRequestHandler API
        u = urlparse(self.path)
        q = parse_qs(u.query)
        offset = int(q.get("offset", ["0"])[0])
        limit = int(q.get("limit", ["100"])[0])
        if u.path == "/notfound":
            self.send_error(404)
            return
        if u.path == "/flaky":
            key = str(offset)
            n = _ApiHandler.flaky_hits.get(key, 0)
            _ApiHandler.flaky_hits[key] = n + 1
            if n < 2:  # fail twice per offset, then serve
                self.send_error(503)
                return
        body = json.dumps(
            {"opportunitiesData": _live_rows(offset, limit)}
        ).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):  # keep pytest output clean
        pass


@pytest.fixture(scope="module")
def api_url():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _ApiHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _read_live(spark, url: str, **opts) -> list:
    from etl_pipeline_sam_gov_spark.sources.paginated import register

    register(spark)
    r = spark.read.format("paginated_opportunities").option("base_url", url)
    for k, v in opts.items():
        r = r.option(k, str(v))
    return r.load().collect()


def test_live_lane_short_page_stops(spark, api_url):
    """n_pages far exceeds the feed; the short page (30 rows) must stop
    the scan exactly at the feed size — the lambda_function.py:52
    len(results) < LIMIT break, observed through a real GET."""
    rows = _read_live(spark, f"{api_url}/data", n_pages=10, pages_per_task=10)
    assert len(rows) == N_LIVE_ROWS
    assert sorted(r.noticeId for r in rows)[0] == "L-00000000"


def test_live_lane_non_200_stops_without_error(spark, api_url):
    """404 ⇒ the reference logs and breaks (lambda_function.py:42-44);
    the scan returns the rows fetched so far — zero here — not a
    raised exception."""
    rows = _read_live(spark, f"{api_url}/notfound", n_pages=3)
    assert rows == []


def test_live_lane_retries_transient_5xx(spark, api_url):
    """Each offset 503s twice before serving; with the bounded-retry
    lane (2 retries) every page must eventually land and the full feed
    arrive exactly once."""
    _ApiHandler.flaky_hits.clear()
    rows = _read_live(
        spark,
        f"{api_url}/flaky",
        n_pages=10,
        pages_per_task=10,
        http_max_retries=2,
        http_backoff_s=0.01,
    )
    assert len(rows) == N_LIVE_ROWS
    assert len({r.noticeId for r in rows}) == N_LIVE_ROWS


def test_live_lane_exhausted_retries_break_not_raise(spark, api_url):
    """With retries below the flake depth the 503 exhausts the retry
    budget and the lane must degrade to the reference's break-and-keep
    semantics (empty scan), never a task failure."""
    _ApiHandler.flaky_hits.clear()
    rows = _read_live(
        spark,
        f"{api_url}/flaky",
        n_pages=2,
        pages_per_task=2,
        http_max_retries=0,
        http_backoff_s=0.01,
    )
    assert rows == []

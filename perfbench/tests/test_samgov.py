from datetime import date

from etl_pipeline_sam_gov_spark.pipeline.ingest import MAX_RECORDS, paginate

from perfbench import samgov


def _records(seed, pages):
    return [r for p in range(pages) for r in samgov.make_page(seed, p)]


def test_pages_are_deterministic_per_seed():
    assert samgov.make_page(7, 3) == samgov.make_page(7, 3)
    assert samgov.make_page(7, 3) != samgov.make_page(8, 3)
    assert len(samgov.make_page(7, 3)) == samgov.PAGE_SIZE


def test_every_fixtures_a1_edge_class_is_generated():
    recs = _records(11, 10)
    set_asides = [r.get("typeOfSetAsideDescription", "absent") for r in recs]
    assert samgov.VOSB in set_asides  # 1
    assert samgov.SDVOSB in set_asides  # 2
    assert samgov.EIGHT_A in set_asides and None in set_asides  # 3
    kept = [r for r in recs if samgov.is_veteran(r)]
    assert any(r["noticeId"] is None for r in kept)  # 4
    assert any(r["postedDate"] == "not-a-date" for r in kept)  # 5
    rows = [samgov.transform_record(r) for r in kept]
    rows = [r for r in rows if r is not None]
    days = {(samgov.NOW_DATE - r["postedDate"]).days for r in rows if r["postedDate"]}
    assert any(d < 0 for d in days)  # 6
    assert {1, 3, 5, 7, 8} <= days  # 7
    assert [samgov._score(d) for d in (-2, 1, 3, 5, 7, 8, None)] == [5, 5, 4, 3, 2, 1, 1]
    naics = {r["naicsCode"] for r in recs}
    assert {"541511", "541512", "561730", "999999", "", "   "} <= naics  # 8
    offices = [r.get("officeAddress", "absent") for r in recs]
    assert None in offices and "absent" in offices  # 9
    assert any(o not in (None, "absent") and o["state"].islower() for o in offices)
    assert any(r["title"] != r["title"].strip() for r in recs)  # 10
    assert any(r["solicitationNumber"] != r["solicitationNumber"].strip() for r in recs)
    keys = [(r["recencyScore"], r["postedDate"]) for r in rows]
    assert len(set(keys)) < len(keys)  # 11: sort ties
    assert len(kept) > MAX_RECORDS  # 12: more qualifying rows than the cap


def test_paginate_truncates_to_the_ingest_cap():
    def fetch(offset):  # (status, rows) by offset, as paginate takes it
        page = offset // samgov.PAGE_SIZE
        return (200, samgov.make_page(3, page)) if page < 20 else (404, [])

    assert len(paginate(fetch)) == MAX_RECORDS


def test_replay_counts_are_the_same_for_every_seed():
    a, b = samgov.replay(1, 30), samgov.replay(2, 30)
    for exp in (a, b):
        assert exp.records == 30 * samgov.PAGE_SIZE
        assert exp.kept == 30 * samgov.EXPECTED_KEPT_PER_PAGE
        assert exp.out == 30 * samgov.EXPECTED_OUT_PER_PAGE
    assert a.candidates != b.candidates


def test_at_least_ten_flagship_candidates():
    exp = samgov.replay(5, 3)
    assert len(exp.candidates) >= 10
    assert all(c[4] >= 4 for c in exp.candidates)


def _spark_like_result(exp, passes=2):
    top = sorted(exp.candidates, key=lambda c: c[2], reverse=True)[:10]
    return {
        "records": passes * exp.records,
        "kept": passes * exp.kept,
        "out": exp.out,
        "n_recent": exp.n_recent,
        "n_with_naics": exp.n_with_naics,
        "top": top,
    }


def test_check_accepts_a_correct_result():
    exp = samgov.replay(4, 20)
    assert samgov.check_result(exp, _spark_like_result(exp)) == []


def test_check_rejects_corrupted_results():
    exp = samgov.replay(4, 20)
    for key, bad in (
        ("out", exp.out - 1),
        ("n_recent", exp.n_recent + 1),
        ("kept", 2 * exp.kept + 1),
        ("records", 2 * exp.records - 5),
    ):
        got = _spark_like_result(exp)
        got[key] = bad
        assert samgov.check_result(exp, got), key
    got = _spark_like_result(exp)
    title, sol, posted, set_aside, score = got["top"][0]
    got["top"][0] = (title + "x", sol, posted, set_aside, score)
    assert samgov.check_result(exp, got)
    got = _spark_like_result(exp)
    got["top"][0] = got["top"][0][:2] + (date(1990, 1, 1),) + got["top"][0][3:]
    assert samgov.check_result(exp, got)

"""The SAM.gov pipeline workload: seeded pages, the benchmark's own
fetcher, a pure-Python replay of the reference semantics, and one
pipeline operation built from the package's public functions.

Every page holds ``PAGE_SIZE`` records laid out from one fixed template
of FIXTURES.md §A1 edge classes, shuffled by the seed (``LAYOUTS``
shuffles per seed, page ``p`` taking layout ``p % LAYOUTS`` with its own
ids). Record contents (ids, titles, dates, NAICS codes, addresses) vary
with the seed; the counts of fetched, kept and transformed rows do not,
so those counts repeat exactly across runs and seeds.

This module imports nothing from the package: the executors unpickle
the fetcher, and with it this module, in every Python worker.
"""

from __future__ import annotations

import functools
import random
from dataclasses import dataclass, field
from datetime import date, timedelta

PAGE_SIZE = 100
#: The injected "now" of the transform (replaces the reference's
#: wall-clock read); passed to ``transform_contracts`` explicitly.
NOW = "2001-07-25"

VOSB = "Veteran-Owned Small Business Set-Aside"
SDVOSB = "Service-Disabled Veteran-Owned Small Business (SDVOSB) Set-Aside"
EIGHT_A = "8(a) Set-Aside"
WOSB = "Women-Owned Small Business (WOSB) Program Set-Aside"
KEYWORDS = ("Veteran-Owned", "Service-Disabled Veteran-Owned")
NAICS_CODES = ["541511", "541512", "561730", "999999", "", "   "]

_ABSENT = object()  # template marker: leave the key out of the record

#: Set-aside class per template slot. Slots 0..54 are kept by the
#: veteran filter; the rest are dropped (8(a), explicit null, missing
#: key, another program).
SET_ASIDES = [VOSB] * 30 + [SDVOSB] * 25 + [EIGHT_A] * 15 + [None] * 10 + [
    _ABSENT
] * 5 + [WOSB] * 15
#: Kept slots whose noticeId is null, so dropna removes them.
NULL_ID_SLOTS = (0, 1, 2)
NOW_DATE = date.fromisoformat(NOW)
#: postedDate offsets from NOW (days before) pinned to kept slots 3..11:
#: two unparseable dates, two future dates (negative days → score 5),
#: and the score-band boundaries 1, 3, 5, 7, 8 days before NOW.
PINNED_DATES = {
    3: "not-a-date",
    4: "not-a-date",
    5: -1,
    6: -2,
    7: 1,
    8: 3,
    9: 5,
    10: 7,
    11: 8,
}
RANDOM_DAYS = 60

EXPECTED_KEPT_PER_PAGE = SET_ASIDES.count(VOSB) + SET_ASIDES.count(SDVOSB)
EXPECTED_OUT_PER_PAGE = EXPECTED_KEPT_PER_PAGE - len(NULL_ID_SLOTS)


def _posted(days_before) -> str:
    if isinstance(days_before, str):
        return days_before
    return (NOW_DATE - timedelta(days=days_before)).isoformat()


#: Distinct page layouts per seed; page ``p`` uses layout ``p % LAYOUTS``
#: with its own ids, so pages are cheap to make on the executors.
LAYOUTS = 64


@functools.lru_cache(maxsize=4)
def _layouts(seed: int) -> tuple:
    """Per layout, per record position: the seeded, page-independent
    fields (slot, set-aside, agency, postedDate, NAICS, office)."""
    offices = (
        {"city": " City 3 ", "state": "tx"},
        {"city": "Austin", "state": "TX"},
        None,
        _ABSENT,
        {"state": "ca"},
    )
    layouts = []
    for layout in range(LAYOUTS):
        rng = random.Random(seed * 1_000_003 + layout)
        slots = list(range(PAGE_SIZE))
        rng.shuffle(slots)
        layouts.append(
            tuple(
                (
                    slot,
                    SET_ASIDES[slot],
                    f"DEPT OF TESTING > AGENCY-{rng.randrange(10)}",
                    _posted(PINNED_DATES.get(slot, rng.randrange(RANDOM_DAYS + 1))),
                    NAICS_CODES[rng.randrange(len(NAICS_CODES))],
                    offices[rng.randrange(len(offices))],
                )
                for slot in slots
            )
        )
    return tuple(layouts)


def make_page(seed: int, page: int) -> list[dict]:
    """The ``PAGE_SIZE`` records of one page (deterministic in seed, page)."""
    records = []
    for pos, (slot, set_aside, agency, posted, naics, office) in enumerate(
        _layouts(seed)[page % LAYOUTS]
    ):
        nid = f"{seed}-{page}-{pos}"
        pad = "  " if slot % 2 else ""
        rec = {
            "noticeId": None if slot in NULL_ID_SLOTS else nid,
            "title": f"{pad}Contract {nid} services{pad}",
            "solicitationNumber": f"{pad}SOL-{page:06d}-{pos:03d}{pad}",
            "fullParentPathName": agency,
            "postedDate": posted,
            "naicsCode": naics,
            "uiLink": f"https://sam.gov/opp/{nid}/view",
        }
        if set_aside is not _ABSENT:
            rec["typeOfSetAsideDescription"] = set_aside
        if office is not _ABSENT:
            rec["officeAddress"] = office
        records.append(rec)
    return records


@dataclass(frozen=True)
class PageFetcher:
    """The benchmark's stand-in for the SAM.gov REST call: page id →
    records, computed on the executor that asks for it (no network)."""

    seed: int

    def __call__(self, page: int) -> list[dict]:
        return make_page(self.seed, page)


# ---------------------------------------------------------------------------
# Reference replay (lambda_function.py:57-117,173-179), pure Python
# ---------------------------------------------------------------------------


def _parse_date(raw: str):
    try:
        return date.fromisoformat(raw)
    except (TypeError, ValueError):
        return None


def _score(days) -> int:
    if days is None:
        return 1
    for limit, score in ((1, 5), (3, 4), (5, 3), (7, 2)):
        if days <= limit:
            return score
    return 1


def transform_record(rec: dict) -> dict | None:
    """One kept record → the ``contracts`` columns the check compares, or
    None when dropna drops it."""
    if rec.get("noticeId") is None or rec.get("postedDate") is None:
        return None
    posted = _parse_date(rec["postedDate"])
    days = None if posted is None else (NOW_DATE - posted).days
    return {
        "title": (rec.get("title") or "").strip(),
        "solicitationNumber": (rec.get("solicitationNumber") or "").strip(),
        "postedDate": posted,
        "setAside": (rec.get("typeOfSetAsideDescription") or "").strip(),
        "isRecent": days is not None and days <= 7,
        "hasNAICS": len((rec.get("naicsCode") or "").strip()) > 0,
        "recencyScore": _score(days),
    }


def is_veteran(rec: dict) -> bool:
    set_aside = rec.get("typeOfSetAsideDescription")
    return set_aside is not None and any(k in set_aside for k in KEYWORDS)


@dataclass
class Expected:
    """What one pipeline operation over ``n_pages`` pages must produce."""

    records: int = 0
    kept: int = 0
    out: int = 0
    n_recent: int = 0
    n_with_naics: int = 0
    #: rows the flagship query may rank: recencyScore >= 4
    candidates: list[tuple] = field(default_factory=list)

    def flagship_dates(self) -> list:
        """postedDate of the top 10 by postedDate desc (ties allowed)."""
        return sorted((c[2] for c in self.candidates), reverse=True)[:10]


def flagship_key(title, sol, posted, set_aside, score) -> tuple:
    return (title, sol, posted, set_aside, int(score))


def replay(seed: int, n_pages: int) -> Expected:
    exp = Expected()
    for page in range(n_pages):
        for rec in make_page(seed, page):
            exp.records += 1
            if not is_veteran(rec):
                continue
            exp.kept += 1
            row = transform_record(rec)
            if row is None:
                continue
            exp.out += 1
            exp.n_recent += row["isRecent"]
            exp.n_with_naics += row["hasNAICS"]
            if row["recencyScore"] >= 4:
                exp.candidates.append(
                    flagship_key(
                        row["title"],
                        row["solicitationNumber"],
                        row["postedDate"],
                        row["setAside"],
                        row["recencyScore"],
                    )
                )
    return exp


def check_result(exp: Expected, got: dict) -> list[str]:
    """Differences between one operation's output and the replay.

    ``got`` holds the observed ``records``/``kept`` counts (observations
    upstream of the sort's range-partition exchange run once per pass
    over the ingest, so both must be the SAME whole multiple of the
    replay's), the exact ``out``/``n_recent``/``n_with_naics``, and the
    flagship ``top`` rows. The flagship SQL has no tiebreaker, so its
    rows are checked as: the same postedDate sequence as the replay's
    top 10, and every row one of the replay's candidates.
    """
    errs = []
    passes, rem = divmod(got["records"], exp.records)
    if rem or passes < 1 or got["kept"] != passes * exp.kept:
        errs.append(
            f"records/kept {got['records']}/{got['kept']} are not one whole "
            f"multiple of {exp.records}/{exp.kept}"
        )
    for key in ("out", "n_recent", "n_with_naics"):
        if got[key] != getattr(exp, key):
            errs.append(f"{key}: got {got[key]}, replay {getattr(exp, key)}")
    top = [flagship_key(*r) for r in got["top"]]
    if [t[2] for t in top] != exp.flagship_dates():
        errs.append("flagship postedDate order differs from the replay")
    pool = set(exp.candidates)
    if any(t not in pool for t in top) or len(set(top)) != len(top):
        errs.append("flagship rows are not distinct replay candidates")
    return errs

"""Seeded input generators for the flow benchmark.

Every generator is a pure function of its seed: the same seed gives the
same inputs and the same expected outcome.  The program under test only
ever sees the generated inputs (rows handed out by a fake page fetcher,
parquet snapshots, parquet tables); the expected outcomes stay here and
are compared outside the timed region.

- :class:`AcledFeed` — ACLED-shaped day partitions with skewed
  country/admin1 mixes, seed-dependent day sizes and seeded replay
  corrections, served through a zero-latency paginated fetcher.
- :class:`DocumentReleases` — a ``documents`` snapshot and a chain of
  release mutations (adds, removes, text changes, planted exact
  duplicates), each with its expected ``status_counts`` and append count.
- :func:`write_analytics_tables` — the ten registry tables (TPC-H-style
  star, ``events``, ``documents``, ``embeddings``) with the shapes and
  value domains of the repository's test tables (TESTDATA.md).
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta

# ---------------------------------------------------------------------------
# daily_elt: ACLED day partitions
# ---------------------------------------------------------------------------

EVENT_TYPES = (
    "Violence against civilians",
    "Battles",
    "Explosions/Remote violence",
    "Riots",
    "Protests",
    "Strategic developments",
)
SUB_EVENTS = {
    "Violence against civilians": "Attack",
    "Battles": "Armed clash",
    "Explosions/Remote violence": "Shelling/artillery/missile attack",
    "Riots": "Mob violence",
    "Protests": "Peaceful protest",
    "Strategic developments": "Looting/property destruction",
}
# (iso, region, country, admin1 values, lat, lon); listed most-active first —
# the Zipf weights below make the head countries dominate a day, as in the
# real feed.
COUNTRIES = (
    ("804", "Europe", "Ukraine", ("Donetsk", "Kharkiv", "Kherson", "Zaporizhia", "Sumy"), 48.0, 37.0),
    ("760", "Middle East", "Syria", ("Idleb", "Aleppo", "Deir ez Zor", "Daraa"), 35.0, 38.0),
    ("566", "Western Africa", "Nigeria", ("Borno", "Zamfara", "Kaduna", "Benue"), 10.0, 8.0),
    ("484", "North America", "Mexico", ("Guanajuato", "Michoacan", "Guerrero"), 20.0, -101.0),
    ("104", "Southeast Asia", "Myanmar", ("Sagaing", "Magway", "Kachin"), 21.0, 95.0),
    ("180", "Middle Africa", "Democratic Republic of Congo", ("Nord-Kivu", "Ituri", "Sud-Kivu"), -1.0, 29.0),
    ("729", "Northern Africa", "Sudan", ("Khartoum", "North Darfur", "Al Jazirah"), 15.0, 30.0),
    ("586", "Southern Asia", "Pakistan", ("Khyber Pakhtunkhwa", "Balochistan"), 33.0, 71.0),
    ("076", "South America", "Brazil", ("Rio de Janeiro", "Bahia", "Sao Paulo"), -15.0, -47.0),
    ("356", "Southern Asia", "India", ("Manipur", "Jammu and Kashmir", "Punjab"), 24.0, 80.0),
    ("887", "Middle East", "Yemen", ("Taizz", "Marib", "Al Hudaydah"), 15.0, 45.0),
    ("706", "Eastern Africa", "Somalia", ("Banadir", "Lower Shabelle"), 3.0, 45.0),
    ("854", "Western Africa", "Burkina Faso", ("Sahel", "Est", "Nord"), 12.0, -1.5),
    ("466", "Western Africa", "Mali", ("Mopti", "Gao", "Tombouctou"), 16.0, -2.0),
    ("332", "Caribbean", "Haiti", ("Ouest", "Artibonite"), 18.9, -72.3),
)
EPOCH = datetime(1970, 1, 1)
START_DAY = date(2025, 1, 1)
#: rows per day, inclusive bounds (the reference's API day is <= 10k rows)
DAY_ROWS = (3500, 4500)
# Replays are assumptions, not measurements: no source here records how
# often ACLED re-delivers a day or how much of it changes.  ACLED does
# revise past events after publication, so the loop replays an earlier day
# every second call (one fresh day, then one replay) and revises
# REPLAY_CORRECTED of its rows, plus a handful of late-reported events.
#: every REPLAY_EVERY-th operation of the daily loop replays an earlier day
REPLAY_EVERY = 2
#: share of a replayed day's rows whose fatalities and notes are corrected
REPLAY_CORRECTED = 0.1
#: late-reported events a replay adds, inclusive bounds
REPLAY_LATE = (5, 40)


def _zipf_weights(n: int, s: float = 1.2) -> list[float]:
    return [1.0 / (r ** s) for r in range(1, n + 1)]


def _acled_row(rng: random.Random, day: date, i: int) -> dict:
    """One raw (all-string) ACLED record, as the API flattens it."""
    iso, region, country, admins, lat0, lon0 = rng.choices(
        COUNTRIES, weights=_COUNTRY_W
    )[0]
    admin1 = rng.choices(admins, weights=_zipf_weights(len(admins)))[0]
    et = rng.choices(EVENT_TYPES, weights=(3, 4, 4, 2, 6, 1))[0]
    ts = int((datetime(day.year, day.month, day.day) - EPOCH).total_seconds())
    return {
        "event_id_cnty": f"{country[:3].upper()}{day.strftime('%Y%m%d')}{i:05d}",
        "event_date": day.isoformat(),
        "year": str(day.year),
        "time_precision": str(rng.randint(1, 3)),
        "disorder_type": "Political violence" if et != "Protests" else "Demonstrations",
        "event_type": et,
        "sub_event_type": SUB_EVENTS[et],
        "actor1": f"Actor {rng.randint(0, 40)}",
        "assoc_actor_1": "",
        "inter1": str(rng.randint(1, 8)),
        "actor2": f"Actor {rng.randint(0, 40)}" if rng.random() < 0.6 else "",
        "assoc_actor_2": "",
        "inter2": str(rng.randint(0, 8)),
        "interaction": str(rng.randint(10, 88)),
        "civilian_targeting": "Civilian targeting" if rng.random() < 0.2 else "",
        "iso": iso,
        "region": region,
        "country": country,
        "admin1": admin1,
        "admin2": f"{admin1} district {rng.randint(0, 12)}",
        "admin3": "",
        "location": f"{admin1} site {rng.randint(0, 60)}",
        "latitude": f"{lat0 + rng.uniform(-2.0, 2.0):.4f}",
        "longitude": f"{lon0 + rng.uniform(-2.0, 2.0):.4f}",
        "geo_precision": str(rng.randint(1, 3)),
        "source": f"Source {rng.randint(0, 25)}",
        "source_scale": rng.choice(("National", "Subnational", "Local partner")),
        "notes": f"report {i}",
        "fatalities": str(min(int(rng.expovariate(0.5)), 900)),
        "tags": "",
        "timestamp": str(ts + rng.randint(0, 86399)),
    }


_COUNTRY_W = _zipf_weights(len(COUNTRIES))


@dataclass
class DayBatch:
    """The rows one ``run_day`` call fetches, plus what it must land."""

    day: date
    version: int  # 0 = first delivery, n = n-th corrected replay
    rows: list[dict]

    @property
    def keys(self) -> set[str]:
        return {r["event_id_cnty"] for r in self.rows}


@dataclass
class AcledFeed:
    """Seeded ACLED feed: fresh days in order, with every
    ``REPLAY_EVERY``-th operation replaying an earlier day whose rows
    come back corrected (fatalities and notes revised, a few
    late-reported events added).

    ``expected`` maps each day to the latest rows delivered for it,
    keyed by event id — the silver table must equal it exactly.
    """

    seed: int
    page_size: int = 1000
    day_rows: tuple[int, int] = DAY_ROWS
    expected: dict[date, dict[str, dict]] = field(default_factory=dict)
    _ops: int = 0
    _next_day: int = 0
    _versions: dict[date, int] = field(default_factory=dict)

    def __post_init__(self) -> None:
        self._rng = random.Random(f"acled-feed-{self.seed}")

    def next_batch(self) -> DayBatch:
        self._ops += 1
        if self._ops % REPLAY_EVERY == 0 and self.expected:
            return self._replay(self._rng.choice(sorted(self.expected)))
        day = START_DAY + timedelta(days=self._next_day)
        self._next_day += 1
        drng = random.Random(f"acled-day-{self.seed}-{day.isoformat()}")
        n = drng.randint(*self.day_rows)
        rows = [_acled_row(drng, day, i) for i in range(n)]
        self._versions[day] = 0
        self.expected[day] = {r["event_id_cnty"]: r for r in rows}
        return DayBatch(day, 0, rows)

    def _replay(self, day: date) -> DayBatch:
        version = self._versions[day] + 1
        self._versions[day] = version
        rrng = random.Random(f"acled-replay-{self.seed}-{day.isoformat()}-{version}")
        current = self.expected[day]
        rows = []
        for key in sorted(current):
            row = dict(current[key])
            if rrng.random() < REPLAY_CORRECTED:
                row["fatalities"] = str(int(row["fatalities"]) + 1)
                row["notes"] = f"{row['notes']} (corrected v{version})"
            rows.append(row)
        late = [
            _acled_row(rrng, day, 60000 + version * 1000 + i)
            for i in range(rrng.randint(*REPLAY_LATE))
        ]
        rows.extend(late)
        self.expected[day] = {r["event_id_cnty"]: r for r in rows}
        return DayBatch(day, version, rows)

    def fetcher(self, batch: DayBatch, pages: list[int] | None = None):
        """Zero-latency paginated fetcher over one pre-generated day.

        Honours the page loop's ``limit`` (capped at ``page_size``), so
        the source layer runs its real pagination; ``pages`` (when
        given) collects one entry per page served.
        """
        rows = batch.rows

        def fetch(day: date, page: int, limit: int, params: dict) -> list[dict]:
            if day != batch.day or params:
                raise ValueError(f"unexpected request: {day} {params}")
            limit = min(limit, self.page_size)
            if pages is not None:
                pages.append(page)
            return rows[(page - 1) * limit : page * limit]

        return fetch


# ---------------------------------------------------------------------------
# corpus_release: documents snapshots and release mutations
# ---------------------------------------------------------------------------

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_W = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
DOC_COLUMNS = ("doc_id", "text", "lang", "source", "n_chars")


def _text(rng: random.Random) -> str:
    return " ".join(rng.choices(VOCAB, k=rng.randint(10, 100)))


def make_documents(rng: random.Random, n: int, first_id: int = 0) -> list[tuple]:
    """``n`` documents with distinct texts (doc_id, text, lang, source, n_chars)."""
    seen: set[str] = set()
    docs = []
    while len(docs) < n:
        t = _text(rng)
        if t in seen:
            continue
        seen.add(t)
        docs.append(
            (
                first_id + len(docs),
                t,
                rng.choices(LANGS, weights=LANG_W)[0],
                f"src{rng.randrange(N_SOURCES)}",
                len(t),
            )
        )
    return docs


@dataclass
class Release:
    """One release: the post-release snapshot and what ``apply`` must report."""

    number: int
    docs: list[tuple]
    status_counts: dict[str, int]
    planted_dups: set[int]

    @property
    def delta_docs(self) -> int:
        return self.status_counts["added"] + self.status_counts["changed"]

    @property
    def expected_appended(self) -> int:
        return self.delta_docs - len(self.planted_dups)


@dataclass
class DocumentReleases:
    """A ``documents`` corpus and its seeded chain of releases.

    Each release has the shape of the release in
    ``tests/test_release_e2e.py``, whose old and new snapshots are cut
    from one table by ``doc_id`` moduli (old: ``% 11 != 3``; new:
    ``% 13 != 5``, text rewritten where ``% 7 == 0``) plus one planted
    duplicate in its 500 documents.  Against the old snapshot that is:
    1/13 of the documents removed, the text of 1/7 of the survivors
    rewritten, 12/130 of the corpus added as new documents, and one
    added document per 500 whose text exactly repeats an unchanged one.
    Here the documents are drawn at random (seeded) in those shares.
    Every rewritten or new text is unique, so the only exact duplicates
    in a delta are the planted ones: ``appended == added + changed -
    planted``.
    """

    seed: int
    n_docs: int = 5000

    def __post_init__(self) -> None:
        self._rng = random.Random(f"documents-{self.seed}")
        self.base = make_documents(self._rng, self.n_docs)
        self.current = list(self.base)
        self._texts = {d[1] for d in self.base}
        self._next_id = self.n_docs
        self._number = 0

    def _fresh_text(self, rng: random.Random) -> str:
        while True:
            t = _text(rng)
            if t not in self._texts:
                self._texts.add(t)
                return t

    def next_release(self) -> Release:
        self._number += 1
        k = self._number
        rng = random.Random(f"release-{self.seed}-{k}")
        n = len(self.current)
        ids = [d[0] for d in self.current]
        removed = set(rng.sample(ids, max(1, n // 13)))
        survivors = [i for i in ids if i not in removed]
        changed = set(rng.sample(survivors, max(1, len(survivors) // 7)))
        docs = []
        for d in self.current:
            if d[0] in removed:
                continue
            if d[0] in changed:
                t = self._fresh_text(rng)
                d = (d[0], t, d[2], d[3], len(t))
            docs.append(d)
        unchanged = [d for d in docs if d[0] not in changed]
        added = []
        for _ in range(max(1, n * 12 // 130)):
            t = self._fresh_text(rng)
            added.append(
                (self._next_id, t, rng.choices(LANGS, weights=LANG_W)[0],
                 f"src{rng.randrange(N_SOURCES)}", len(t))
            )
            self._next_id += 1
        planted = set()
        for src in rng.sample(unchanged, max(1, n // 500)):
            added.append((self._next_id, src[1], src[2], src[3], src[4]))
            planted.add(self._next_id)
            self._next_id += 1
        docs.extend(added)
        self.current = docs
        return Release(
            number=k,
            docs=docs,
            status_counts={
                "added": len(added),
                "removed": len(removed),
                "changed": len(changed),
                "unchanged": len(unchanged),
            },
            planted_dups=planted,
        )


def write_documents(docs: list[tuple], path: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*docs))
    table = pa.table(
        {
            "doc_id": pa.array(cols[0], pa.int64()),
            "text": pa.array(cols[1], pa.string()),
            "lang": pa.array(cols[2], pa.string()),
            "source": pa.array(cols[3], pa.string()),
            "n_chars": pa.array(cols[4], pa.int64()),
        }
    )
    pq.write_table(table, path)
    return path


# ---------------------------------------------------------------------------
# analytics_read: the registry's ten tables
# ---------------------------------------------------------------------------

#: rows per table at scale factor 1 (the test tables' proportions)
_SF1_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("blue", "hot", "small", "old", "red", "new", "cold", "large")
_PART_NOUN = ("bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def write_analytics_tables(seed: int, out_dir: str, sf: float) -> dict[str, int]:
    """Write the ten registry tables at scale ``sf`` into ``out_dir``.

    Returns the row count of each table.  Keys are dense and every
    foreign key resolves, as in the test tables.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = {t: max(int(r * sf), 10) for t, r in _SF1_ROWS.items()}
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def pick(values, size):
        return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), size)], pa.string())

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    def days(start: str, n_days: int, size):
        base = np.datetime64(start, "us")
        return pa.array(base + rng.integers(0, n_days, size) * np.timedelta64(86_400_000_000, "us"), pa.timestamp("us"))

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS, pa.string()),
    })
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc, ns, np_, no, nl = (n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"])
    write("customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": pick(_SEGMENTS, nc),
    })
    write("supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, ns),
    })
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    write("part", {
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": pick(names, np_),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], np_),
        "p_type": pick(_PART_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2),
    })
    write("orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pick(("F", "O", "P"), no),
        "o_totalprice": money(1000.0, 500000.0, no),
        "o_orderdate": days("1995-01-01", 2404, no),
        "o_orderpriority": pick(_PRIORITIES, no),
    })
    qty = rng.integers(1, 51, nl).astype(float)
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": pick(("A", "N", "R"), nl),
        "l_linestatus": pick(("F", "O"), nl),
        "l_shipdate": days("1995-01-02", 2498, nl),
    })
    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, ne))
    write("events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(ne // 66, 2), ne), pa.int64()),
        "event_type": pick(_EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()),
    })
    docs = make_documents(random.Random(f"analytics-docs-{seed}"), n["documents"])
    write_documents(docs, os.path.join(out_dir, "documents.parquet"))
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return {**n, "region": 5, "nation": 25}

"""Seeded input generators for the benchmark.

Everything the program receives is made here from the run's seed: the
FAA-shaped registry snapshot (``update`` and ``serve``), the request
stream of the ``serve`` closed loop, and the documents / embeddings /
events corpus of ``curate``. The same seed gives byte-identical inputs;
another seed gives different ones (``perfbench/tests`` checks both).
"""

from __future__ import annotations

import io
import json
import random
import zipfile
from dataclasses import dataclass
from pathlib import Path

# Reference scale of one FAA ReleasableAircraft snapshot (BASELINE.md).
MASTER_ROWS = 307_000
ACFTREF_ROWS = 95_000
ENGINE_ROWS = 4_500

MASTER_HEADER = (
    "N-NUMBER,SERIAL NUMBER,MFR MDL CODE,ENG MFR MDL,YEAR MFR,"
    "TYPE AIRCRAFT,TYPE REGISTRANT,NAME,STREET,STREET2,CITY,STATE,"
    "ZIP CODE,LAST ACTION DATE,CERT ISSUE DATE,EXPIRATION DATE,"
    "CERTIFICATION,STATUS CODE,MODE S CODE,MODE S CODE HEX"
)
ACFTREF_HEADER = (
    "CODE,MFR,MODEL,TYPE-ACFT,TYPE-ENG,AC-CAT,BUILD-CERT-IND,NO-ENG,"
    "NO-SEATS,AC-WEIGHT,SPEED"
)
ENGINE_HEADER = "CODE,MFR,MODEL,TYPE,HORSEPOWER,THRUST"

# FIXTURES.md §A quirks: full state names and odd case, blank values,
# status codes absent from the decode table, padded years, short and
# garbage ZIPs, malformed dates, trailing blanks on the hex code.
STATES = [
    "TX", "CA", "FL", "NY", "WA", "GA", "IL", "PA", "AZ", "CO", "NC",
    "MI", "OH", "tx", "ca", "Texas", "California", "ohio", "Puerto Rico",
    "",
]
CITIES = ["austin", "miami", "new york", "dallas", "denver", "seattle",
          "wichita", "phoenix", "atlanta", ""]
STATUS = ["V", "V", "V", "V", "M", "T", "R", "N", "E", "D", "13", "27", "Q"]
CERTS = ["1N", "42", "9A", "1", "2T", "1T", ""]
REGISTRANT = ["1", "1", "1", "2", "3", "3", "4", "5", "7", "7", "8", "9"]
AIRCRAFT_TYPE = ["1", "2", "3", "4", "5", "6", "7", "8", "9", "H", "O"]
NAME_A = ["SMITH", "ACME", "DELTA", "SKY", "EAGLE", "BLUE", "LONE STAR",
          "JOHNSON", "PACIFIC", "SUMMIT", "RIVER", "GARCIA", "HAWK"]
NAME_B = ["AVIATION LLC", "AIR CORP", "FLYING CLUB", "TRUST", "HOLDINGS",
          "LEASING INC", "JETS LLC", "AERO", "PARTNERS"]
MAKERS = ["CESSNA", "PIPER", "BEECH", "CIRRUS", "MOONEY", "BOEING",
          "AIRBUS", "ROBINSON", "BELL", "DIAMOND", "GRUMMAN", "EMBRAER"]
LETTERS = "ABCDEFGHJKLMNPQRSTUVWXYZ"

SNAPSHOT_DATE = "2026-02-01"
_ZIP_TIME = (2026, 2, 1, 0, 0, 0)


@dataclass(frozen=True)
class Snapshot:
    """One generated registry snapshot and the facts the checks need."""

    zip_bytes: bytes
    n_master: int
    n_acftref: int
    n_engine: int
    keys: tuple[str, ...]  # distinct N-numbers, generation order
    raw_bytes: int  # uncompressed size of the three text files

    @property
    def expected_tables(self) -> dict[str, int]:
        """Row counts normalize must write for this snapshot."""
        return {
            "aircraft": self.n_master,
            "registrations": self.n_master,
            "owners": self.n_master,
            "aircraft_make_model": self.n_acftref,
            "engines": self.n_engine,
        }


def _uniform(rng: random.Random):
    """Fast integer and choice draws (``randrange`` costs ~5x more)."""
    r = rng.random

    def below(lo: int, hi: int) -> int:
        return lo + int(r() * (hi - lo))

    def pick(seq):
        return seq[int(r() * len(seq))]

    return r, below, pick


def master_text(
    rng: random.Random, n: int, n_acft: int, n_eng: int
) -> tuple[str, tuple[str, ...]]:
    """MASTER.txt with ``n`` rows; returns the text and its distinct keys.

    N-numbers are FAA-style (1-5 digits, optionally 1-2 letters, at most
    5 characters, no leading 0). About 0.2 % of rows reuse an earlier
    N-number (the duplicate and multi-owner cases of FIXTURES.md §A)."""
    r, below, pick = _uniform(rng)

    def n_number() -> str:
        digits = str(below(1, 10 ** below(1, 6)))
        k = pick((0, 0, 1, 2))
        return (digits + "".join(pick(LETTERS) for _ in range(k)))[:5]

    def date(lo: int, hi: int) -> str:
        return f"{below(lo, hi)}{below(1, 13):02d}{below(1, 29):02d}"

    def owner_name() -> str:
        x = r()
        if x < 0.0004:
            return "NETJETS SALES INC"
        if x < 0.01:
            return "None"
        if x < 0.05:
            return f"{pick(NAME_A)}  {pick(NAME_B)}"  # double space
        if x < 0.35:
            return f"{pick(NAME_A).title()} {pick(NAME_B).lower()}"
        return f"{pick(NAME_A)} {pick(NAME_B)}"

    seen: set[str] = set()
    keys: list[str] = []
    out = [MASTER_HEADER]
    n_mfr = int(n_acft * 1.02)  # ~2 % unresolvable make/model codes
    for i in range(n):
        if keys and r() < 0.002:
            nnum = pick(keys)
        else:
            nnum = n_number()
            while nnum in seen:
                nnum = n_number()
            seen.add(nnum)
            keys.append(nnum)
        eng = f"{below(10000, 10050 + n_eng):05d}" if r() > 0.06 else ""
        y = r()
        year = (
            "" if y < 0.05 else "19X8" if y < 0.06
            else f"  {below(1940, 2026)}" if y < 0.1
            else str(below(1940, 2026))
        )
        zr = r()
        z = below(10000, 99999)
        zipc = (
            f"{z}-{below(1000, 9999)}" if zr < 0.3
            else str(below(100, 999)) if zr < 0.33
            else "ABCDE" if zr < 0.34 else "" if zr < 0.36 else str(z)
        )
        lad = date(2000, 2026) if r() > 0.08 else pick(("", "20231332"))
        street2 = f"STE {below(1, 500)}" if r() < 0.1 else ""
        out.append(
            f"{nnum},SN {i:07d},{1000000 + below(0, n_mfr):07d},{eng},{year},"
            f"{pick(AIRCRAFT_TYPE)},{pick(REGISTRANT)},"
            f"{owner_name()},{below(1, 9999)} Main St,{street2},"
            f"{pick(CITIES)},{pick(STATES)},{zipc},{lad},"
            f"{date(1990, 2026)},{date(2024, 2032)},"
            f"{pick(CERTS)},{pick(STATUS)},"
            f"5{below(0, 8 ** 7):07o},{below(0, 1 << 24):06X}  "
        )
    return "\n".join(out) + "\n", tuple(keys)


def acftref_text(rng: random.Random, n: int) -> str:
    r, below, pick = _uniform(rng)
    out = [ACFTREF_HEADER]
    for i in range(n):
        x = r()
        maker = "" if x < 0.01 else pick(MAKERS) if x < 0.8 else f"MFR{below(0, 800)}"
        out.append(
            f"{1000000 + i:07d},{maker},MD-{below(0, 5000)},"
            f"{pick(AIRCRAFT_TYPE)},{below(0, 12)},{below(1, 4)},"
            f"0,{below(1, 5)},{below(1, 400)},"
            f"CLASS {below(1, 4)},{below(80, 480)}"
        )
    return "\n".join(out) + "\n"


def engine_text(rng: random.Random, n: int) -> str:
    r, below, pick = _uniform(rng)
    out = [ENGINE_HEADER]
    for i in range(n):
        hp = str(below(60, 40000)) if i % 2 else ""
        th = str(below(1000, 100000)) if not i % 2 else ""
        out.append(
            f"{10000 + i:05d},ENGMFR{below(0, 50)},E-{below(0, 900)},"
            f"{below(0, 11)},{hp},{th}"
        )
    return "\n".join(out) + "\n"


def make_snapshot(
    seed: int,
    n_master: int = MASTER_ROWS,
    n_acftref: int = ACFTREF_ROWS,
    n_engine: int = ENGINE_ROWS,
) -> Snapshot:
    """The ReleasableAircraft zip for ``seed`` (deterministic bytes:
    fixed member timestamps and order)."""
    rng = random.Random(f"faa-{seed}")
    master, keys = master_text(rng, n_master, n_acftref, n_engine)
    files = {
        "MASTER.txt": master,
        "ACFTREF.txt": acftref_text(rng, n_acftref),
        "ENGINE.txt": engine_text(rng, n_engine),
    }
    buf = io.BytesIO()
    raw = 0
    with zipfile.ZipFile(buf, "w") as zf:
        for name, text in files.items():
            data = text.encode()
            raw += len(data)
            info = zipfile.ZipInfo(name, date_time=_ZIP_TIME)
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, data, compresslevel=1)
    return Snapshot(buf.getvalue(), n_master, n_acftref, n_engine, keys, raw)


# ---------------------------------------------------------------------------
# serve: request stream
# ---------------------------------------------------------------------------

MIX = (("search", 6), ("fleet", 2), ("fts_search", 1), ("query", 1))  # per block of 10
FLEET_TERMS = ("smith", "acme", "eagle", "sky", "aviation", "trust",
               "club", "leasing", "summit", "hawk", "netjets", "river")
FLEET_STATES = ("TX", "CA", "FL", "NY", "WA", "AZ")
FLEET_VARIANTS = 3  # per (term count, with/without state)
FTS_QUERIES = ("smith", "eagle aviation", "acme air corp", "flying club",
               "austin", "dallas tx", "lone star trust", "summit holdings",
               "blue jets", "miami fl", "netjets")
SQL_TEMPLATES = {
    "top_makers": (
        "SELECT m.maker, COUNT(*) AS n FROM aircraft a "
        "JOIN aircraft_make_model m ON a.mfr_mdl_code = m.mfr_mdl_code "
        "WHERE m.maker <> '' GROUP BY m.maker ORDER BY n DESC, m.maker "
        "LIMIT {k}"
    ),
    "top_states": (
        "SELECT state_std AS state, COUNT(*) AS n FROM owners "
        "WHERE state_std <> '' GROUP BY state_std ORDER BY n DESC, state "
        "LIMIT {k}"
    ),
    "like_count": (
        "SELECT COUNT(*) AS n FROM owners "
        "WHERE owner_name_std LIKE '%{term}%'"
    ),
}
LIKE_TERMS = ("NETJETS", "EAGLE", "FLYING CLUB", "LEASING")
STREAM_BLOCKS = 400
ZIPF_S = 1.1
MISS_FRAC = 0.1


@dataclass(frozen=True)
class Request:
    kind: str  # one of MIX
    arg: str  # n-number / owner terms / fts query / SQL text
    state: str | None = None  # fleet filter

    def key(self) -> tuple:
        return (self.kind, self.arg, self.state)


def _zipf_sampler(rng: random.Random, n: int, s: float):
    """Rank sampler P(rank r) ~ 1/r^s over ``n`` ranks (inverse CDF)."""
    import bisect
    import itertools

    cdf = list(itertools.accumulate(1.0 / (r ** s) for r in range(1, n + 1)))
    total = cdf[-1]
    return lambda: bisect.bisect_left(cdf, rng.random() * total)


def make_requests(seed: int, keys: tuple[str, ...], blocks: int = STREAM_BLOCKS) -> list[Request]:
    """The closed loop's request stream for ``seed``, in blocks of ten
    holding the mix exactly (6 search, 2 fleet, 1 fts_search, 1 SQL) in
    seeded order. Searches are Zipf-skewed over a seeded ranking of the
    registered keys with 10 % misses; fleet, fts_search and SQL requests
    come from small seeded pools, so few distinct requests repeat.

    The costly kinds are spread evenly over the blocks, so that a run,
    which serves whole blocks from the first on, holds about the same
    work for every seed: block ``b`` has one fleet call with a state
    filter and one without, both with ``1 + b % 3`` owner terms, and
    the SQL template ``b % 3``."""
    rng = random.Random(f"serve-{seed}")
    ranked = list(keys)
    rng.shuffle(ranked)
    rank = _zipf_sampler(rng, len(ranked), ZIPF_S)
    registered = set(keys)
    fleet = {
        (n, st): [
            Request("fleet", "|".join(rng.sample(FLEET_TERMS, n)),
                    rng.choice(FLEET_STATES) if st else None)
            for _ in range(FLEET_VARIANTS)
        ]
        for n in (1, 2, 3) for st in (True, False)
    }
    sql = [
        [Request("query", t.format(k=rng.randint(3, 10), term=rng.choice(LIKE_TERMS)))
         for _ in range(4)]
        for t in SQL_TEMPLATES.values()
    ]
    block = [k for k, n in MIX for _ in range(n)]
    out: list[Request] = []
    for b in range(blocks):
        rng.shuffle(block)
        with_state = [True, False]
        rng.shuffle(with_state)
        for kind in block:
            if kind == "search":
                if rng.random() < MISS_FRAC:
                    miss = "Z" + "".join(rng.choice(LETTERS) for _ in range(4))
                    while miss in registered:
                        miss = "Z" + "".join(rng.choice(LETTERS) for _ in range(4))
                    out.append(Request(kind, f"N{miss}"))
                else:
                    out.append(Request(kind, f"N{ranked[rank()]}"))
            elif kind == "fleet":
                out.append(rng.choice(fleet[1 + b % 3, with_state.pop()]))
            elif kind == "fts_search":
                out.append(Request(kind, rng.choice(FTS_QUERIES)))
            else:
                out.append(rng.choice(sql[b % len(sql)]))
    return out


def requests_bytes(reqs: list[Request]) -> bytes:
    """Canonical serialization of a request stream (determinism check)."""
    return json.dumps([r.key() for r in reqs]).encode()


# ---------------------------------------------------------------------------
# curate: documents / embeddings / events corpus
# ---------------------------------------------------------------------------

# the row counts of the sf0.1 test corpus
DOCS = 5_000
VECTORS = 2_000
EVENTS = 100_000
EMB_DIM = 64
VOCAB = ("a the batch part spark line column order small sort fast value "
         "scan hash slow group agg filter query big key window row table "
         "stream merge data customer vector join").split()
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


def corpus_tables(
    seed: int, docs: int = DOCS, vectors: int = VECTORS, events: int = EVENTS
):
    """pyarrow tables ``{documents, embeddings, events}`` for ``seed``.

    Documents are bags of a 30-word vocabulary; 3 % are near-copies of
    an earlier document (two words replaced) and 0.5 % exact copies, so
    dedup and near-dup operators find pairs. 5 % of the vectors are an
    earlier vector plus small noise."""
    import numpy as np
    import pyarrow as pa

    # PCG64 takes no negative seed; the modulus keeps seeds >= 0 as they are
    g = np.random.Generator(np.random.PCG64(seed % 2**64))
    texts: list[str] = []
    for i in range(docs):
        r = g.random()
        if i > 10 and r < 0.035:
            words = texts[int(g.integers(0, i))].split()
            if r >= 0.005:
                for _ in range(2):
                    words[int(g.integers(0, len(words)))] = VOCAB[int(g.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
            continue
        n = int(g.integers(8, 90))
        words = [VOCAB[j] for j in g.integers(0, len(VOCAB), n)]
        if g.random() < 0.2:
            words[int(g.integers(0, n))] += ".,;:!?"[int(g.integers(0, 6))]
        texts.append(" ".join(words))
    documents = pa.table({
        "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in g.integers(0, len(LANGS), docs)]),
        "source": pa.array([f"src{j}" for j in g.integers(0, 20, docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    vec = g.normal(0.0, 0.15, (vectors, EMB_DIM)).astype(np.float32)
    for i in range(10, vectors):
        if g.random() < 0.05:
            src = int(g.integers(0, i))
            vec[i] = vec[src] + g.normal(0.0, 0.002, EMB_DIM).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(vectors, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(g.integers(0, 10, vectors).astype(np.int32)),
    })

    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    ts = np.sort(g.integers(0, 30 * 86_400_000_000, events)) + start_us
    ev = pa.table({
        "event_id": pa.array(np.arange(events, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(g.integers(0, 1500, events).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[j] for j in g.integers(0, 5, events)]),
        "value": pa.array(np.round(g.random(events) * 200.0, 2)),
        "props": pa.array([f'{{"k": {j}}}' for j in g.integers(0, 100, events)]),
    })
    return {"documents": documents, "embeddings": embeddings, "events": ev}


def write_corpus(seed: int, out_dir: Path, **sizes) -> dict[str, int]:
    """Write the corpus as ``<out_dir>/<table>.parquet``; returns row counts."""
    import pyarrow.parquet as pq

    out_dir.mkdir(parents=True, exist_ok=True)
    counts = {}
    for name, table in corpus_tables(seed, **sizes).items():
        pq.write_table(table, out_dir / f"{name}.parquet")
        counts[name] = table.num_rows
    return counts

"""Seeded input generators for the three benchmark workloads.

Everything here is a pure function of the workload seed: the same seed
gives byte-identical parquet files and the same vendor universe, and a
different seed gives different ones.

- :func:`write_lake` — the TPC-H-like star schema plus ``events`` with
  the column names and parquet types of the engine's test tables.
- :func:`write_corpus` — ``documents`` and ``embeddings`` for the LLM
  curation path, with a stated share of exact and near duplicates.
- :class:`VendorUniverse` — the vendor API's content and its fault
  schedule. The loopback API server serves it and the checker predicts
  the landed lake rows from it, so both sides share one definition.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# lake tables (lake_queries)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["cold", "small", "large", "shiny", "blue", "green", "rusty", "smooth"]
PART_NOUN = ["widget", "gadget", "bolt", "gear", "spring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 788_918_400  # 1995-01-01T00:00:00Z
_EPOCH_2024 = 1_704_067_200  # 2024-01-01T00:00:00Z


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def lake_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The star schema at ``scale`` (1.0 ≈ 6 M lineitems, TPC-H sf1)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_ord = max(200, int(1_500_000 * scale))
    n_users = max(15, int(1_500 * scale))
    n_events = max(500, int(1_000_000 * scale))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 200) / 10.0, 2),
    })

    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(
            (_EPOCH_1995 * 1_000_000 + order_day * _DAY_US), pa.timestamp("us")
        ),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })

    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines)
    n_li = len(l_order)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    ship_day = order_day[l_order] + rng.integers(1, 122, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(
            (_EPOCH_1995 * 1_000_000 + ship_day * _DAY_US), pa.timestamp("us")
        ),
    })

    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_events)) + _EPOCH_2024 * 1_000_000
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": _money(rng, 0.0, 330.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    return t


def write_lake(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every lake table as ``<out_dir>/<name>.parquet``; returns row
    counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in lake_tables(seed, scale).items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


# --------------------------------------------------------------------------
# curation corpus (llm_curation)

_WORDS = (
    "spark group query row data slow small filter customer line batch value "
    "merge table join agg part column key big fast hash scan sort order "
    "window stream vector dup"
).split()
_MARKERS = {
    "en": ["the", "and", "of"],
    "es": ["el", "la", "de"],
    "de": ["der", "die", "und"],
    "fr": ["le", "et", "les"],  # no langid marker: tagged 'und', filtered
}
_DIM = 64


def corpus_tables(
    seed: int, n_docs: int, n_vecs: int, exact_share: float, near_share: float
) -> tuple[dict[str, pa.Table], dict]:
    """Documents of which exactly ``exact_share`` are byte-identical copies
    and ``near_share`` one-token edits of earlier original documents
    (5-shingle Jaccard ≥ 0.9, since only the last shingle changes), and
    embeddings of which ``near_share`` are small perturbations of earlier
    original vectors (cosine ≈ 0.99).

    Copies only ever copy originals, so every duplicate cluster is a star
    around its original whatever the seed: the seed moves content, not
    the shape of the dedup graphs the pipelines label."""
    rng = random.Random(f"corpus-{seed}")
    n_exact, n_near = round(exact_share * n_docs), round(near_share * n_docs)
    copies = rng.sample(range(10, n_docs), n_exact + n_near)
    kind = {i: "exact" for i in copies[:n_exact]} | {i: "near" for i in copies[n_exact:]}
    texts: list[str] = []
    langs: list[str] = []
    originals: list[int] = []
    for i in range(n_docs):
        if i in kind:
            j = rng.choice(originals)
            toks = texts[j].split(" ")
            if kind[i] == "near":
                toks[-1] = rng.choice([w for w in _WORDS if w != toks[-1]])
            texts.append(" ".join(toks))
            langs.append(langs[j])
            continue
        lang = rng.choice(list(_MARKERS))
        # 10% short docs fall under the quality filter's 20-token floor
        n_tok = rng.randint(8, 19) if rng.random() < 0.1 else rng.randint(40, 120)
        toks = [
            rng.choice(_MARKERS[lang]) if rng.random() < 0.15 else rng.choice(_WORDS)
            for _ in range(n_tok)
        ]
        if rng.random() < 0.05:
            toks.insert(rng.randrange(n_tok), f"user{rng.randrange(999)}@mail.example.com")
        if rng.random() < 0.05:
            toks.insert(rng.randrange(n_tok), f"https://example.com/p/{rng.randrange(999)}")
        if rng.random() < 0.05:
            toks.insert(rng.randrange(n_tok), " ")  # a double space for the cleaner
        texts.append(" ".join(toks))
        langs.append(lang)
        originals.append(i)
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{rng.randrange(20)}" for _ in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    nrng = np.random.default_rng([seed, 2])
    vecs = nrng.normal(0.0, 0.125, (n_vecs, _DIM)).astype(np.float32)
    n_near_vecs = round(near_share * n_vecs)
    near = set(nrng.choice(np.arange(10, n_vecs), n_near_vecs, replace=False).tolist())
    orig_vecs: list[int] = []
    for i in range(n_vecs):
        if i in near:
            src = orig_vecs[nrng.integers(0, len(orig_vecs))]
            vecs[i] = vecs[src] + nrng.normal(0.0, 0.01, _DIM).astype(np.float32)
        else:
            orig_vecs.append(i)
    embeddings = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(nrng.integers(0, 10, n_vecs), pa.int32()),
    })
    stats = {
        "documents": n_docs,
        "embeddings": n_vecs,
        "exact_dup_docs": n_exact,
        "near_dup_docs": n_near,
        "near_dup_vectors": n_near_vecs,
        "stated_exact_share": exact_share,
        "stated_near_share": near_share,
    }
    return {"documents": docs, "embeddings": embeddings}, stats


def write_corpus(out_dir: str, seed: int, **kw) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    tables, stats = corpus_tables(seed, **kw)
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return stats


# --------------------------------------------------------------------------
# vendor universe (vendor_etl)

PAGE_SIZE = 48  # the listing page size the connector requests
REVIEWS_LIMIT = 30
_CUISINES = ["bbq", "thai", "pizza", "sushi", "burger", "curry"]


def _h(*parts) -> int:
    key = ":".join(str(p) for p in parts).encode()
    return int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "big")


class VendorUniverse:
    """The vendor API's content and fault schedule as pure functions of
    the seed.

    Faults, by request path:
      - 400 on ``/vendors/{code}`` for ~8% of vendors (the row degrades to
        null payloads named 'Unknown') and on ``/ratings/{code}`` for ~6%;
      - a one-shot 429 on ~5% of paths (retried by the same client);
      - a one-shot 403 on ~5% of paths (the client pool rotates).
    One-shot faults fire on the first request for a path within a pass.
    """

    #: vendors per city; the seed picks the city ids and which city gets
    #: which size, so every seed lands the same number of vendors and pages
    CITY_SIZES = (14, 17, 20, 52)

    def __init__(self, seed: int, sizes: tuple[int, ...] | None = None):
        rng = random.Random(f"vendors-{seed}")
        sizes = list(sizes or self.CITY_SIZES)
        self.seed = seed
        self.cities = [str(c) for c in sorted(rng.sample(range(1, 1000), len(sizes)))]
        rng.shuffle(sizes)
        self.sizes = dict(zip(self.cities, sizes))

    def codes(self, city: str) -> list[str]:
        return [f"c{city}-v{i:05d}" for i in range(self.sizes.get(city, 0))]

    def n_vendors(self) -> int:
        return sum(self.sizes.values())

    # -- content -----------------------------------------------------------

    def listing(self, city: str, offset: int, limit: int) -> dict:
        codes = self.codes(city)
        page = codes[offset: offset + limit]
        return {"data": {
            "items": [{"code": c} for c in page],
            "returned_count": len(page),
            "available_count": len(codes),
        }}

    def details(self, code: str) -> dict | None:
        """None means the lookup answers HTTP 400."""
        h = _h(self.seed, "details", code)
        if h % 100 < 8:
            return None
        d = {"cuisine": _CUISINES[(h >> 8) % len(_CUISINES)], "idx": int(code.rsplit("v", 1)[1])}
        if (h >> 16) % 17 != 3:
            d["name"] = f"Vendor {code}"
        return d

    def reviews(self, code: str) -> list[dict]:
        """Every review, newest first (the API serves the first 30)."""
        h = _h(self.seed, "reviews", code)
        n = h % 41
        base = 1_700_000_000 + (h >> 8) % 1_000_000
        out = [
            {"review": {"score": (h >> (k % 40)) % 5 + 1, "k": k}, "created_at": base + 17 * k}
            for k in range(n)
        ]
        return out[::-1]

    def ratings(self, code: str) -> dict | None:
        """None means the lookup answers HTTP 400."""
        h = _h(self.seed, "ratings", code)
        if h % 100 < 6:
            return None
        counts = [(h >> (8 * s)) % 50 for s in range(5)]
        total = sum(counts)
        return {
            "total_count": total,
            "ratings": [
                {"count": c, "percentage": (100 * c) // total if total else 0, "score": s + 1}
                for s, c in enumerate(counts)
            ],
        }

    def fault(self, path: str) -> int | None:
        """The one-shot status this path answers on its first request."""
        h = _h(self.seed, "fault", path) % 100
        if h < 5:
            return 429
        if h < 10:
            return 403
        return None

    # -- what the lake must hold ------------------------------------------

    def expected_rows(self, started_at: int, completed_at: int) -> list[tuple]:
        """The rows ``enrich_vendors`` must land, as (city_id, code, name,
        details, batch_number, reviews, ratings, started, completed)."""
        rows = []
        for city in self.cities:
            for rank, code in enumerate(sorted(self.codes(city)), start=1):
                det = self.details(code)
                details = reviews = ratings = None
                name = "Unknown"
                if det is not None:
                    details = json.dumps(det, sort_keys=True)
                    name = det.get("name", "Unknown")
                    revs = self.reviews(code)[:REVIEWS_LIMIT]
                    if revs:
                        texts = sorted(
                            ((r["created_at"], json.dumps(r["review"], sort_keys=True)) for r in revs),
                            reverse=True,
                        )
                        reviews = "[" + ",".join(t for _, t in texts) + "]"
                    rat = self.ratings(code)
                    ratings = None if rat is None else json.dumps(rat, sort_keys=True)
                rows.append((
                    city, code, name, details, math.ceil(rank / PAGE_SIZE),
                    reviews, ratings, started_at, completed_at,
                ))
        return rows

    def useful_requests(self) -> int:
        """Requests a pass needs when nothing is fetched twice: one listing
        page per page plus the page-0 probe, one detail lookup per vendor,
        and reviews + ratings for every vendor whose details answered."""
        n = 0
        for city in self.cities:
            n += 1 + max(1, math.ceil(self.sizes[city] / PAGE_SIZE))
            for code in self.codes(city):
                n += 1 if self.details(code) is None else 3
        return n

"""Seeded input generators and their expected outputs.

Everything here is plain Python (plus pyarrow for the Parquet inputs):
it never imports ``real_estate_bigdata_spark``, so the expected outputs
are computed independently of the code under test. The program only
ever sees the files written here.

Each generator writes into a cache directory keyed by workload, seed and
size, then renames it into place, so a repeated seed reuses its inputs
and an interrupted generation never leaves a half-written cache entry.
"""

from __future__ import annotations

import bisect
import json
import os
import random
import re
import shutil
from collections import Counter

#: bump when a generator's output changes, so stale caches are not reused
GEN_VERSION = 2

#: cache entries kept per workload; older seeds are evicted
CACHE_KEEP = 4

# --------------------------------------------------------------------------
# Listings (FIXTURES.md §1 / §5 value forms)
# --------------------------------------------------------------------------

#: district names; ListingGen draws them Zipf-skewed, in several raw forms
_DISTRICTS = [
    "Đống Đa", "Gò Vấp", "Cầu Giấy", "Thanh Xuân", "Bình Thạnh", "Tân Bình",
    "Hoàng Mai", "Long Biên", "Hai Bà Trưng", "Ba Đình", "Tây Hồ", "Nam Từ Liêm",
    "Bắc Từ Liêm", "Hà Đông", "Thủ Đức", "Bình Tân", "Phú Nhuận", "Tân Phú",
    "Hải Châu", "Sơn Trà", "Ngũ Hành Sơn", "Liên Chiểu", "Cẩm Lệ", "Hòa Vang",
    "Củ Chi", "Hóc Môn", "Nhà Bè", "Cần Giờ", "Gia Lâm", "Đông Anh",
]
_HUYEN = {"Củ Chi", "Hóc Môn", "Nhà Bè", "Cần Giờ", "Gia Lâm", "Đông Anh", "Hòa Vang"}
#: Zipf-skewed sources, so partition pruning has something to prune
SOURCES = ["alonhadat", "batdongsan", "muaban", "nhatot", "chotot"]
_SOURCE_WEIGHTS = [0.45, 0.25, 0.15, 0.1, 0.05]
_CITIES = ["Hà Nội", "Hồ Chí Minh", "Đà Nẵng"]
_STREETS = [
    "Láng", "Nguyễn Trãi", "Lê Lợi", "Trần Hưng Đạo", "Hoàng Hoa Thám",
    "Cách Mạng Tháng Tám", "Võ Văn Tần", "Điện Biên Phủ", "Bạch Đằng", "Huế",
]
_WARDS = ["Láng Thượng", "Bến Nghé", "Phước Mỹ", "Tân Định", "Mỹ An", "Thạch Bàn"]
_MALFORMED = [
    '{{"raw_post_date": "hôm nay", "quan_huyen": "Quận {d}", "raw_price": "2 tỷ"',
    "<html><body>Lỗi 502 — trang {d} không phản hồi</body></html>",
    "quan_huyen={d}; raw_price=1,5 tỷ",
]

#: normalize.py strips these admin prefixes anywhere in the value, then trims
_DISTRICT_PREFIX_RE = re.compile("Quận |Huyện ")


def _zipf_weights(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (k + 1) ** s for k in range(n)]


def normalized_district(raw: str | None) -> str | None:
    """The district the normalized lake must hold: prefixes stripped,
    spaces trimmed (Spark's trim strips spaces only)."""
    if raw is None:
        return None
    return _DISTRICT_PREFIX_RE.sub("", raw).strip(" ")


class ListingGen:
    """Raw crawler records drawn from seeded pools of field values.

    Drawing from pools keeps generation cheap (a few ``random()`` calls
    per record) while every FIXTURES.md §5 value form still occurs.
    ``duong_pho`` ends with the row id, so every row stays identifiable
    after normalization (exactly-once checks)."""

    def __init__(self, seed: int, salt: int) -> None:
        rng = self.rng = random.Random(seed * 1_000_003 + salt)
        ri = rng.randint
        dw = _zipf_weights(len(_DISTRICTS))
        districts = []
        for _ in range(2000):
            roll = rng.random()
            if roll < 0.02:
                districts.append(None)
            elif roll < 0.035:
                districts.append("")
            elif roll < 0.04:
                districts.append("  ")
            else:
                name = rng.choices(_DISTRICTS, dw)[0]
                form = rng.random()
                prefix = "Huyện " if name in _HUYEN else "Quận "
                districts.append(prefix + name if form < 0.5 else
                                 name if form < 0.8 else f" {name} ")  # " Gò Vấp "
        self.districts = districts
        #: (raw price, the price in billions VND normalize must produce)
        self.prices = [self._price(rng) for _ in range(1000)]
        self.sources = rng.choices(SOURCES, _SOURCE_WEIGHTS, k=1000)
        self.post_dates = ["hôm nay", "Hôm Qua ", "n/a"] + [
            f"{ri(1, 28)}/{ri(1, 12)}/2025" for _ in range(97)]
        self.streets = [p + s for p in ("Đường ", "Phố ", "") for s in _STREETS]
        self.wards = [p + w for p in ("Phường ", "Xã ", "") for w in _WARDS]
        self.areas = ["", "abc"] + [f"{ri(20, 300)},{ri(0, 9)} m2" for _ in range(50)] + [
            f"{ri(20, 300)} m" for _ in range(50)]
        self.dims = ["---", ""] + [
            f"Kích thước: {ri(3, 9)},{ri(0, 9)}x{ri(10, 30)}m" for _ in range(100)]
        self.fronts = [None] + [f"{k}m" for k in range(2, 21)]
        self.floors = [None] + [f"{k} lầu" for k in range(1, 8)]
        self.rooms = [None] + [f"{k} phòng ngủ" for k in range(1, 7)]

    @staticmethod
    def _price(rng: random.Random) -> tuple[str, float | None]:
        form = rng.random()
        a, b = rng.randint(1, 30), rng.randint(1, 9)
        if form < 0.35:
            return f"{a},{b} tỷ", float(f"{a}.{b}")
        if form < 0.5:
            return f"giá {a},{b} tỷ", float(f"{a}.{b}")
        if form < 0.6:
            return f"{a}.{b} tỷ", float(f"{a}.{b}")
        if form < 0.7:
            return f"{a} tỷ", float(a)
        if form < 0.85:
            n = rng.randrange(100, 1000, 50)
            return f"{n} triệu", n / 1000
        if form < 0.95:
            return "Thỏa thuận", None
        return "", None

    def record(self, row_id: int) -> tuple[dict, float | None]:
        """(raw record, its expected normalized price)."""
        r = self.rng.random
        price_raw, price = self.prices[int(r() * 1000)]
        rec = {
            "raw_post_date": self.post_dates[int(r() * 100)],
            "duong_pho": f"{self.streets[int(r() * 30)]} {row_id}",
            "phuong_xa": self.wards[int(r() * 18)],
            "quan_huyen": self.districts[int(r() * 2000)],
            "thanh_pho": _CITIES[int(r() * 3)],
            "loai_bds": "Nhà đất",
            "raw_price": price_raw,
            "raw_area": self.areas[int(r() * 102)],
            "raw_kich_thuoc": self.dims[int(r() * 102)],
            "duong_truoc_nha": self.fronts[int(r() * 20)],
            "so_tang": self.floors[int(r() * 8)],
            "so_phong_ngu": self.rooms[int(r() * 7)],
            "cho_de_xe": "Có" if r() < 0.5 else None,
            "source": self.sources[int(r() * 1000)],
            "link": None,
            "title": None,
        }
        return rec, price


class ListingExpect:
    """Expected outputs accumulated while records are generated."""

    def __init__(self) -> None:
        self.rows = 0
        self.malformed = 0
        self.districts: Counter = Counter()
        self.source_districts: dict[str, Counter] = {s: Counter() for s in SOURCES}
        self.source_prices: dict[str, list[float]] = {s: [] for s in SOURCES}
        self.id_sum = 0

    def add(self, rec: dict, price: float | None, row_id: int) -> None:
        self.rows += 1
        self.id_sum += row_id
        src = rec["source"]
        d = normalized_district(rec["quan_huyen"])
        if d:
            self.districts[d] += 1
            self.source_districts[src][d] += 1
        if price is not None:
            self.source_prices[src].append(price)

    def to_json(self) -> dict:
        return {
            "rows": self.rows,
            "malformed": self.malformed,
            "id_sum": self.id_sum,
            "districts": dict(self.districts),
            "source_districts": {s: dict(c) for s, c in self.source_districts.items()},
            "source_prices": {s: sorted(p) for s, p in self.source_prices.items()},
        }


def write_listings_jsonl(out_dir: str, seed: int, n_rows: int, n_files: int,
                         malformed_rate: float = 0.01, first_id: int = 0) -> dict:
    """Raw JSONL zone split over ``n_files`` files, about ``malformed_rate``
    of the lines not JSON at all; returns the expectation."""
    g = ListingGen(seed, 1 + first_id)
    exp = ListingExpect()
    files = [open(os.path.join(out_dir, f"part-{k:03d}.jsonl"), "w", encoding="utf-8")
             for k in range(n_files)]
    try:
        for row_id in range(first_id, first_id + n_rows):
            f = files[row_id % n_files]
            if g.rng.random() < malformed_rate:
                f.write(g.rng.choice(_MALFORMED).format(d=g.rng.choice(_DISTRICTS)) + "\n")
                exp.malformed += 1
                continue
            rec, price = g.record(row_id)
            exp.add(rec, price, row_id)
            f.write(json.dumps(rec, ensure_ascii=False) + "\n")
    finally:
        for f in files:
            f.close()
    return exp.to_json()


#: the analyst query kinds, run in this fixed cycle
QUERY_KINDS = ["district_count", "price_band", "top_k", "source_view"]


def listing_queries(seed: int, exp: dict, n: int, top_k: int = 10) -> list[dict]:
    """Analyst queries, each with its expected answer. Query ``i`` is of
    kind ``QUERY_KINDS[i % 4]`` whatever the seed, so any window of whole
    cycles times every kind equally often; the seed picks only each
    query's parameters (district, source, price band)."""
    rng = random.Random(seed * 1_000_003 + 2)
    districts = sorted(exp["districts"])
    dw = [exp["districts"][d] for d in districts]
    all_prices = sorted(p for ps in exp["source_prices"].values() for p in ps)
    top = sorted(all_prices, reverse=True)[:top_k]
    out = []
    for i in range(n):
        kind = QUERY_KINDS[i % len(QUERY_KINDS)]
        if kind == "district_count":
            d = rng.choices(districts, dw)[0]
            out.append({"kind": kind, "district": d, "expect": exp["districts"][d]})
        elif kind == "price_band":
            src = rng.choice(SOURCES)
            # bounds sit between the generator's 0.05-granular prices
            lo = rng.randint(0, 20) + 0.025
            hi = lo + rng.randint(1, 10)
            ps = exp["source_prices"][src]
            cnt = bisect.bisect_right(ps, hi) - bisect.bisect_left(ps, lo)
            out.append({"kind": kind, "source": src, "lo": lo, "hi": hi, "expect": cnt})
        elif kind == "top_k":
            out.append({"kind": kind, "k": top_k, "expect": top, "matched": len(all_prices)})
        else:
            src = rng.choice(SOURCES)
            out.append({"kind": kind, "source": src,
                        "expect": exp["source_districts"][src]})
    return out


# --------------------------------------------------------------------------
# Kafka-shaped envelopes for the speed layer
# --------------------------------------------------------------------------


def write_envelope_files(out_dir: str, seed: int, first_id: int, n_files: int,
                         rows_per_file: int) -> dict:
    """Parquet files of (key binary, value binary, timestamp) envelopes —
    the shape the Kafka connector yields. Row ids run from ``first_id``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    g = ListingGen(seed, 3 + first_id)
    exp = ListingExpect()
    schema = pa.schema([("key", pa.binary()), ("value", pa.binary()),
                        ("timestamp", pa.timestamp("us", tz="UTC"))])
    row_id = first_id
    base_us = 1_760_000_000_000_000 + seed * 1000
    for k in range(n_files):
        keys, values, ts = [], [], []
        for _ in range(rows_per_file):
            rec, price = g.record(row_id)
            exp.add(rec, price, row_id)
            keys.append(f"listing-{row_id}".encode())
            values.append(json.dumps(rec, ensure_ascii=False).encode("utf-8"))
            ts.append(base_us + row_id)
            row_id += 1
        table = pa.table({"key": keys, "value": values, "timestamp": ts}, schema=schema)
        pq.write_table(table, os.path.join(out_dir, f"env-{k:05d}.parquet"))
    out = exp.to_json()
    out["first_id"] = first_id
    out["files"] = n_files
    return out


# --------------------------------------------------------------------------
# Document corpus for curation
# --------------------------------------------------------------------------

_SYLLABLES = (
    "nhà đất bán cho thuê căn hộ mặt tiền hẻm xe hơi sổ hồng chính chủ gần chợ "
    "trường học bệnh viện công viên view sông thoáng mát yên tĩnh an ninh tiện ích "
    "đầy đủ nội thất cao cấp giá tốt thương lượng pháp lý rõ ràng vị trí đẹp kinh "
    "doanh buôn bán văn phòng phòng ngủ vệ sinh ban công sân thượng gara tầng lầu "
    "trệt lửng đường rộng khu dân cư hiện hữu"
).split()

#: planted structure per block of documents (counts per block)
BLOCK_DOCS = 100
BLOCK_PLAN = {"unique": 70, "exact": 6, "near": 6, "far": 6, "short": 12}
NEAR_MIN_J, FAR_MAX_J = 0.9, 0.5
MIN_TOKENS = 5


def _vocab(rng: random.Random, size: int = 4000) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        words.add(rng.choice(_SYLLABLES) + "_" + rng.choice(_SYLLABLES) + str(rng.randint(0, 99)))
    return sorted(words)


def shingles(tokens: list[str], n: int = 3) -> set[tuple[str, ...]]:
    return {tuple(tokens[i:i + n]) for i in range(len(tokens) - n + 1)}


def jaccard(a: list[str], b: list[str], n: int = 3) -> float:
    sa, sb = shingles(a, n), shingles(b, n)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


def _whitespace_variant(rng: random.Random, tokens: list[str]) -> str:
    seps = [rng.choice([" ", "  ", "\t", " \n", " "]) for _ in tokens[1:]]
    body = tokens[0] + "".join(s + t for s, t in zip(seps, tokens[1:]))
    # the ends carry spaces only: Spark's trim strips spaces, not tabs
    return rng.choice(["", " ", "  "]) + body + rng.choice(["", " ", "  "])


def corpus_block(rng: random.Random, vocab: list[str], block: int) -> tuple[list[tuple], set[int]]:
    """One block of ``BLOCK_DOCS`` docs and the ids curation must keep.

    Duplicates only ever point at an earlier unique doc of the same
    block, so any block curated alone keeps exactly its share of the
    whole corpus's kept ids."""
    base_id = block * BLOCK_DOCS
    docs: list[tuple[int, list[str] | None, str]] = []
    kept: set[int] = set()

    def fresh(lo: int, hi: int) -> list[str]:
        return [rng.choice(vocab) for _ in range(rng.randint(lo, hi))]

    uniques = []
    for _ in range(BLOCK_PLAN["unique"]):
        toks = fresh(40, 60)
        uniques.append(toks)
        docs.append((len(docs), toks, " ".join(toks)))
    kept.update(range(len(docs)))
    bases = rng.sample(range(len(uniques)),
                       BLOCK_PLAN["exact"] + BLOCK_PLAN["near"] + BLOCK_PLAN["far"])
    exact_b = bases[:BLOCK_PLAN["exact"]]
    near_b = bases[BLOCK_PLAN["exact"]:BLOCK_PLAN["exact"] + BLOCK_PLAN["near"]]
    far_b = bases[BLOCK_PLAN["exact"] + BLOCK_PLAN["near"]:]
    for b in exact_b:
        docs.append((len(docs), None, _whitespace_variant(rng, uniques[b])))
    for b in near_b:
        while True:
            toks = list(uniques[b])
            toks[-1] = rng.choice(vocab)
            if jaccard(toks, uniques[b]) >= NEAR_MIN_J:
                break
        docs.append((len(docs), toks, " ".join(toks)))
    for b in far_b:
        half = len(uniques[b]) // 2
        toks = uniques[b][:half] + fresh(half, half)
        if jaccard(toks, uniques[b]) > FAR_MAX_J:
            raise AssertionError("far variant above the keep threshold")
        kept.add(len(docs))
        docs.append((len(docs), toks, " ".join(toks)))
    for _ in range(BLOCK_PLAN["short"]):
        toks = fresh(1, MIN_TOKENS - 1)
        docs.append((len(docs), toks, " ".join(toks)))
    if len(docs) != BLOCK_DOCS:
        raise AssertionError("block plan does not add up")
    # shuffle originals and variants together but keep every variant
    # after its original: ids are assigned in a random topological order
    order = list(range(BLOCK_PLAN["unique"]))
    rng.shuffle(order)
    rest = list(range(BLOCK_PLAN["unique"], BLOCK_DOCS))
    rng.shuffle(rest)
    perm = order + rest  # perm[new_pos] = old index
    new_id = {old: base_id + pos for pos, old in enumerate(perm)}
    out = [(new_id[old], SOURCES[old % len(SOURCES)], docs[old][2]) for old in perm]
    return out, {new_id[k] for k in kept}


def write_corpus(out_dir: str, seed: int, n_blocks: int) -> dict:
    """Corpus as one Parquet file per block (so any block can be curated
    alone) under ``out_dir/blocks``; returns kept ids per block."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed * 1_000_003 + 4)
    vocab = _vocab(rng)
    blocks_dir = os.path.join(out_dir, "blocks")
    os.makedirs(blocks_dir)
    kept: dict[str, list[int]] = {}
    for b in range(n_blocks):
        rows, keep = corpus_block(rng, vocab, b)
        table = pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "source": [r[1] for r in rows],
            "text": [r[2] for r in rows],
        })
        pq.write_table(table, os.path.join(blocks_dir, f"block-{b:05d}.parquet"))
        kept[str(b)] = sorted(keep)
    return {"blocks": n_blocks, "docs": n_blocks * BLOCK_DOCS, "kept": kept}


# --------------------------------------------------------------------------
# Cache
# --------------------------------------------------------------------------


def cached(cache_root: str, name: str, build) -> tuple[str, dict]:
    """Return (dir, expected) for cache entry ``name``, building it with
    ``build(tmp_dir) -> expected`` when absent."""
    final = os.path.join(cache_root, name)
    meta = os.path.join(final, "expected.json")
    if os.path.exists(meta):
        os.utime(final)
        with open(meta, encoding="utf-8") as f:
            return final, json.load(f)
    os.makedirs(cache_root, exist_ok=True)
    tmp = os.path.join(cache_root, f".tmp-{name}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    expected = build(tmp)
    with open(os.path.join(tmp, "expected.json"), "w", encoding="utf-8") as f:
        json.dump(expected, f, ensure_ascii=False)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    _evict(cache_root, name.split("-")[0])
    return final, expected


def _evict(cache_root: str, prefix: str) -> None:
    entries = [e for e in os.listdir(cache_root)
               if e.startswith(prefix + "-") and not e.startswith(".")]
    entries.sort(key=lambda e: os.path.getmtime(os.path.join(cache_root, e)), reverse=True)
    for e in entries[CACHE_KEEP:]:
        shutil.rmtree(os.path.join(cache_root, e), ignore_errors=True)

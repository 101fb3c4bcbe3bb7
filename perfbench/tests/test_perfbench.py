"""Tests of the benchmark's own logic: generators, statistics, span self
time and freshness attribution. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import stats  # noqa: E402


def _listing_dirs(tmp_path, seed, tag):
    d = tmp_path / tag
    d.mkdir()
    exp = gen.write_listings_jsonl(str(d), seed, 3000, 3)
    return d, exp


def test_listing_generator_is_deterministic_per_seed(tmp_path):
    a, exp_a = _listing_dirs(tmp_path, 7, "a")
    b, exp_b = _listing_dirs(tmp_path, 7, "b")
    c, exp_c = _listing_dirs(tmp_path, 8, "c")
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b))
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors
    assert exp_a == exp_b
    assert exp_a != exp_c
    assert gen.listing_queries(7, exp_a, 50) == gen.listing_queries(7, exp_b, 50)
    # every seed runs the same cycle of query kinds; only parameters vary
    kinds = [q["kind"] for q in gen.listing_queries(8, exp_c, 8)]
    assert kinds == [q["kind"] for q in gen.listing_queries(7, exp_a, 8)] == gen.QUERY_KINDS * 2


def test_listing_expectation_matches_the_lines(tmp_path):
    """The expectation is built alongside the lines; re-derive it from the
    written files to pin that the two agree, and that every FIXTURES §5
    district form occurs."""
    d, exp = _listing_dirs(tmp_path, 3, "a")
    rows = malformed = 0
    districts: dict[str, int] = {}
    raw_forms = set()
    for name in os.listdir(d):
        for line in open(d / name, encoding="utf-8"):
            try:
                rec = json.loads(line)
            except json.JSONDecodeError:
                malformed += 1
                continue
            rows += 1
            raw_forms.add(rec["quan_huyen"])
            nd = gen.normalized_district(rec["quan_huyen"])
            if nd:
                districts[nd] = districts.get(nd, 0) + 1
    assert (rows, malformed) == (exp["rows"], exp["malformed"])
    assert 0 < malformed < 0.03 * (rows + malformed)
    assert districts == exp["districts"]
    assert {None, "", "  ", " Gò Vấp "} <= raw_forms
    assert any(f and f.startswith("Quận ") for f in raw_forms)
    assert gen.normalized_district(" Gò Vấp ") == "Gò Vấp"
    assert gen.normalized_district("Huyện Củ Chi") == "Củ Chi"


def test_price_pool_values_follow_the_normalize_rules():
    g = gen.ListingGen(1, 1)
    for raw, price in g.prices:
        low = raw.strip().lower()
        m = re.search(r"([\d.,]+)\s*tỷ", low)
        t = re.search(r"([\d.,]+)\s*triệu", low)
        if "thỏa thuận" in low or not (m or t):
            assert price is None
        elif m:
            assert price == float(m.group(1).replace(",", "."))
        else:
            assert price == float(t.group(1)) / 1000


def _curate_reference(docs, threshold=0.8, min_tokens=gen.MIN_TOKENS):
    """Brute-force mirror of the curation policy: whitespace-exact dedup
    (min id survives), then every later id of a pair with word-3-gram
    Jaccard >= threshold drops, then the token floor."""
    by_text = {}
    for doc_id, _, text in sorted(docs):
        by_text.setdefault(" ".join(text.split()), doc_id)
    survivors = sorted((i, t.split()) for t, i in by_text.items())
    drop = set()
    for x, (i, a) in enumerate(survivors):
        for j, b in survivors[x + 1:]:
            if gen.jaccard(a, b) >= threshold:
                drop.add(j)
    return sorted(i for i, toks in survivors if i not in drop and len(toks) >= min_tokens)


def test_corpus_kept_ids_match_brute_force_curation(tmp_path):
    import random

    rng = random.Random(5)
    vocab = gen._vocab(rng)
    docs, kept = [], set()
    for b in range(3):
        rows, keep = gen.corpus_block(rng, vocab, b)
        docs += rows
        kept |= keep
    assert _curate_reference(docs) == sorted(kept)


def test_corpus_generator_is_deterministic_per_seed(tmp_path):
    a = gen.write_corpus(str(tmp_path / "a"), 11, 2)
    b = gen.write_corpus(str(tmp_path / "b"), 11, 2)
    assert a == b
    assert filecmp.cmp(tmp_path / "a/blocks/block-00001.parquet",
                       tmp_path / "b/blocks/block-00001.parquet", shallow=False)
    assert gen.write_corpus(str(tmp_path / "c"), 12, 2) != a


def test_envelope_generator_is_deterministic_per_seed(tmp_path):
    for tag in ("a", "b"):
        (tmp_path / tag).mkdir()
    a = gen.write_envelope_files(str(tmp_path / "a"), 4, 100, 2, 50)
    b = gen.write_envelope_files(str(tmp_path / "b"), 4, 100, 2, 50)
    assert a == b and a["rows"] == 100 and a["id_sum"] == sum(range(100, 200))
    assert filecmp.cmp(tmp_path / "a/env-00001.parquet", tmp_path / "b/env-00001.parquet",
                       shallow=False)


@pytest.mark.parametrize(
    "n, want_value, want_pct",
    [
        (100, 90, 90.0),  # exactly ten samples (91..100) beyond p90
        (20, 10, 50.0),
        (11, 1, 100 / 11),
        (10, 10, 100.0),  # too few samples: the maximum
        (1, 1, 100.0),
    ],
)
def test_tail_has_ten_samples_beyond_it(n, want_value, want_pct):
    values = list(range(n, 0, -1))  # order must not matter
    value, pct = stats.tail(values)
    assert value == want_value
    assert pct == pytest.approx(want_pct)
    if n > stats.TAIL_BEYOND:
        assert sum(v > value for v in values) == stats.TAIL_BEYOND


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"start": 0.0, "end": 10.0, "parent": None},
        {"start": 1.0, "end": 4.0, "parent": 0},
        {"start": 3.0, "end": 5.0, "parent": 0},  # overlaps its sibling
        {"start": 8.0, "end": 12.0, "parent": 0},  # runs past its parent
        {"start": 1.5, "end": 2.0, "parent": 1},  # grandchild: not the root's
    ]
    assert stats.self_times(spans) == pytest.approx([10 - 4 - 2, 3 - 0.5, 2, 4, 0.5])


def _write_log(path, entries, version="v1"):
    with open(path, "w", encoding="utf-8") as f:
        f.write(version + "\n")
        for e in entries:
            f.write(json.dumps(e) + "\n")


def test_freshness_reads_compacted_source_logs(tmp_path):
    """The file source compacts its log into ``N.compact``; files listed
    only there must still count as committed."""
    src = tmp_path / "sources" / "0"
    commits = tmp_path / "commits"
    src.mkdir(parents=True)
    commits.mkdir()

    def entry(name, batch):
        return {"path": f"file:///lake/live/{name}", "timestamp": 0, "batchId": batch}

    # batches 0..9 live only in the compacted file; 10 and 11 are plain
    _write_log(src / "9.compact", [entry(f"f{b}.parquet", b) for b in range(10)])
    _write_log(src / "10", [entry("f10.parquet", 10)])
    _write_log(src / "11", [entry("f11.parquet", 11), entry("g11.parquet", 11)])
    (src / ".11.crc").write_bytes(b"\x00")
    for b in range(11):  # batch 11 has not committed yet
        (commits / str(b)).write_text('v1\n{"nextBatchWatermarkMs":0}\n')
        os.utime(commits / str(b), ns=(0, (100 + b) * 10**9))

    scheduled = {f"f{b}.parquet": 99.5 + b for b in range(12)}
    scheduled["never.parquet"] = 1.0
    lat, missing = stats.freshness(scheduled, str(tmp_path))
    assert lat == {f"f{b}.parquet": pytest.approx(0.5) for b in range(11)}
    assert missing == ["f11.parquet", "never.parquet"]
    assert stats.source_file_batches(str(src))["g11.parquet"] == 11

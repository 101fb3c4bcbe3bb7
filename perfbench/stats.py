"""Pure helpers: percentiles, span self time and checkpoint-log parsing.

Nothing here touches Spark, so the tests cover it without a session.
"""

from __future__ import annotations

import json
import os

#: a tail percentile needs at least this many samples beyond it
TAIL_BEYOND = 10


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least
    ``beyond`` samples above it. With ``beyond`` or fewer samples no such
    percentile exists and the maximum is returned as percentile 100."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    if len(s) <= beyond:
        return s[-1], 100.0
    i = len(s) - beyond - 1
    return s[i], 100.0 * (i + 1) / len(s)


def self_times(spans: list[dict]) -> list[float]:
    """Self time of each span: its duration minus the part of its
    interval that its direct children cover. Spans are dicts with
    ``start``, ``end`` and ``parent`` (an index into ``spans`` or None)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out = []
    for i, sp in enumerate(spans):
        lo, hi = sp["start"], sp["end"]
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in sorted((max(s, lo), min(e, hi)) for s, e in children.get(i, [])):
            if s >= e:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append((hi - lo) - covered)
    return out


def _metadata_log_entries(log_dir: str) -> dict[int, list[dict]]:
    """Entries of a Spark metadata log directory by batch file, reading
    both plain batch files (``N``) and compacted ones (``N.compact``).
    The file source compacts its log every few batches; a compacted file
    holds the entries of every batch up to and including ``N``."""
    out: dict[int, list[dict]] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        base = name[: -len(".compact")] if name.endswith(".compact") else name
        if not base.isdigit():
            continue  # checksum and temp files
        with open(os.path.join(log_dir, name), encoding="utf-8") as f:
            lines = f.read().splitlines()
        if not lines or not lines[0].startswith("v"):
            continue
        out[int(base)] = [json.loads(ln) for ln in lines[1:] if ln.strip()]
    return out


def source_file_batches(source_log_dir: str) -> dict[str, int]:
    """File name -> id of the micro-batch that read it, from a file
    stream source's log (``<checkpoint>/sources/0``)."""
    out: dict[str, int] = {}
    for entries in _metadata_log_entries(source_log_dir).values():
        for e in entries:
            out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def commit_times(commits_dir: str) -> dict[int, float]:
    """Batch id -> wall-clock time its commit was written."""
    out: dict[int, float] = {}
    if not os.path.isdir(commits_dir):
        return out
    for name in os.listdir(commits_dir):
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(commits_dir, name)).st_mtime_ns / 1e9
    return out


def freshness(scheduled: dict[str, float], checkpoint_dir: str) -> tuple[dict[str, float], list[str]]:
    """Per published file: commit time of the micro-batch that wrote it
    minus its scheduled publish time. Returns (latencies, files never
    committed)."""
    batches = source_file_batches(os.path.join(checkpoint_dir, "sources", "0"))
    commits = commit_times(os.path.join(checkpoint_dir, "commits"))
    lat, missing = {}, []
    for name, t in scheduled.items():
        b = batches.get(name)
        if b is None or b not in commits:
            missing.append(name)
        else:
            lat[name] = commits[b] - t
    return lat, sorted(missing)

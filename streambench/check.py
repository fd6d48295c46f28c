"""Output check: what the sinks hold against what the generator promised.

Three checks run on every benchmark run:

1. **Labels** — every generated event with an id must appear exactly once,
   in the sink its label names (good TSV, or failed TSV); the bad sink
   must hold exactly one row per ``bad`` label plus one
   ``enrichment_failures`` row per ``failed`` label.
2. **Reference** — the warm-up batch, every k-th message of the first
   timed batch, runs first as one partition into reference sinks. Every
   reference row must appear in the timed sinks, with the run-time fields
   (``etl_tstamp`` and bad-row failure timestamps) left out of the
   comparison.
3. **Metadata** — the metadata sink's totals per group key (event counts
   and entity schemas) must equal those recomputed from the good TSV, so
   the batch boundaries of a run do not matter.
"""

from __future__ import annotations

import json
from collections import Counter
from pathlib import Path

SINKS = ("good", "bad", "failed", "metadata")
# TSV columns (schema.ATOMIC_FIELDS order)
_EVENT_ID = 6
_ETL_TSTAMP = 2
_DERIVED = 122    # derived_contexts
_META_KEY = {"event_vendor": 125, "event_name": 126, "event_format": 127, "event_version": 128,
             "app_id": 0, "v_tracker": 9, "platform": 1}


def read_sinks(root: Path) -> dict[str, list[str]]:
    """Lines per sink."""
    out: dict[str, list[str]] = {}
    for s in SINKS:
        lines: list[str] = []
        for f in sorted((root / s).glob("part-*")):
            with open(f, encoding="utf-8") as fh:
                lines.extend(line.rstrip("\n") for line in fh)
        out[s] = lines
    return out


def _tsv_key(line: str) -> str:
    cells = line.split("\t")
    del cells[_ETL_TSTAMP]
    return "\t".join(cells)


def _bad_key(line: str) -> str:
    doc = json.loads(line)
    data = doc.get("data") if isinstance(doc, dict) else None
    if isinstance(data, dict):
        failure = data.get("failure")
        if isinstance(failure, dict):
            failure.pop("timestamp", None)
        payload = data.get("payload")
        if isinstance(payload, dict) and isinstance(payload.get("enriched"), dict):
            payload["enriched"].pop("etl_tstamp", None)
    return json.dumps(doc, sort_keys=True, separators=(",", ":"))


def _metadata_totals(rows) -> dict[tuple, tuple[int, list[str]]]:
    """(group key, n_events, entity schemas) rows → totals per key."""
    totals: dict[tuple, list] = {}
    for key, n, schemas in rows:
        acc = totals.setdefault(key, [0, set()])
        acc[0] += n
        acc[1].update(schemas)
    return {k: (n, sorted(s)) for k, (n, s) in totals.items()}


def _good_metadata(line: str):
    cells = line.split("\t")
    derived = json.loads(cells[_DERIVED])["data"] if cells[_DERIVED] else []
    return (tuple(cells[i] or None for i in _META_KEY.values()), 1,
            [c["schema"] for c in derived])


def _sink_metadata(line: str):
    row = json.loads(line)
    return (tuple(row.get(k) for k in _META_KEY), int(row.get("n_events", 0)),
            row.get("entity_schemas") or [])


def metadata_mismatches(sinks: dict[str, list[str]]) -> int:
    """Group keys whose metadata-sink totals differ from the good TSV's."""
    want = _metadata_totals(map(_good_metadata, sinks["good"]))
    got = _metadata_totals(map(_sink_metadata, sinks["metadata"]))
    return sum(want.get(k) != got.get(k) for k in want.keys() | got.keys())


def missing_reference_rows(ref: dict[str, list[str]], sinks: dict[str, list[str]]) -> int:
    """Reference rows (run-time fields left out) not found in ``sinks``,
    counted with multiplicity."""
    keyer = {"good": _tsv_key, "failed": _tsv_key, "bad": _bad_key}
    return sum(sum((Counter(map(k, ref[s])) - Counter(map(k, sinks[s]))).values())
               for s, k in keyer.items())


def check_labels(sinks: dict[str, list[str]],
                 labels: list[tuple[str | None, str]]) -> dict:
    """Per-sink counts against the labels, plus the number of input events
    not accounted for exactly once in their expected sink."""
    expected = Counter(outcome for _, outcome in labels)
    want_bad = expected["bad"] + expected["failed"]
    seen = {s: Counter(line.split("\t")[_EVENT_ID] for line in sinks[s])
            for s in ("good", "failed")}
    unaccounted = 0
    for eid, outcome in labels:
        if eid is None:
            continue
        if outcome == "bad":
            hits = seen["good"][eid] + seen["failed"][eid]
            unaccounted += hits > 0
            continue
        other = "failed" if outcome == "good" else "good"
        unaccounted += seen[outcome][eid] != 1 or seen[other][eid] != 0
    known = {eid for eid, _ in labels if eid is not None}
    # rows for ids the generator never sent, and bad-row count drift
    unaccounted += sum(n for s in seen.values() for eid, n in s.items() if eid not in known)
    unaccounted += abs(len(sinks["bad"]) - want_bad)
    counts = {"good": len(sinks["good"]), "bad": len(sinks["bad"]),
              "failed": len(sinks["failed"])}
    want = {"good": expected["good"], "bad": want_bad, "failed": expected["failed"]}
    return {"counts": counts, "expected": want, "unaccounted": unaccounted,
            "counts_ok": counts == want and unaccounted == 0}

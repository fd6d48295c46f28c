"""The benchmark's own tests: generator determinism and the output check.

    python3 -m pytest streambench -q -p no:cacheprovider

No Spark session is started here.
"""

from __future__ import annotations

import json

import pytest

from enrich_spark.loaders.thrift import decode_payload
from enrich_spark.sources.decompress import debatch_bytes
from streambench import check, gen
from streambench.run import tail_latency


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_same_seed_same_bytes_and_labels(workload):
    a = gen.Generator(workload, 7)
    b = gen.Generator(workload, 7)
    for _ in range(3):
        x, y = a.next_batch(), b.next_batch()
        assert x.messages == y.messages
        assert x.labels == y.labels
    assert a.geo_rows == b.geo_rows
    assert a.schemas == b.schemas


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_other_seed_other_bytes(workload):
    assert gen.generate(workload, 1, 1)[0].messages != gen.generate(workload, 2, 1)[0].messages


def test_generate_is_a_prefix_of_the_sequence():
    g = gen.Generator("dirty_mix", 3)
    first_two = [g.next_batch(), g.next_batch()]
    assert [b.labels for b in gen.generate("dirty_mix", 3, 2)] == [b.labels for b in first_two]


def test_web_get_is_one_good_event_per_message():
    (b,) = gen.generate("web_get", 5, 1)
    assert len(b.messages) == b.n_events
    assert {outcome for _, outcome in b.labels} == {"good"}
    decoded = decode_payload(b.messages[0])
    assert decoded["path"] == "/i" and "eid=" in decoded["querystring"]


def test_tp2_batched_archives_carry_ten_to_twentyfive_events_per_payload():
    (b,) = gen.generate("tp2_batched", 5, 1)
    n_events = 0
    for m in b.messages:
        records = debatch_bytes(m)
        assert all(err is None for _, err in records)
        for payload, _ in records:
            events = json.loads(decode_payload(payload)["body"])["data"]
            assert 10 <= len(events) <= 25
            assert all("ue_px" in e and "cx" in e for e in events)
            n_events += len(events)
    assert n_events == b.n_events


def test_dirty_mix_fails_about_half_by_design():
    counts = gen.label_counts(gen.generate("dirty_mix", 9, 4))
    failing = counts["bad"] + counts["failed"]
    assert 0.35 < failing / sum(counts.values()) < 0.65
    assert counts["failed"] > 0


def test_every_event_id_is_unique():
    labels = [lab for b in gen.generate("dirty_mix", 4, 3) for lab in b.labels]
    ids = [eid for eid, _ in labels if eid is not None]
    assert len(ids) == len(set(ids))


def _tsv(eid, etl="2026-01-01 00:00:00.000", extra="x", name="page_view", derived=""):
    cells = [""] * 131
    cells[2], cells[6], cells[7] = etl, eid, extra
    cells[0], cells[126], cells[122] = "app", name, derived
    return "\t".join(cells)


def test_reference_rows_are_found_regardless_of_order_and_run_time_fields():
    bad = {"schema": "s", "data": {"failure": {"timestamp": "t1", "messages": []},
                                   "payload": {"enriched": {"etl_tstamp": "e1", "event_id": "a"}}}}
    bad2 = json.loads(json.dumps(bad))
    bad2["data"]["failure"]["timestamp"] = "t2"
    bad2["data"]["payload"]["enriched"]["etl_tstamp"] = "e2"
    ref = {"good": [_tsv("a"), _tsv("b")], "bad": [json.dumps(bad)], "failed": []}
    timed = {"good": [_tsv("c"), _tsv("b", etl="later"), _tsv("a")], "bad": [json.dumps(bad2)],
             "failed": []}
    assert check.missing_reference_rows(ref, timed) == 0
    changed = dict(timed, good=[_tsv("c"), _tsv("b", extra="y"), _tsv("a")])
    assert check.missing_reference_rows(ref, changed) == 1
    # multiplicity counts: two equal reference rows need two timed rows
    assert check.missing_reference_rows(dict(ref, bad=[json.dumps(bad)] * 2), timed) == 1


def test_metadata_is_checked_against_the_good_sink():
    derived = json.dumps({"schema": "contexts", "data": [{"schema": "ua", "data": {}}]})
    good = [_tsv("a", derived=derived), _tsv("b"), _tsv("c", name="ping")]
    meta = [json.dumps({"app_id": "app", "event_name": "page_view", "n_events": 1,
                        "entity_schemas": ["ua"]}),
            json.dumps({"app_id": "app", "event_name": "page_view", "n_events": 1}),
            json.dumps({"app_id": "app", "event_name": "ping", "n_events": 1})]
    assert check.metadata_mismatches({"good": good, "metadata": meta}) == 0
    assert check.metadata_mismatches({"good": good, "metadata": meta[:2]}) == 1
    assert check.metadata_mismatches({"good": good[:2], "metadata": meta}) == 1


def test_label_check_counts_missing_duplicate_and_misplaced_events():
    labels = [("a", "good"), ("b", "good"), ("c", "failed"), (None, "bad")]
    ok = {"good": [_tsv("a"), _tsv("b")], "failed": [_tsv("c")], "bad": ["{}", "{}"]}
    assert check.check_labels(ok, labels)["counts_ok"]
    broken = {"good": [_tsv("a"), _tsv("a"), _tsv("c")], "failed": [], "bad": ["{}"]}
    res = check.check_labels(broken, labels)
    # b missing, a duplicated, c misplaced, one bad row short
    assert not res["counts_ok"] and res["unaccounted"] == 4


def test_tail_latency_needs_ten_samples_beyond():
    assert tail_latency([3.0, 1.0, 2.0])[0] == 3.0
    samples = [float(i) for i in range(1, 41)]  # 40 samples → p75
    value, desc = tail_latency(samples)
    assert value == 30.0 and desc.startswith("p75.0")

"""The benchmark's own checks: seeded inputs are deterministic, and the
metric names it emits are the ones ``BENCHMARK.json`` declares.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
from collections import Counter

import pytest

from perfbench import gen
from perfbench.metrics import END_TO_END, HIGHER_IS_BETTER, PER_LAYER, result_line
from perfbench.tracing import Span, Tracer, _merged_length
from perfbench.wl_online import planted_mentions

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _digests(seed: int) -> dict[str, str]:
    gaz, men, _truth = gen.link_inputs(seed, n_entities=200, n_mentions=1500)
    requests, statuses = gen.request_batch(seed, 0, 40)
    return {
        "transcripts": gen.frame_digest(gen.transcripts_frame(seed, n_convs=12, avg_turns=6)),
        "gazetteer": gen.frame_digest(gaz),
        "mentions": gen.frame_digest(men),
        "requests": gen.frame_digest(requests) + json.dumps(statuses, sort_keys=True),
        "planted": gen.frame_digest(planted_mentions(seed)),
    }


def test_same_seed_same_inputs_and_other_seed_other_inputs():
    a, b, c = _digests(7), _digests(7), _digests(8)
    assert a == b
    for name in a:
        assert a[name] != c[name], name


def test_link_inputs_plant_every_kind_and_no_false_exact():
    gaz, men, truth = gen.link_inputs(3, n_entities=300, n_mentions=3000)
    kinds = {k for k, _e in truth.values()}
    assert kinds == {"exact", "typo", "unknown"}
    aliases = set(gaz["alias_norm"])
    for (key, (kind, _eid)), norm in zip(truth.items(), men["mention_norm"]):
        assert (norm in aliases) == (kind == "exact"), key
    assert len(truth) == len(men)


def test_request_batch_plants_every_status_in_fixed_counts():
    _pdf, statuses = gen.request_batch(5, 0, 200)
    assert set(statuses.values()) == {200, 400, 413}
    counts = {s: sorted(Counter(gen.request_batch(s, b, 48)[1].values()).items())
              for s in (1, 2) for b in (0, 3)}
    assert len(set(map(tuple, counts.values()))) == 1, counts


def test_jaccard_matches_char3_definition():
    assert gen.char3_shingles("ab") == {"^ab", "ab$"}
    assert gen.jaccard("acme corp", "acme corp") == 1.0
    assert 0.0 < gen.jaccard("acme corp", "acme crop") < 1.0


def test_emitted_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert len(PER_LAYER) <= 128
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert m["better"] == ("higher" if m["name"] in HIGHER_IS_BETTER else "lower"), m["name"]


def test_result_line_refuses_a_partial_metric_set():
    values = dict.fromkeys(END_TO_END, 1.0)
    line = result_line(True, 3, 0, values, END_TO_END)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert set(line["metrics"]) == set(END_TO_END)
    values.pop("setup_s")
    with pytest.raises(ValueError, match="setup_s"):
        result_line(True, 3, 0, values, END_TO_END)


def test_self_time_and_busy_window_union():
    tr = Tracer()
    tr.spans = [
        Span(0, "op.x", "op", 1, None, 0.0, 10.0),
        Span(1, "a", "a", 1, 0, 1.0, 4.0),
        Span(2, "b", "b", 1, 0, 5.0, 6.0),
    ]
    assert tr.self_times() == {0: 6.0, 1: 3.0, 2: 1.0}
    assert _merged_length([(0, 2), (1, 3), (5, 6)]) == 4

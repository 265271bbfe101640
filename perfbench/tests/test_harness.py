"""Self-tests of the benchmark harness (no Spark session needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow as pa

from cdcbench import oracle as O
from cdcbench.gen import ChangeStream, LsnClock, envelope_lines, make_table, wal_script
from cdcbench.trace import Span, self_times
from cdcbench.workloads import END_TO_END, PER_LAYER, WAL_TABLES

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _inputs_digest(seed: int) -> str:
    """Hash of every input kind the workloads generate for one seed."""
    h = hashlib.sha256()
    stream = ChangeStream(seed, WAL_TABLES, key_space=2_000, malformed_share=0.05)
    for frame in wal_script(list(WAL_TABLES), stream.take(500), LsnClock()):
        h.update(frame)
    for line in envelope_lines(
        [c for c in stream.take(200) if not c.malformed], LsnClock()
    ):
        h.update(line.encode())
    for name, col in make_table("orders", 300, seed).items():
        h.update(name.encode() + repr(col).encode())
    return h.hexdigest()


def test_generator_is_byte_identical_per_seed_and_differs_across_seeds():
    assert _inputs_digest(7) == _inputs_digest(7)
    assert _inputs_digest(7) != _inputs_digest(8)


def test_change_stream_injects_both_malformed_kinds_and_counts_them():
    stream = ChangeStream(3, WAL_TABLES, key_space=500, malformed_share=0.2)
    changes = stream.take(2_000)
    kinds = {c.op for c in changes if c.malformed}
    assert kinds == {"unknown_oid", "arity_mismatch"}
    assert stream.model.dead_letters == sum(c.malformed for c in changes)
    assert {c.op for c in changes if not c.malformed} == {"insert", "update", "delete"}


def test_oracle_rejects_a_wrong_row_and_a_missing_row():
    expected = {1: (1, "a", 1.5), 2: (2, "b", 2.5), 3: (3, "c", 3.5)}
    d = O.diff_table(expected, [(1, "a", 1.5), (2, "WRONG", 2.5)])
    assert (d.wrong, d.missing, d.extra) == (1, 1, 0)
    v = O.Verdict(attempted=3)
    v.table("t", d)
    assert v.failed == 2 and not v.correct
    assert O.diff_table(expected, [(1, "a", 1.5), (2, "b", 2.5), (3, "c", 3.5)]).mismatched_keys == 0


def test_oracle_counts_a_null_key_live_row_apart_from_valid_keys():
    d = O.diff_table({1: (1, "a")}, [(1, "a"), (None, None)])
    assert d.mismatched_keys == 0 and d.null_key == 1


def test_oracle_rejects_a_missing_dead_letter():
    v = O.Verdict(attempted=10)
    v.dead_letters(expected=3, got=2)
    assert v.failed == 1 and v.correct  # judged op by op, valid traffic untouched
    ok = O.Verdict(attempted=10)
    ok.dead_letters(expected=3, got=3)
    assert ok.failed == 0 and not ok.notes


def test_arrow_fast_path_agrees_with_the_row_diff():
    expected = pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]})
    shuffled = pa.table({"k": [3, 1, 2], "v": ["c", "a", "b"]})
    assert O.same_table(expected, shuffled)
    wrong = pa.table({"k": [3, 1, 2], "v": ["c", "a", "X"]})
    assert not O.same_table(expected, wrong)
    assert O.diff_arrow(expected, wrong).wrong == 1


def test_es_documents_parse_back_to_the_typed_model():
    like = pa.table({
        "c_custkey": pa.array([7], pa.int64()),
        "c_name": ["n#7"],
        "c_nationkey": pa.array([3], pa.int32()),
        "c_acctbal": [-12.5],
        "c_mktsegment": ["BUILDING"],
    })
    doc = json.dumps({"lsn": 0, "key": "public.customer:7", "data": {
        "c_custkey": "7", "c_name": "n#7", "c_nationkey": "3",
        "c_acctbal": "-12.5", "c_mktsegment": "BUILDING"}})
    assert O.same_table(like, O.docs_table("customer", [doc], like))


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, "w", None)


def test_self_time_subtracts_merged_child_coverage_clipped_to_the_parent():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 3.0, parent=0),
        _span(2, 2.0, 5.0, parent=0),  # overlaps span 1: [1, 5] covered once
        _span(3, 7.0, 8.0, parent=0),
        _span(4, 9.0, 12.0, parent=0),  # runs past its parent: only [9, 10] counts
        _span(5, 1.5, 2.0, parent=1),  # grandchild: charged to span 1, not span 0
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - (4.0 + 1.0 + 1.0)
    assert st[1] == 2.0 - 0.5
    assert st[2] == 3.0 and st[5] == 0.5


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER

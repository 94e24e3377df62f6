"""Self-checks of the benchmark's own helpers (no Spark needed).

Run from the repository root::

    python3 -m pytest -q -p no:cacheprovider perfbench/test_stats.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import files_to_batches, tail_percentile, union_length  # noqa: E402
from tracing import Tracer, sink_kind  # noqa: E402


def test_tail_needs_ten_samples_beyond():
    assert tail_percentile(list(range(10))) is None
    assert tail_percentile(list(range(11))) == (0, 100 / 11, 11)
    value, pct, n = tail_percentile(list(range(1, 21)))
    assert (value, pct, n) == (10, 50.0, 20)
    value, pct, n = tail_percentile(list(range(100)))
    assert (value, pct, n) == (89, 90.0, 100)


def test_tail_counts_only_samples_strictly_beyond():
    # Nine values above 2, so 2 cannot be the tail; ten above 1.
    assert tail_percentile([1] * 5 + [2] * 3 + [3] * 9) == (1, 100 * 5 / 17, 17)
    assert tail_percentile([7] * 30) is None


def test_union_counts_overlaps_once():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3)]) == 3
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10
    assert union_length([(5, 6), (0, 1), (0.5, 2)]) == 3
    assert union_length([(0, 1), (1, 2)]) == 2


def test_union_clips_to_window():
    # Jobs reaching outside a batch's window count only inside it.
    assert union_length([(-5, 1), (3, 20)], lo=0, hi=10) == 8
    assert union_length([(11, 12)], lo=0, hi=10) == 0.0


def _write_log(path, name, entries):
    with open(os.path.join(path, name), "w") as fh:
        fh.write("v1\n")
        for path_, batch in entries:
            fh.write(json.dumps({"path": f"file://{path_}", "timestamp": 1,
                                 "batchId": batch}) + "\n")


def test_files_to_batches_reads_compact_files(tmp_path):
    log = str(tmp_path)
    # A compacted log: 9.compact replaces 0..9; batches 10 and 11 follow.
    _write_log(log, "9.compact", [(f"/src/f{b}.jsonl", b) for b in range(10)])
    _write_log(log, "10", [("/src/f10.jsonl", 10), ("/src/f10b.jsonl", 10)])
    _write_log(log, "11", [("/src/f11.jsonl", 11)])
    open(os.path.join(log, ".11.crc"), "w").close()
    open(os.path.join(log, ".12.tmp"), "w").close()
    got = files_to_batches(log)
    assert got == {**{f"f{b}.jsonl": b for b in range(10)},
                   "f10.jsonl": 10, "f10b.jsonl": 10, "f11.jsonl": 11}


def test_files_to_batches_keys_by_entry_batch_id(tmp_path):
    log = str(tmp_path)
    _write_log(log, "3", [("/src/a.jsonl", 2)])
    assert files_to_batches(log) == {"a.jsonl": 2}


def test_sink_kind_from_output_path():
    assert sink_kind("/w/alerts") == "alerts"
    assert sink_kind("/w/lake") == "lake"
    assert sink_kind("/w/dead_letter/") == "dead_letter"
    assert sink_kind("/w/star/fact_sensor_readings") == "fact"
    assert sink_kind("/w/star/dim_time") == "dims"


def test_spans_nest_and_carry_the_batch_id():
    tracer = Tracer()
    inner = tracer.wrap(lambda: None, lambda a: "inner")
    outer = tracer.wrap(lambda df, batch: inner(), lambda a: "outer", batch_arg=1)
    outer("df", 7)
    inner()
    by_name = {}
    for s in tracer.spans:
        by_name.setdefault(s["name"], []).append(s)
    (root,) = by_name["outer"]
    nested, loose = by_name["inner"]
    assert root["batch"] == 7 and root["parent"] is None
    assert nested["parent"] == root["id"] and nested["batch"] == 7
    assert loose["parent"] is None and loose["batch"] is None
    assert root["start"] <= nested["start"] <= nested["end"] <= root["end"]

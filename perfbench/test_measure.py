"""Tests for the benchmark's measurement helpers.

    python3 -m pytest perfbench/test_measure.py -q
"""

from __future__ import annotations

import gzip
import os
import subprocess
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import measure  # noqa: E402


def test_percentile_interpolates():
    assert measure.percentile([1, 2, 3, 4], 50) == 2.5
    assert measure.percentile([5], 90) == 5
    assert measure.percentile([0, 10], 90) == 9
    with pytest.raises(ValueError):
        measure.percentile([], 50)


def test_summarize_reports_count_and_tail_only_with_ten_beyond():
    assert measure.summarize([3.0, 1.0, 2.0]) == {"median": 2.0, "n": 3}
    ten = measure.summarize([float(i) for i in range(10)])
    assert set(ten) == {"median", "n"}  # no percentile has ten samples beyond it
    s = measure.summarize([float(i) for i in range(20)])
    assert s["n"] == 20 and s["median"] == 9.5
    assert s["p50"] == 9.5  # 20 samples: ten lie above the 50th percentile
    s = measure.summarize([float(i) for i in range(100)])
    assert s["p90"] == pytest.approx(89.1)


def test_gzip_isize_sums_staged_chunks(tmp_path):
    payloads = [b"a,b\n" * 1000, b"x" * 12345, b""]
    for i, data in enumerate(payloads):
        with gzip.open(tmp_path / f"t{i}0.csv.gz", "wb") as f:
            f.write(data)
    files = measure.dir_files(str(tmp_path), ".csv.gz")
    assert sum(measure.gzip_isize(p) for p in files) == sum(map(len, payloads))


def test_bytes_written_counts_new_and_changed_files(tmp_path):
    (tmp_path / "keep").write_bytes(b"1" * 10)
    (tmp_path / "change").write_bytes(b"2" * 10)
    before = measure.dir_files(str(tmp_path))
    time.sleep(0.01)
    (tmp_path / "change").write_bytes(b"3" * 20)
    (tmp_path / "new").write_bytes(b"4" * 5)
    assert measure.bytes_written(before, measure.dir_files(str(tmp_path))) == 25


def _span(sid, start, end, parent=None):
    s = measure.Span(sid, f"s{sid}", start, parent, "r", {})
    s.end = end
    return s


def test_self_time_subtracts_union_of_overlapping_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 6.0, parent=0),  # overlaps span 1: union is 1..6
        _span(3, 8.0, 12.0, parent=0),  # runs past the parent: clipped to 8..10
        _span(4, 2.0, 3.0, parent=1),  # grandchild: only its parent's self time
    ]
    st = measure.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert measure.uncovered_share(spans[0], spans) == pytest.approx(0.3)


def test_tracer_nests_spans_and_wraps_functions():
    tr = measure.Tracer("run-1")

    class Box:
        calls = 0

        @classmethod
        def make(cls, x):
            cls.calls += 1
            return x * 2

    undo = tr.wrap(Box, "make", "box.make",
                   on_return=lambda s, args, r: s.attrs.update(result=r))
    with tr.span("op"):
        assert Box.make(21) == 42
    undo()
    assert Box.make(1) == 2  # unwrapped: no span recorded
    op, inner = tr.spans
    assert inner.parent == op.id and inner.run == "run-1"
    assert inner.attrs == {"result": 42} and Box.calls == 2


def test_parse_stat_handles_spaces_and_parens_in_comm():
    fields = ["S", "77"] + ["0"] * 9 + ["100", "50", "20", "30"] + ["0"] * 5
    raw = "1234 (a (weird) name) " + " ".join(fields)
    ppid, cpu = measure.parse_stat(raw)
    assert ppid == 77
    assert cpu == pytest.approx(200 / measure.CLK_TCK)


def test_tree_cpu_includes_live_and_reaped_children():
    burn = "import time\nt=time.process_time()\nwhile time.process_time()-t<0.3: pass"
    before = measure.tree_cpu_seconds([os.getpid()])
    subprocess.run([sys.executable, "-c", burn], check=True)  # reaped child
    child = subprocess.Popen(
        [sys.executable, "-c", burn + "\nimport sys; sys.stdin.read()"],
        stdin=subprocess.PIPE,
    )
    try:
        time.sleep(0.6)
        during = measure.tree_cpu_seconds([os.getpid()])
    finally:
        child.communicate(b"", timeout=10)
    assert during - before >= 0.5  # 0.3 reaped + 0.3 live, less tick rounding
    assert os.getpid() in measure.tree_pids([os.getpid()])

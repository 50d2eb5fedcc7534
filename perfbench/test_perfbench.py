"""Self-tests of the benchmark's generators and span arithmetic.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from perfbench import gen
from perfbench.trace import Span, layer_table, self_times

SF = 0.001  # the smallest catalog: every table at its floor size
FEED = dict(n_events=2_000, n_users=50, n_files=4)


def _write_all(root: str, seed: int) -> None:
    gen.write_tables(os.path.join(root, "tables"), seed, SF)
    gen.write_control_inputs(os.path.join(root, "control"), seed)
    gen.write_event_feed(os.path.join(root, "feed"), seed, **FEED)


def _files(root: str) -> dict[str, str]:
    """Relative path -> absolute path of every generated file."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            out[os.path.relpath(p, root)] = p
    return out


def _size(path: str) -> int:
    """Rows of a parquet file, lines of a CSV."""
    if path.endswith(".parquet"):
        return pq.read_metadata(path).num_rows
    with open(path, "rb") as f:
        return sum(1 for _ in f)


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    root = tmp_path_factory.mktemp("inputs")
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        _write_all(str(root / name), seed)
    return {k: _files(str(root / k)) for k in "abc"}


def test_same_seed_gives_byte_identical_inputs(inputs):
    a, b = inputs["a"], inputs["b"]
    assert sorted(a) == sorted(b)
    assert len(a) == 10 + 5 + FEED["n_files"] + 1
    for rel in a:
        with open(a[rel], "rb") as fa, open(b[rel], "rb") as fb:
            assert fa.read() == fb.read(), rel


def test_another_seed_gives_inputs_of_the_same_sizes(inputs):
    a, c = inputs["a"], inputs["c"]
    assert sorted(a) == sorted(c)
    differ = False
    for rel in a:
        if rel.startswith("feed"):
            continue  # lateness moves rows between files; total below
        assert _size(a[rel]) == _size(c[rel]), rel
        with open(a[rel], "rb") as fa, open(c[rel], "rb") as fc:
            differ |= fa.read() != fc.read()
    assert differ, "seed 8 generated the same bytes as seed 7"

    def feed_rows(files):
        return sum(_size(p) for r, p in files.items() if r.startswith("feed"))

    assert feed_rows(a) == feed_rows(c) == FEED["n_events"] + 1
    assert _size(a["control/usa_control.csv"]) == gen.CONTROL_ROWS + 1


def _span(sid, name, parent, start, end, run_id="r"):
    return Span(sid=sid, name=name, run_id=run_id, parent=parent,
                start=start, end=end)


def test_self_time_on_a_hand_built_tree():
    # root [0, 10): children a [1, 4) and b [3, 6) overlap by 1 s, so
    # they cover 5 s of the root; c [8, 12) is clipped to the root's end
    # and covers 2 s more. a's child a1 [2, 3) covers 1 s of a.
    spans = [
        _span(0, "cycle", None, 0.0, 10.0),
        _span(1, "read", 0, 1.0, 4.0),
        _span(2, "merge", 0, 3.0, 6.0),
        _span(3, "read", 0, 8.0, 12.0),
        _span(4, "plan", 1, 2.0, 3.0),
        _span(5, "cycle", None, 20.0, 21.0, run_id="s"),
    ]
    st = self_times(spans)
    assert st == pytest.approx({0: 3.0, 1: 2.0, 2: 3.0, 3: 4.0, 4: 1.0,
                                5: 1.0})
    table = layer_table(spans)
    assert table["r"] == pytest.approx(
        {"cycle": 3.0, "read": 6.0, "merge": 3.0, "plan": 1.0,
         "_wall": 10.0})
    assert table["s"] == pytest.approx({"cycle": 1.0, "_wall": 1.0})

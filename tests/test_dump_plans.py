"""The side-execution label in tools/dump_plans.py survives missing,
empty and multi-line descriptions."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.dump_plans import _side_label


def test_side_label_none_and_empty():
    assert _side_label(None) == ""
    assert _side_label("") == ""


def test_side_label_multiline_keeps_first_line_cut_to_120():
    assert _side_label("count at x.py:1\nmore detail") == "count at x.py:1"
    assert _side_label("a" * 200 + "\nb") == "a" * 120

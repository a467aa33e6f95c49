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


def test_too_few_arguments_print_usage_and_exit_2(monkeypatch, capsys):
    """``--help`` or fewer than two positionals is a usage error reported
    before any Spark session starts."""
    import tools.dump_plans as dump_plans

    def no_session(*a, **k):
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(dump_plans, "get_spark", no_session)
    for argv in ([], ["--help"], ["outdir"], ["--side", "outdir"]):
        monkeypatch.setattr(sys, "argv", ["dump_plans.py", *argv])
        assert dump_plans.main() == 2
        err = capsys.readouterr().err
        assert err.startswith("Usage: python tools/dump_plans.py"), err

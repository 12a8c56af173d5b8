"""tools/ab_perfbench.py's seed parsing and pair summary (no runs)."""

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "ab_perfbench", os.path.join(os.path.dirname(__file__), "..", "tools",
                                 "ab_perfbench.py"))
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

SPECS = [{"name": "docs_per_s", "better": "higher"},
         {"name": "setup_s", "better": "lower"}]


def _result(dps, setup, failed=0):
    return {"correct": not failed, "attempted": 10, "failed": failed,
            "metrics": {"docs_per_s": {"value": dps},
                        "setup_s": {"value": setup}}}


def test_parse_seeds():
    assert ab.parse_seeds("601-603") == [601, 602, 603]
    assert ab.parse_seeds("3,5-6,9") == [3, 5, 6, 9]


def test_summary_counts_wins_and_applies_gain_rule():
    runs = [{"base": _result(100 + i, 10.0), "change": _result(130 + i, 10.0)}
            for i in range(10)]
    runs[3]["change"] = _result(90, 10.0)  # one lost pair: 9/10 still a gain
    lines = ab.summarize(runs, SPECS)
    assert "won 9/10" in lines[0] and lines[0].endswith("gain yes")
    # equal set-up times are ties: won by neither side, no gain
    assert "won 0/10" in lines[1] and lines[1].endswith("gain no")
    assert lines[2].startswith("base   failed 0/100")


def test_summary_needs_gap_beyond_base_spread():
    runs = [{"base": _result(100 + 10 * i, 10.0), "change": _result(101 + 10 * i, 10.0)}
            for i in range(10)]
    line = ab.summarize(runs, SPECS)[0]
    assert "won 10/10" in line and line.endswith("gain no")

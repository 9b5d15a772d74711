"""tools/plan_dump.py's normalizer: two sessions building the same query
must print the same text, so every per-session number is replaced."""

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import plan_dump  # noqa: E402


def test_normalize_strips_session_numbering():
    a = (
        "Aggregate [_g#12], [_g#12, sum(_c#40L) AS n#77L]\n"
        "+- Window [sum(_c#40L) windowspecdefinition(_g#12, _v#13L ASC "
        "NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "-1)) AS _we0#80L], [_g#12], [_v#13L ASC NULLS FIRST]\n"
        "   +- LogicalRDD [_g#12, _v#13L], false, rdd_31, plan_id=5"
    )
    b = (
        a.replace("#12", "#212").replace("#13L", "#9L").replace("#40L", "#4L")
        .replace("#77L", "#1L").replace("#80L", "#3L")
        .replace("rdd_31", "rdd_7").replace("plan_id=5", "plan_id=123")
    )
    assert a != b
    assert plan_dump.normalize(a) == plan_dump.normalize(b)
    n = plan_dump.normalize(a)
    assert not re.search(r"#\d", n)
    assert "rdd_N" in n and "plan_id=N" in n
    # names that are not numbered stay: _we0 is a fixed generated name,
    # and a real change (ASC -> DESC) survives normalization
    assert "_we0#" in n
    assert plan_dump.normalize(a.replace("_v#13L ASC", "_v#13L DESC")) != n

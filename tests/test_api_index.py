"""API.md must match what tools/gen_api_index.py renders from the
docstrings, so a new or renamed public function cannot leave it stale."""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import gen_api_index  # noqa: E402


def test_api_md_is_current():
    with open(os.path.join(ROOT, "API.md")) as f:
        assert gen_api_index.render() == f.read(), (
            "API.md is stale: run python tools/gen_api_index.py"
        )

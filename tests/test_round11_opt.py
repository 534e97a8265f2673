"""Round-11 optimization-pass structural tests.

VERDICT r10 #1: an explicit ``F.broadcast`` hint bypasses Spark's size
check, so a hint on a data-proportional table (customer is ~15 B rows at
100 TB TPC-H scale; supplier/part/orders likewise grow with SF) OOMs
every executor at scale. The r11 pass removed every such hint (AQE and
the 10 MB auto-threshold still broadcast those sides at local SFs where
they actually fit); this test keeps them out.
"""

from __future__ import annotations

import os
import re

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = os.path.join(_REPO, "manipula_o_de_dataframes_spark")

# Identifiers that, throughout this codebase, name data-proportional
# frames (base TPC-H tables or frames derived 1:1 from them). A hint on
# a bounded side (nation/region, literal grids, one-row aggregates,
# top-k results, support-pruned censuses) is fine and NOT matched here.
_UNBOUNDED = r"(?:c|s|p|o|li|of|dim|dims|dimk|sn|versioned|customer|supplier|part|orders|lineitem)"
_FORBIDDEN = [
    # F.broadcast(c) / F.broadcast(customer, ...) style
    re.compile(r"F\.broadcast\(\s*" + _UNBOUNDED + r"\s*[),]"),
    # F.broadcast(c.select(...)) style — projection does not bound rows
    re.compile(r"F\.broadcast\(\s*" + _UNBOUNDED + r"\.select"),
]


def _py_sources():
    for root, _dirs, files in os.walk(_PKG):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(root, f)


def test_no_broadcast_hints_on_unbounded_tables():
    hits = []
    for path in _py_sources():
        with open(path) as fh:
            for lineno, line in enumerate(fh, 1):
                # joins.inner/left expose an explicit OPT-IN flag for
                # callers that know their dim is bounded; the guarded
                # expression is the documented escape hatch.
                if "broadcast_dim" in line:
                    continue
                for pat in _FORBIDDEN:
                    if pat.search(line):
                        hits.append(f"{os.path.relpath(path, _REPO)}:{lineno}: {line.strip()}")
    assert not hits, (
        "explicit broadcast hints on data-proportional frames (OOM at "
        "100 TB — VERDICT r10 #1; let the size-checked planner/AQE "
        "decide instead):\n" + "\n".join(hits)
    )


def test_global_ranks_scaled_rejects_bad_specs():
    import pytest

    from manipula_o_de_dataframes_spark.operators.windows import global_ranks_scaled

    # validation fires before any Spark work, so no session is needed
    with pytest.raises(ValueError, match="non-empty"):
        global_ranks_scaled(None, ())
    with pytest.raises(ValueError, match="duplicate out_col"):
        global_ranks_scaled(
            None,
            (("a", "rank", True, ()), ("b", "rank", False, ())),
        )

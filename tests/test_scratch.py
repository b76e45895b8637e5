"""Scratch lifecycle: every builder's intermediate files live in a
unique directory from `session.scratch_dir` and are gone when the
builder returns, so a registry query can be built again while an
earlier frame from it is still unread."""

from __future__ import annotations

import os
import re
from collections import Counter

import pytest

from gmt_dbt_spark.registry import all_queries
from gmt_dbt_spark.session import SCRATCH, scratch_dir

from tests.conftest import SF_DIR

PACKAGE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "gmt_dbt_spark")


def test_scratch_dir_yields_fresh_paths_and_removes_them():
    with scratch_dir("probe") as a, scratch_dir("probe") as b:
        assert a != b
        assert not os.path.exists(a) and not os.path.exists(b)
        assert os.path.dirname(a) == SCRATCH and os.path.basename(a).startswith("probe_")
        os.makedirs(os.path.join(a, "nested"))
        with open(os.path.join(a, "nested", "f"), "w") as f:
            f.write("x")
    assert not os.path.exists(a) and not os.path.exists(b)

    with pytest.raises(RuntimeError, match="boom"):
        with scratch_dir("probe") as c:
            os.makedirs(c)
            raise RuntimeError("boom")
    assert not os.path.exists(c)


# The registry queries that once wrote to a fixed scratch path: a second
# build overwrote the files an earlier, still-unread frame scanned.
REBUILT = [
    "sink_overwrite",
    "sink_compact",
    "sink_zorder",
    "scan_schema_evolution",
    "sink_staging_temp",
    "sink_ctas",
    "model_dag",
    "model_ephemeral",
    "model_select_graph",
    "model_slim_ci",
]


@pytest.mark.parametrize("qid", REBUILT)
def test_query_can_be_rebuilt_before_its_first_frame_is_read(spark, qid):
    build = all_queries()[qid]
    first = build(spark, SF_DIR)
    second = build(spark, SF_DIR)
    rows = Counter(map(tuple, first.collect()))
    assert rows == Counter(map(tuple, second.collect()))


def test_only_session_owns_scratch_paths_and_confs():
    """Source-level gate: under gmt_dbt_spark/, only session.py derives a
    `.scratch` path or sets a session conf, and no path is keyed on the
    process id (two builds in one process would share it)."""
    rules = {
        "derives a .scratch path": re.compile(r"""["']\.scratch["']"""),
        "calls spark.conf.set": re.compile(r"\.conf\.set\("),
        "uses os.getpid()": re.compile(r"\bgetpid\("),
    }
    offenders = []
    for root, _, files in os.walk(PACKAGE):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PACKAGE)
            with open(path) as f:
                text = f.read()
            for what, rx in rules.items():
                if rx.search(text) and (rel != "session.py" or what == "uses os.getpid()"):
                    offenders.append(f"{rel} {what}")
    assert not offenders, offenders

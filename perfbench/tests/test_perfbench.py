"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
from tracing import Span, Tracer  # noqa: E402
from workloads import WORKLOADS, EltWorkload, QueryWorkload  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _names(entries) -> list[str]:
    return [e["name"] for e in entries]


def test_spec_names_are_well_formed_and_unique(spec):
    names = _names(spec["workloads"]) + _names(spec["end_to_end"]) + _names(spec["per_layer"])
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names)
    assert sorted(_names(spec["workloads"])) == sorted(WORKLOADS)


def test_end_to_end_names_are_listed(spec):
    values = run.end_to_end(8.0, 20.0, [6.0, 6.5], [0.1 * i for i in range(1, 30)], 2000.0)
    assert sorted(values) == sorted(_names(spec["end_to_end"]))
    assert all(v > 0 for v in values.values())


class _Log:
    def stats(self, jobs):
        from tracing import JobStats

        return JobStats(stages=len(jobs))


class _Listener:
    batches = [(1, "stream_upsert_sink", 120, 40)]


def test_per_layer_names_are_listed(spec):
    """A synthetic traced pass touching every span kind of every workload
    emits only names that BENCHMARK.json lists, and every op has its rows."""
    tr = Tracer()
    spans = ["catalog.table", "sources.ingest_directory", "models.run", "models.model",
             "upsert.final_load"]
    ops = [q for w in WORKLOADS.values() if isinstance(w(), QueryWorkload) for q in w().qids]
    ops.append("stream_upsert_sink")
    for i, op in enumerate(ops):
        for name in ("build", "exec"):
            tr.spans.append(Span(name, 1, op, i, i + 0.5, i, i + 2))
    tr.spans += [Span(n, 1, "x", 0, 1, 0, 1) for n in spans]
    tr.counts += [(1, "sources.files", 8), (1, "sources.write_amp", 0.2),
                  (1, "upsert.rows_rewritten", 30), (1, "upsert.batch_rows", 10)]
    values = layers.per_layer(tr, _Listener(), _Log(), {True: [7.0], False: [6.5]},
                              {"session.get_spark_s": 5.0, "registry.load_s": 0.2})
    listed = set(_names(spec["per_layer"]))
    assert set(values) == listed
    assert all(NAME.fullmatch(n) for n in values)
    assert values["upsert.rewrite_ratio"] == 3.0


def test_tail_index_leaves_ten_samples_beyond():
    assert run.tail_index(30) == 19
    assert run.tail_index(11) == 0
    assert run.tail_index(5) == 4


def _tree(root: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


def _same_bytes(a: str, b: str) -> bool:
    files = _tree(a)
    return files == _tree(b) and all(
        filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False) for f in files)


def test_warehouse_generator_is_a_function_of_the_seed(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.warehouse(str(tmp_path / name), seed, 0.001)
    assert _same_bytes(tmp_path / "a", tmp_path / "b")
    assert not _same_bytes(tmp_path / "a", tmp_path / "c")


def test_elt_generator_is_a_function_of_the_seed(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.elt(str(tmp_path / name), seed, copies=2, batches=2)
    assert _same_bytes(tmp_path / "a", tmp_path / "b")
    for f in _tree(tmp_path / "a"):
        # every generated file depends on the seed
        assert not filecmp.cmp(tmp_path / "a" / f, tmp_path / "c" / f, shallow=False), f


def test_elt_inputs_keep_both_reader_paths(tmp_path):
    m = gen.elt(str(tmp_path), 3, copies=2, batches=2)
    with open(m["tables"]["yelp_business"]) as f:
        assert f.read(1) == "["  # array layout
    with open(m["tables"]["lv_precipitation"]) as f:
        assert '"' in f.read()  # a quoted field, here one holding a newline
    ids = [json.loads(line)["id"] for line in open(m["target"])]
    assert len(ids) == len(set(ids))
    batch = [json.loads(line)["id"] for line in open(m["batches"][0])]
    assert 0 < len(set(batch) & set(ids)) < len(batch)  # updates and inserts


def test_check_flags_an_injected_wrong_row(tmp_path):
    m = gen.elt(str(tmp_path), 5, copies=1, batches=2)
    con = duckdb.connect()
    want = check.expected_target(con, m["target"], m["batches"])
    assert check.frames_match(want.copy(), want) is None
    bad = want.copy()
    bad.loc[bad.index[3], "val"] = "wrong"
    assert "wrong" in check.frames_match(bad, want)
    assert check.frames_match(want.iloc[1:], want) is not None

    mart = check.expected_mart(con, m["tables"]["yelp_business"], m["tables"]["yelp_review"])
    bad = mart.copy()
    bad.loc[bad.index[0], "n_reviews"] += 1
    assert check.frames_match(bad, mart) is not None


def test_query_check_flags_an_injected_wrong_row(tmp_path):
    from gmt_dbt_spark.registry import all_oracles

    sf_dir = str(tmp_path / "wh")
    gen.warehouse(sf_dir, 1, 0.001)
    con = duckdb.connect()
    for t in os.listdir(sf_dir):
        con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{sf_dir}/{t}'")
    want = con.execute(all_oracles()["agg_group"]).df()
    assert check.frames_match(want.copy(), want) is None
    bad = want.copy()
    col = bad.columns[-1]
    bad.loc[bad.index[0], col] = bad[col].iloc[0] + 1
    assert check.frames_match(bad, want) is not None


def test_workloads_cover_every_listed_op(spec):
    listed = set(_names(spec["per_layer"]))
    for make in WORKLOADS.values():
        w = make()
        qids = w.qids if isinstance(w, QueryWorkload) else ["stream_upsert_sink"]
        for q in qids:
            assert {f"op.{q}.build_s", f"op.{q}.build_jobs", f"op.{q}.exec_s"} <= listed
        assert isinstance(w, (QueryWorkload, EltWorkload))

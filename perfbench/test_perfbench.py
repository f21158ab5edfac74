"""The benchmark's own tests: every output check rejects a corrupted
output, generators are pure functions of the seed, a smoke run leaves the
git tree untouched, and a directory holding only the benchmark fails
without printing a result.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import gen  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    FUNNEL_STAGES,
    PLANTED_STAGES,
    CheckFailed,
    check_funnel,
    check_keys_unique,
    check_oracle,
    check_same_build,
    check_vat_summary,
)


def _files(d: pathlib.Path) -> dict[str, bytes]:
    return {str(p.relative_to(d)): p.read_bytes() for p in sorted(d.rglob("*")) if p.is_file()}


# -- vat_etl ------------------------------------------------------------------


@pytest.fixture(scope="module")
def sheet(tmp_path_factory):
    d = tmp_path_factory.mktemp("sheets")
    sh = gen.vat_sheet(str(d), seed=5, month=3, rows=50)
    return d, sh, gen.expected_summary_rows(sh["expected"])


def _rows(expected):
    return [(p, box, *vals) for (p, box), vals in expected.items()]


def test_vat_check_accepts_the_expected_summary(sheet):
    _, _, expected = sheet
    check_vat_summary(_rows(expected), expected)
    assert len(expected) == 4  # Box A-D of one period


@pytest.mark.parametrize("corrupt", ["cell", "missing_row", "extra_row"])
def test_vat_check_rejects_a_corrupted_summary(sheet, corrupt):
    _, _, expected = sheet
    rows = _rows(expected)
    if corrupt == "cell":
        rows[0] = (*rows[0][:2], rows[0][2] + 0.01, *rows[0][3:])
    elif corrupt == "missing_row":
        del rows[2]
    else:
        rows.append(("Jan 1999", "Box A", 0.0, 0.0, 0.0))
    with pytest.raises(CheckFailed):
        check_vat_summary(rows, expected)


def test_vat_check_rejects_box_d_that_is_not_a_minus_c(sheet):
    _, _, expected = sheet
    bad = dict(expected)
    key = next(k for k in bad if k[1] == "Box D")
    _, vat, _ = bad[key]
    bad[key] = (0.0, vat + 1.0, vat + 1.0)
    with pytest.raises(CheckFailed, match="Box D"):
        check_vat_summary(_rows(bad), bad)


def test_vat_sheet_is_a_function_of_seed_and_month(sheet, tmp_path):
    d, sh, _ = sheet
    again = gen.vat_sheet(str(tmp_path), seed=5, month=3, rows=50)
    assert _files(d) == _files(tmp_path)
    assert again["expected"] == sh["expected"]
    for seed, month in ((6, 3), (5, 4)):
        other = gen.vat_sheet(str(tmp_path / f"o{seed}{month}"), seed=seed, month=month, rows=50)
        assert other["expected"] != sh["expected"]


# -- query_mix ------------------------------------------------------------------


def test_oracle_check_rejects_a_wrong_answer():
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT range AS k, range * 1.5 AS v FROM range(10)")
    rows = [(k, k * 1.5) for k in range(10)]
    check_oracle(con, (["k", "v"], rows), "SELECT v, k FROM t ORDER BY k DESC", "same")
    wrong = list(rows)
    wrong[3] = (3, 5.5)
    with pytest.raises(CheckFailed, match="value mismatch"):
        check_oracle(con, (["k", "v"], wrong), "SELECT k, v FROM t", "value")
    with pytest.raises(CheckFailed, match="rowcount mismatch"):
        check_oracle(con, (["k", "v"], rows[1:]), "SELECT k, v FROM t", "rows")
    with pytest.raises(CheckFailed, match="schema mismatch"):
        check_oracle(con, (["key", "v"], rows), "SELECT k, v FROM t", "cols")


def test_query_tables_are_a_function_of_the_seed(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.query_tables(str(a), seed=3, sf=0.0005)
    gen.query_tables(str(b), seed=3, sf=0.0005)
    assert _files(a) == _files(b)
    assert sorted(p.name for p in a.iterdir()) == sorted(
        f"{t}.parquet" for t in ["region", "nation", "customer", "supplier", "part",
                                 "orders", "lineitem", "events", "documents", "embeddings"])


# -- corpus_build -----------------------------------------------------------------


def _funnel(counts):
    return dict(zip(FUNNEL_STAGES, counts))


def test_funnel_check():
    good = _funnel([100, 90, 80, 70, 60, 55, 50, 45])
    twins = {s: good[s] for s in FUNNEL_STAGES[:-1]}
    check_funnel(good, 45, 45, twins)
    with pytest.raises(CheckFailed, match="grows"):
        check_funnel(_funnel([100, 90, 80, 85, 60, 55, 50, 45]), 45, 45, twins)
    with pytest.raises(CheckFailed, match="docs_written"):
        check_funnel(good, 44, 45, twins)
    with pytest.raises(CheckFailed, match="docs_written"):
        check_funnel(good, 45, 46, twins)
    with pytest.raises(CheckFailed, match="empty"):
        check_funnel(_funnel([100, 0, 0, 0, 0, 0, 0, 0]), 0, 0, twins)
    with pytest.raises(CheckFailed, match="DuckDB twins"):
        check_funnel(good, 45, 45, {**twins, "perplexity": 71})


@pytest.mark.parametrize("stage", PLANTED_STAGES)
def test_funnel_check_rejects_a_planted_stage_that_removes_nothing(stage):
    counts = [100, 90, 80, 70, 60, 55, 50, 45]
    i = FUNNEL_STAGES.index(stage)
    counts[i:] = [c + counts[i - 1] - counts[i] for c in counts[i:]]
    funnel = _funnel(counts)
    twins = {s: funnel[s] for s in FUNNEL_STAGES[:-1]}
    with pytest.raises(CheckFailed, match=f"planted stage {stage} removed nothing"):
        check_funnel(funnel, counts[-1], counts[-1], twins)


def test_build_identity_check_rejects_a_different_build():
    first = (tuple(_funnel([9, 8, 7, 6, 5, 4, 3, 2]).items()), 2, 12345)
    ref = check_same_build(None, first)
    assert check_same_build(ref, first) == first
    with pytest.raises(CheckFailed, match="differs"):
        check_same_build(ref, (first[0], 2, 54321))


def test_keys_check_rejects_a_key_admitted_twice():
    seen: set = set()
    check_keys_unique(["a b", "c d"], seen)
    with pytest.raises(CheckFailed, match="earlier epoch"):
        check_keys_unique(["e f", "a b"], seen)
    with pytest.raises(CheckFailed, match="one epoch"):
        check_keys_unique(["g h", "g h"], set())


def test_planted_clusters_reach_and_are_removed_at_their_stages(tmp_path):
    out = gen.fuzzy_corpus(str(tmp_path), seed=4, n_docs=600)
    texts = pq.read_table(tmp_path / "documents.parquet").column("text").to_pylist()
    assert len(texts) == out["docs"] and list(out["funnel"]) == FUNNEL_STAGES[:-1]
    assert min(out["planted"].values()) > 0
    f = out["funnel"]
    assert f["exact_dedup"] - f["line_dedup"] >= out["planted"]["line"]
    assert f["line_dedup"] - f["span_removal"] >= out["planted"]["span"]
    assert gen.fuzzy_corpus(str(tmp_path / "again"), seed=4, n_docs=600) == out


def test_stream_epochs_are_functions_of_seed_and_epoch(tmp_path):
    a = gen.stream_epoch(str(tmp_path / "a"), seed=2, epoch=1, n_docs=40)
    b = gen.stream_epoch(str(tmp_path / "b"), seed=2, epoch=1, n_docs=40)
    c = gen.stream_epoch(str(tmp_path / "c"), seed=2, epoch=2, n_docs=40)
    assert pathlib.Path(a).read_bytes() == pathlib.Path(b).read_bytes()
    ids_a = set(pq.read_table(a).column("doc_id").to_pylist())
    ids_c = set(pq.read_table(c).column("doc_id").to_pylist())
    assert len(ids_a) == 40 and not ids_a & ids_c


def test_planted_members_repeat_their_source():
    rng = np.random.default_rng(0)
    t = [f"w{i}" for i in range(47)]
    src, line = gen._members(rng, "line", t)
    assert src == t and len(line) == 30 and " ".join(line) in " ".join(t)
    assert " ".join(line).startswith(" ".join(t[10:20]))
    _, span = gen._members(rng, "span", t)
    assert span == t[3:]
    a, b = gen._members(rng, "neardup", t)
    assert sorted(a) == sorted(b) == sorted(t) and a != b


# -- run-level ---------------------------------------------------------------------


def test_e2e_takes_each_operation_types_median():
    from perfbench.run import Tally, e2e

    t = Tally()
    for label, wall, n in [("a", 1.0, 1), ("b", 9.0, 3), ("a", 30.0, 1), ("b", 4.0, 3),
                           ("a", 2.0, 1), ("b", 4.0, 3)]:
        t.labels.append(label)
        t.walls.append(wall)
        t.items.append(n)
    m = e2e(t, setup_s=5.0)
    assert m["setup_s"] == 5.0
    assert m["op_geomean_s"] == pytest.approx((2.0 * 4.0) ** 0.5)
    assert m["items_per_s"] == pytest.approx(4 / 6.0)


def _git_status() -> str:
    return subprocess.run(["git", "status", "--porcelain"], cwd=ROOT, capture_output=True,
                          text=True, check=True).stdout


@pytest.mark.skipif(not (ROOT / ".git").exists(), reason="needs a git checkout")
def test_smoke_run_is_hermetic():
    before = _git_status()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "query_mix",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-2000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0
    assert _git_status() == before
    assert not [d for d in (ROOT / ".perfbench").iterdir() if d.name.startswith("run-")]


def test_bare_benchmark_directory_fails_without_a_result(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    if (ROOT / "BENCHMARK.json").exists():
        shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "query_mix",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
    assert sorted(os.listdir(tmp_path)) == sorted(
        ["perfbench"] + (["BENCHMARK.json"] if (ROOT / "BENCHMARK.json").exists() else []))

"""Unit tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

from perfbench import harness as h
from perfbench import oracles as o


# ------------------------------------------------------------ tail rule
def test_tail_needs_ten_samples_beyond():
    assert h.tail_percentile(list(range(10))) is None
    t = h.tail_percentile(list(range(11)))
    assert t == {"pct": 100 / 11, "value": 0, "n": 11}


def test_tail_rank_is_n_minus_ten():
    xs = list(range(100, 0, -1))  # unsorted input
    t = h.tail_percentile(xs)
    assert t["pct"] == 90.0 and t["value"] == 90 and t["n"] == 100
    t = h.tail_percentile([float(i) for i in range(20)])
    assert t["pct"] == 50.0 and t["value"] == 9.0
    assert sum(1 for x in range(20) if x > t["value"]) == 10


def test_summarize():
    s = h.summarize([3.0, 1.0, 2.0])
    assert s == {"n": 3, "p50": 2.0, "tail": None}


# ------------------------------------------------------------ spans
def _span(i, parent, start, end, name="s"):
    return {"id": i, "name": name, "parent": parent, "start": start, "end": end}


def test_union_length_merges_overlaps():
    assert h.union_length([]) == 0.0
    assert h.union_length([(0, 1), (2, 3)]) == 2
    assert h.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.8)]) == 4


def test_self_time_subtracts_child_cover_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),  # overlaps span 1
        _span(3, 0, 7.0, 8.0),
        _span(4, 1, 1.5, 2.5),  # grandchild: inside span 1, not counted again
        _span(5, None, 20.0, 21.0),  # unrelated root
    ]
    assert h.self_time(spans, 0) == pytest.approx(10 - 5)
    assert h.self_time(spans, 1) == pytest.approx(2 - 1)
    assert h.self_time(spans, 3) == pytest.approx(1)
    assert sorted(h.span_descendants(spans, 0)) == [0, 1, 2, 3, 4]


def test_self_time_clips_children_to_parent():
    spans = [_span(0, None, 0.0, 4.0), _span(1, 0, 3.0, 6.0)]
    assert h.self_time(spans, 0) == pytest.approx(3.0)


def test_coverage_over_several_parents():
    spans = [
        _span(0, None, 0.0, 4.0),
        _span(1, 0, 0.0, 3.0),
        _span(2, None, 10.0, 14.0),
        _span(3, 2, 10.0, 14.0),
    ]
    assert h.coverage(spans, [0, 2]) == pytest.approx(7 / 8)


def test_tracer_nests_and_disables():
    tr = h.Tracer("r", enabled=True)
    with tr.span("a"):
        with tr.span("b") as b:
            b["x"] = 1
    assert [(s["name"], s["parent"]) for s in tr.spans] == [("a", None), ("b", 0)]
    assert tr.spans[1]["x"] == 1 and all(s["end"] >= s["start"] for s in tr.spans)
    tr.enabled = False
    with tr.span("c"):
        pass
    assert len(tr.spans) == 2


# ------------------------------------------------------------ /proc
def _stat_line(pid, comm, ppid, utime, stime, cutime, cstime, rss):
    # fields 3.. of proc(5): state ppid pgrp session tty tpgid flags minflt
    # cminflt majflt cmajflt utime stime cutime cstime priority nice
    # num_threads itrealvalue starttime vsize rss ...
    rest = ["S", ppid, 1, 1, 0, -1, 0, 0, 0, 0, 0, utime, stime, cutime, cstime, 20, 0, 1, 0, 100, 4096, rss, 0]
    return f"{pid} ({comm}) " + " ".join(str(v) for v in rest) + "\n"


def test_parse_proc_stat_with_awkward_command_name():
    line = _stat_line(42, "py worker) (x", 7, 10, 5, 100, 50, 300)
    assert h.parse_proc_stat(line) == (42, 7, 165, 300)


def test_tree_usage_sums_descendants_only(tmp_path):
    procs = {
        100: _stat_line(100, "python", 1, 10, 0, 5, 0, 10),
        101: _stat_line(101, "java", 100, 20, 0, 0, 0, 100),
        102: _stat_line(102, "python3 -m daemon", 101, 1, 1, 30, 0, 5),
        200: _stat_line(200, "other", 1, 999, 0, 0, 0, 999),
    }
    for pid, text in procs.items():
        (tmp_path / str(pid)).mkdir()
        (tmp_path / str(pid) / "stat").write_text(text)
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    cpu, rss, n = h.tree_usage(100, proc_dir=str(tmp_path))
    assert n == 3
    assert cpu == pytest.approx((15 + 20 + 32) / h.CLK_TCK)
    assert rss == (10 + 100 + 5) * h.PAGE_SIZE


def test_jit_ticks_counts_only_compiler_threads(tmp_path):
    threads = {
        (101, 1): ("java", 7, 1),
        (101, 2): ("C2 CompilerThre", 30, 2),
        (101, 3): ("C1 CompilerThre", 4, 0),
        (101, 4): ("Executor task l", 50, 5),
        (102, 9): ("C2 CompilerThre", 10, 0),
    }
    for (pid, tid), (comm, ut, st) in threads.items():
        d = tmp_path / str(pid) / "task" / str(tid)
        d.mkdir(parents=True)
        (d / "comm").write_text(comm + "\n")
        (d / "stat").write_text(_stat_line(tid, comm, 1, ut, st, 0, 0, 0))
    assert h.jit_ticks([101], proc_dir=str(tmp_path)) == 36
    assert h.jit_ticks([101, 102, 999], proc_dir=str(tmp_path)) == 46


def test_tree_usage_keeps_cpu_of_reaped_children():
    before = h.tree_usage(os.getpid())[0]
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\n"
    subprocess.run([sys.executable, "-c", burn], check=True)
    after = h.tree_usage(os.getpid())[0]
    assert after - before >= 0.25


def test_cpu_line_and_steal_share():
    a = h.parse_cpu_line("cpu  100 0 50 800 10 0 0 40 0 0\ncpu0 1 2 3\n")
    assert a["steal"] == 40 and a["total"] == 1000
    b = h.parse_cpu_line("cpu  200 0 100 1600 20 0 0 80 0 0\n")
    assert h.steal_share(a, b) == pytest.approx(0.04)
    assert h.steal_share(a, a) == 0.0
    with pytest.raises(ValueError):
        h.parse_cpu_line("intr 1 2 3\n")


def test_meminfo(tmp_path):
    p = tmp_path / "meminfo"
    p.write_text("MemTotal:       16456384 kB\nMemFree:  1 kB\n")
    assert h.read_meminfo_kib("MemTotal", str(p)) == 16456384


@pytest.mark.parametrize(
    "text, want",
    [
        ("1,234", 1234.0),
        ("total (min, med, max (stageId: taskId))\n1.2 s (0 ms, 0.4 s, 0.8 s (stage 3.0: task 9))", 1.2),
        ("total (min, med, max (stageId: taskId))\n350 ms (1 ms, 2 ms, 3 ms (stage 1.0: task 2))", 0.35),
        ("total (min, med, max (stageId: taskId))\n2.0 KiB (1.0 KiB, ...)", 2048.0),
        ("12", 12.0),
    ],
)
def test_parse_sql_metric(text, want):
    assert h.parse_sql_metric(text) == pytest.approx(want)


# ------------------------------------------------------------ comparators
def _frame(**cols):
    return pd.DataFrame(cols)


def test_compare_frames_ignores_row_order():
    a = _frame(k=[2, 1], n=[20, 10], x=[0.2, 0.1])
    b = _frame(k=[1, 2], n=[10, 20], x=[0.1, 0.2])
    assert o.compare_frames(a, b, ["k"], exact=["n"], bitwise=["x"]) == []


def test_compare_frames_reports_each_kind():
    want = _frame(k=[1, 2], n=[10, 20], x=[0.1, 0.2], y=[1.0, np.nan])
    assert o.compare_frames(want.iloc[:1], want, ["k"]) == ["row count 1 != 2"]
    assert o.compare_frames(want.assign(k=[1, 3]), want, ["k"]) == ["key column k differs"]
    errs = o.compare_frames(want.assign(n=[10, 21]), want, ["k"], exact=["n"])
    assert len(errs) == 1 and errs[0].startswith("n: 1 rows differ")
    one_ulp = np.nextafter(0.2, 1.0)
    assert o.compare_frames(want.assign(x=[0.1, one_ulp]), want, ["k"], bitwise=["x"])
    assert o.compare_frames(want.assign(x=[0.1, one_ulp]), want, ["k"], approx=["x"]) == []
    assert o.compare_frames(want.assign(x=[0.1, 0.2001]), want, ["k"], approx=["x"])
    errs = o.compare_frames(want.assign(y=[np.nan, 1.0]), want, ["k"], approx=["y"])
    assert errs == ["y: nulls in 2 rows differ"]


def test_labels_match_tolerates_only_threshold_ties():
    score = np.array([1.0, 3.0 + 1e-12, 5.0])
    want = np.array([-1, 1, 1])
    assert o.labels_match(score, np.array([-1, -1, 1]), want, 3.0)
    assert not o.labels_match(score, np.array([1, 1, 1]), want, 3.0)


def test_epoch_s_with_and_without_zone():
    naive = pd.Series(pd.to_datetime(["2024-01-01 00:01:00"]))
    aware = naive.dt.tz_localize("UTC")
    assert o.epoch_s(naive)[0] == o.epoch_s(aware)[0] == 1704067260


# ------------------------------------------------------------ oracles
def _tier(means, ts):
    return pd.DataFrame(
        {"source": "a", "ts_s": np.array(ts, dtype=np.int64) * 60, "mean": means,
         "cnt": np.ones(len(ts), dtype=np.int64), "sum_v": np.array(means, dtype=np.int64)}
    )


def test_gap_fill_oracles():
    sp = o.spine(_tier([1.0, 4.0], [0, 3]))
    assert list(sp["ts_s"]) == [0, 60, 120, 180] and list(sp["obs"]) == [True, False, False, True]
    assert list(o.locf(sp)["mean"]) == [1.0, 1.0, 1.0, 4.0]
    assert list(o.locf(sp)["cnt"]) == [1, 0, 0, 1]
    assert list(o.linear(sp)["mean"]) == [1.0, 2.0, 3.0, 4.0]


def test_rolling_corr_oracle_matches_pandas():
    rng = np.random.default_rng(0)
    x = rng.integers(0, 50, 40)
    y = x * 3 + rng.integers(0, 20, 40)
    df = pd.DataFrame({"source": "a", "cnt": x, "sum_v": y.astype(float)})
    got = o.rolling_corr(df, 7)["corr"].to_numpy()
    want = pd.Series(x, dtype=float).rolling(7).corr(pd.Series(y, dtype=float)).to_numpy()
    assert np.isnan(got[:6]).all()
    np.testing.assert_allclose(got[6:], want[6:], rtol=1e-12)


def test_zscore_and_ewma_oracles_match_pandas():
    rng = np.random.default_rng(1)
    v = rng.normal(100, 5, 50)
    df = pd.DataFrame({"source": "a", "ts_s": np.arange(50) * 60, "mean": v})
    z = o.zscore(df, 10, 3.0)
    r = pd.Series(v).rolling(10)
    np.testing.assert_allclose(z["roll_mean"], r.mean(), rtol=1e-9)
    np.testing.assert_allclose(z["roll_std"], r.std(), rtol=1e-9)
    e = o.ewma(df, 0.2)
    assert e["resid"].iloc[0] == 0.0
    assert e["resid"].iloc[1] == pytest.approx(v[1] - v[0])


# ------------------------------------------------------------ entry point
def test_run_refuses_without_program_sources(tmp_path):
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shutil.copytree(here, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tier_build", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode == 2
    assert proc.stdout == "" and "mtsad_spark" in proc.stderr

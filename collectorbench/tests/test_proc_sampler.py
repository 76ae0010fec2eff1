"""The /proc sampler's parsing and arithmetic."""

import os

import pytest

import sampler


def _stat(pid, comm, ppid, utime, stime, cutime, cstime, rss):
    # fields 3.. after "(comm)": state ppid pgrp session tty tpgid flags
    # minflt cminflt majflt cmajflt utime stime cutime cstime priority
    # nice threads itrealvalue starttime vsize rss
    rest = ["S", ppid, 1, 1, 0, -1, 0, 0, 0, 0, 0, utime, stime, cutime, cstime,
            20, 0, 4, 0, 100, 1 << 20, rss]
    return f"{pid} ({comm}) " + " ".join(str(v) for v in rest) + " 0 0 0\n"


def test_parse_stat_handles_spaces_and_parens_in_the_name():
    line = _stat(42, "java (x) worker", 7, 100, 50, 30, 20, 2560)
    assert sampler.parse_stat(line) == (7, 200)


def test_tree_and_cpu_arithmetic():
    stats = {
        10: sampler.parse_stat(_stat(10, "python", 1, 100, 0, 0, 0, 256)),
        11: sampler.parse_stat(_stat(11, "java", 10, 300, 100, 50, 50, 1024)),
        12: sampler.parse_stat(_stat(12, "python3 -m pyspark.daemon", 11, 10, 10, 0, 0, 512)),
        99: sampler.parse_stat(_stat(99, "other", 1, 9999, 0, 0, 0, 9999)),
    }
    pids = sampler.tree_pids({p: s[0] for p, s in stats.items()}, 10)
    assert pids == {10, 11, 12}
    tree = {p: stats[p] for p in pids}
    assert sampler.cpu_seconds(tree, clk_tck=100) == pytest.approx(6.2)


def test_parse_pss():
    text = "5645-7fff ---p 00000000 00:00 0  [rollup]\nRss:  1436 kB\nPss:  321 kB\nPss_Dirty: 104 kB\n"
    assert sampler.parse_pss_kb(text) == 321
    assert sampler.parse_pss_kb("Rss: 5 kB\n") is None


def test_a_jvm_child_before_exec_is_not_counted():
    parent_of = {10: 1, 11: 10, 12: 11, 13: 11, 14: 13}
    exe_of = {10: "python3.11", 11: "java", 12: "java", 13: "python3.11", 14: "python3.11"}
    kids = [p for p in parent_of if sampler.is_jvm_child(p, parent_of, exe_of)]
    assert kids == [12]


def test_live_snapshot_of_this_process():
    snap = sampler.snapshot(os.getpid())
    assert os.getpid() in snap
    assert sampler.cpu_seconds(snap) > 0
    with open("/proc/self/statm") as fh:
        rss_mb = int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
    assert 0 < sampler.memory_mb(snap)[os.getpid()] <= rss_mb


def test_rss_sampler_peak_window():
    s = sampler.RssSampler(os.getpid())
    s.samples = [(1.0, 10.0, 5.0, 2), (2.0, 30.0, 20.0, 3), (3.0, 20.0, 15.0, 3)]
    assert s.peak_between(1.5, 3.0)[1] == 30.0
    assert s.peak_between(2.5, 3.5) == (3.0, 20.0, 15.0, 3)
    assert s.peak_between(4.0, 5.0) is None


def test_host_cpu_ticks_counts_steal_once():
    line = "cpu  100 5 20 800 10 0 5 60 30 0\n"
    assert sampler.host_cpu_ticks(line) == (1000, 60)

"""The /proc readers, fed a fake procfs tree."""

import os

from perfbench import sysinfo


def _proc(tmp_path, pid, ppid, comm, hwm_kib):
    d = tmp_path / str(pid)
    d.mkdir()
    (d / "stat").write_text(f"{pid} ({comm}) S {ppid} 1 1 0 -1\n")
    (d / "status").write_text(f"Name:\t{comm}\nVmPeak:\t999999 kB\nVmHWM:\t{hwm_kib} kB\nVmRSS:\t1 kB\n")


def test_descendants_walks_the_process_tree(tmp_path):
    _proc(tmp_path, 10, 1, "python3", 100)
    _proc(tmp_path, 11, 10, "java", 2048)
    _proc(tmp_path, 12, 11, "python3 -m pyspark.daemon", 1024)  # spaces in comm
    _proc(tmp_path, 13, 12, "we (ird) name", 512)  # parentheses in comm
    _proc(tmp_path, 14, 1, "other", 4096)
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    assert sorted(sysinfo.descendants(10, str(tmp_path))) == [11, 12, 13]


def test_peak_rss_sums_vmhwm_and_skips_vanished(tmp_path):
    _proc(tmp_path, 11, 10, "java", 2048)
    _proc(tmp_path, 12, 11, "worker", 1024)
    assert sysinfo.peak_rss_mib([11, 12, 99], str(tmp_path)) == 3.0


def test_cpu_seconds_sums_own_and_reaped_children_time(tmp_path):
    d = tmp_path / "7"
    d.mkdir()
    # pid (comm) state ppid pgrp session tty tpgid flags
    #   minflt cminflt majflt cmajflt utime stime cutime cstime
    (d / "stat").write_text("7 (py (x) y) S 1 7 7 0 -1 0 0 0 0 0 300 100 40 10 20 0\n")
    tck = os.sysconf("SC_CLK_TCK")
    assert sysinfo.cpu_seconds([7, 8], str(tmp_path)) == (300 + 100 + 40 + 10) / tck


def test_steal_reads_the_eighth_cpu_field(tmp_path):
    (tmp_path / "stat").write_text("cpu  100 0 50 9000 3 0 2 250 0 0\ncpu0 1 0 0 0 0 0 0 0 0 0\n")
    assert sysinfo.steal_seconds(str(tmp_path)) == 250 / os.sysconf("SC_CLK_TCK")


def test_real_proc_readers_run_here():
    assert sysinfo.steal_seconds() >= 0
    assert sysinfo.mem_total_mib() > 0
    assert sysinfo.peak_rss_mib([os.getpid()]) > 0
    assert sysinfo.cpu_seconds([os.getpid()]) > 0

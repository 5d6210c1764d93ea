import os

import pytest

import procmem

STATUS = """Name:\tjava
State:\tS (sleeping)
VmPeak:\t 9000000 kB
VmHWM:\t  204800 kB
VmRSS:\t  102400 kB
"""


def test_vm_hwm_from_status_text():
    assert procmem.vm_hwm_kb(STATUS) == 204800


def test_vm_hwm_missing_field_is_an_error():
    with pytest.raises(ValueError):
        procmem.vm_hwm_kb("Name:\tkthreadd\nState:\tS\n")


def test_parent_pid_with_spaces_and_parens_in_name():
    assert procmem.parent_pid("42 (my (odd) proc) S 7 42 42 0 -1") == 7


def _fake_proc(tmp_path, procs):
    for pid, (ppid, hwm_kb) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        (d / "stat").write_text(f"{pid} (p) S {ppid} 1 1 0")
        (d / "status").write_text(f"Name:\tp\nVmHWM:\t{hwm_kb} kB\n")
    (tmp_path / "self").mkdir()
    return str(tmp_path)


def test_descendants_and_peak_over_a_tree(tmp_path):
    proc = _fake_proc(tmp_path, {10: (1, 1024), 11: (10, 2048), 12: (11, 512), 13: (1, 4096)})
    assert sorted(procmem.descendants(10, proc)) == [11, 12]
    assert procmem.peak_rss_mb([10, 11, 12], proc) == pytest.approx(3.5)
    # a pid that has ended counts zero, and so does a zombie
    (tmp_path / "14").mkdir()
    (tmp_path / "14" / "status").write_text("Name:\tp\nState:\tZ (zombie)\n")
    assert procmem.peak_rss_mb([10, 14, 99], proc) == pytest.approx(1.0)


def test_peak_of_this_process_is_positive():
    assert procmem.peak_rss_mb([os.getpid()]) > 0

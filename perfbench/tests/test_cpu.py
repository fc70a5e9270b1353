"""The CPU clock: process-tree sums and this process's own time."""

import os

import cpu


def test_tree_ticks_counts_root_and_descendants_only():
    # pid: (parent, ticks); 10 is the root, 30 its grandchild, 40 a
    # stranger under pid 1
    stats = {10: (1, 100), 20: (10, 7), 30: (20, 5), 40: (1, 1000)}
    assert cpu.tree_ticks(10, stats) == 112
    assert cpu.tree_ticks(20, stats) == 12
    assert cpu.tree_ticks(99, stats) == 0


def test_clock_counts_this_process_and_a_live_tree():
    clock = cpu.CpuClock()
    before = clock()
    x = 0
    for i in range(2_000_000):
        x += i
    assert clock() > before
    # this process as the "JVM": its own ticks now count twice
    clock.jvm_pid = os.getpid()
    t = os.times()
    assert clock() >= t.user + t.system

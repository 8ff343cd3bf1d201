"""Host and process probes read from /proc (Linux only).

- ``tree_cpu_s``: CPU seconds of this process and every descendant:
  the Python driver, the JVM, and the Python workers the JVM forks.
  Children that already exited are counted through their parent's
  ``cutime``/``cstime`` once reaped.
- ``steal_s``: CPU time the hypervisor gave to other guests, summed
  over all CPUs. Not a property of the code; recorded so a run that
  disagrees with the others can be traced to the host.
- ``tree_peak_rss_mb``: sum of the peak resident set (VmHWM) of the
  same process tree.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid):
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    # the command name may contain spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2:].split()


def _descendants(root):
    children = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(name)[1])
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_pids():
    return _descendants(os.getpid())


def tree_cpu_s(pids=None):
    total = 0
    for pid in pids or tree_pids():
        try:
            f = _stat_fields(pid)
        except (FileNotFoundError, ProcessLookupError):
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat(5);
        # after the ')' split, field 3 is index 0
        total += sum(int(x) for x in f[11:15])
    return total / _TICK


def steal_s():
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) / _TICK if len(cpu) > 8 else 0.0


def tree_peak_rss_mb(pids=None):
    total = 0
    for pid in pids or tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
                        break
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total / 1024

"""Peak RSS of a process tree, sampled from /proc.

    python3 perfbench/rss.py <root_pid> <interval_s>

Runs as its own process so that sampling never holds the benchmark process's
interpreter lock.  Samples the summed RSS of ``root_pid`` and all its
descendants (itself excluded) until its stdin closes, then prints the peak
in kB.
"""

from __future__ import annotations

import os
import sys
import threading

PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def tree_rss_kb(root: int, exclude: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
            with open(f"/proc/{entry}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process exited while we looked
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
        rss[int(entry)] = pages * PAGE_KB
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid != exclude:
            total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


def main() -> None:
    root, interval = int(sys.argv[1]), float(sys.argv[2])
    done = threading.Event()

    def wait_stdin() -> None:
        sys.stdin.read()
        done.set()

    threading.Thread(target=wait_stdin, daemon=True).start()
    peak = 0
    while True:
        peak = max(peak, tree_rss_kb(root, os.getpid()))
        if done.wait(interval):
            break
    print(peak, flush=True)


if __name__ == "__main__":
    main()

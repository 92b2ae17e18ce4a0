"""Peak summed RSS of a process tree, sampled from /proc in a process of
its own, so the sampling never holds the measured driver's interpreter.

    python3 perfbench/rss.py PID

Samples the tree rooted at PID every 50 ms.  A line ``mark`` on standard
input fixes the reported peak at the peak seen so far (sampling goes on,
so the passes after the mark pay the same sampling cost as those
before); end of input stops sampling, and one JSON line
``{"peak": bytes, "top": [[pid, bytes, name], ...]}`` is printed.

A child still running its parent's program (same command line) is a
fork that has not exec'd: it maps its parent's pages, so its RSS is its
parent's counted again, and it is left out.  Those are the JVM's
short-lived helper forks and the Python workers forked from the daemon.
(PSS would split shared pages exactly, but reading a JVM's
``smaps_rollup`` takes ~30 ms under its memory-map lock, which slows the
program being measured.)
"""

from __future__ import annotations

import json
import os
import sys
import threading

PAGE = os.sysconf("SC_PAGE_SIZE")


def _read(path: str) -> bytes:
    with open(path, "rb") as fh:
        return fh.read()


def sample(root: int, skip: int = -1) -> tuple[int, dict[int, tuple[int, str]]]:
    """Summed RSS of the tree under ``root`` (``skip`` left out), and
    the RSS and program name of each process counted."""
    total, procs = 0, {}
    todo = [(root, None)]
    while todo:
        pid, parent_cmd = todo.pop()
        if pid == skip:
            continue
        try:
            cmd = _read(f"/proc/{pid}/cmdline")
            rss = int(_read(f"/proc/{pid}/statm").split()[1]) * PAGE
            for tid in os.listdir(f"/proc/{pid}/task"):
                todo.extend((int(c), cmd) for c in _read(f"/proc/{pid}/task/{tid}/children").split())
        except (OSError, IndexError, ValueError):
            continue
        if cmd == parent_cmd:
            continue
        total += rss
        procs[pid] = (rss, cmd.split(b"\0")[0].decode(errors="replace").rsplit("/", 1)[-1])
    return total, procs


def main() -> int:
    root, me = int(sys.argv[1]), os.getpid()
    every = 0.05
    peak, top = 0, {}
    marked: list[tuple[int, dict]] = []
    done = threading.Event()

    def read_stdin():
        for line in sys.stdin:
            if line.strip() == "mark" and not marked:
                marked.append((peak, dict(top)))
        done.set()

    threading.Thread(target=read_stdin, daemon=True).start()
    while True:
        total, procs = sample(root, me)
        peak = max(peak, total)
        for pid, (rss, name) in procs.items():
            if rss > top.get(pid, (0, ""))[0]:
                top[pid] = (rss, name)
        if done.wait(every):
            break
    peak, top = marked[0] if marked else (peak, top)
    biggest = sorted(top.items(), key=lambda kv: -kv[1][0])[:3]
    print(json.dumps({"peak": peak, "top": [[pid, rss, name] for pid, (rss, name) in biggest]}), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Open-loop request driver.

Requests are released on a fixed schedule (request ``i`` is due at
``t0 + i / rate``) into a pool of at most ``workers`` threads, whatever
the state of earlier requests, so a stall shows up as queueing for the
requests behind it. Every record keeps its due, release, start and end
times; latency is measured from the due time.
"""

from __future__ import annotations

import threading
import time
from concurrent.futures import ThreadPoolExecutor, wait
from dataclasses import dataclass


@dataclass
class Rec:
    i: int
    due: float
    released: float = 0.0
    start: float | None = None
    end: float | None = None
    error: str | None = None
    rejected: bool = False
    result: object = None

    @property
    def latency_ms(self) -> float:
        return (self.end - self.due) * 1000.0

    @property
    def wait_ms(self) -> float:
        return (self.start - self.due) * 1000.0

    @property
    def lag_ms(self) -> float:
        return (self.released - self.due) * 1000.0


def open_loop(call, reqs, rate: float, workers: int, drain_s: float,
              keep=lambda i: False, reject_types=(), on_start=None,
              clock=time.perf_counter) -> list[Rec]:
    """Run ``call(req)`` for each request at ``rate`` per second.

    ``keep(i)`` selects the requests whose result is kept for checking.
    Exceptions of ``reject_types`` count as rejections, any other as
    errors. Requests still queued ``drain_s`` after the last due time
    are cancelled and keep ``start is None``. ``on_start(rec)`` runs on
    the worker thread just before the call.
    """
    recs: list[Rec] = []
    futs = []
    pool = ThreadPoolExecutor(max_workers=workers, thread_name_prefix="req")

    def run(rec: Rec, req) -> None:
        rec.start = clock()
        try:
            if on_start is not None:
                on_start(rec)
            out = call(req)
            if keep(rec.i):
                rec.result = out
        except reject_types:
            rec.rejected = True
        except Exception as e:  # a failed request is counted, not fatal
            rec.error = f"{type(e).__name__}: {e}"
        finally:
            rec.end = clock()

    t0 = clock() + 0.02
    try:
        for i, req in enumerate(reqs):
            due = t0 + i / rate
            delay = due - clock()
            if delay > 0:
                time.sleep(delay)
            rec = Rec(i, due, clock())
            recs.append(rec)
            futs.append(pool.submit(run, rec, req))
        last_due = recs[-1].due if recs else t0
        _, pending = wait(futs, timeout=max(0.0, last_due + drain_s - clock()))
        for f in pending:
            f.cancel()
    finally:
        pool.shutdown(wait=True)
    return recs


class MemPeak:
    """Peak memory of this process and all its descendants (driver
    Python, JVM, Python workers), sampled from /proc as the proportional
    set size: resident pages, with each page shared between processes
    (the forked Python workers share most of theirs) split among them,
    so a page is counted once across the tree."""

    def __init__(self, period_s: float = 1.0):
        self.period_s = period_s
        self.peak_kb = 0
        self.peak_split: dict[str, int] = {}
        self._stop = threading.Event()
        self._th = threading.Thread(target=self._loop, name="mem", daemon=True)

    @staticmethod
    def tree_pss_kb(root: int, by_name: dict | None = None) -> int:
        """Proportional set size of ``root`` and its descendants, in kB;
        ``by_name`` (if given) receives the split by process name."""
        import os

        children: dict[int, list[int]] = {}
        names: dict[int, str] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            comm, rest = stat.split(" (", 1)[1].rsplit(")", 1)
            pid = int(name)
            children.setdefault(int(rest.split()[1]), []).append(pid)
            names[pid] = comm
        total, todo = 0, [root]
        while todo:
            p = todo.pop()
            kb = 0
            try:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            kb = int(line.split()[1])
                            break
            except (OSError, ValueError, IndexError):
                pass  # the process ended between the scan and the read
            comm = names.get(p, "")
            total += kb
            if by_name is not None and kb:
                by_name[comm] = by_name.get(comm, 0) + kb
            todo.extend(children.get(p, ()))
        return total

    def sample(self) -> None:
        import os

        split: dict[str, int] = {}
        kb = self.tree_pss_kb(os.getpid(), split)
        if kb >= self.peak_kb:
            self.peak_kb, self.peak_split = kb, split

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def start(self) -> "MemPeak":
        self.sample()
        self._th.start()
        return self

    def stop(self) -> None:
        """Take a last sample and stop; idempotent."""
        if not self._stop.is_set():
            self._stop.set()
            self._th.join()
            self.sample()


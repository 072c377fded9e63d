"""Process-session helpers: RSS and CPU time of a session (a worker, its
JVM and the JVM's Python workers), and stopping what a session left."""

from __future__ import annotations

import os
import signal
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def session_procs(sid: int) -> dict[int, tuple[int, float]]:
    """pid -> (resident bytes, CPU seconds) of every process in session
    ``sid``. CPU seconds are user + system, with reaped children's."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # fields after "(comm) ": state is field 3, session 6, utime to
        # cstime 14-17, rss 24
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[3]) == sid:
            out[int(name)] = (int(fields[21]) * PAGE,
                              sum(map(int, fields[11:15])) / TICK)
    return out


def session_cpu_s(sid: int) -> float:
    """CPU seconds used so far by the live processes of session ``sid``."""
    return sum(cpu for _, cpu in session_procs(sid).values())


class RssSampler(threading.Thread):
    """Peak of the summed RSS of session ``sid``, sampled every 100 ms
    until the file ``until`` exists or ``stop`` is called. Run it from
    outside the session, so its scans of /proc do not count in the
    session's CPU time."""

    def __init__(self, sid: int, until: str) -> None:
        super().__init__(daemon=True)
        self.sid, self.until, self.peak = sid, until, 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not (self._stop_evt.wait(0.1) or os.path.exists(self.until)):
            self.peak = max(self.peak, sum(
                rss for rss, _ in session_procs(self.sid).values()))

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def reap(sid: int) -> None:
    """Stop what is left of session ``sid`` (the JVM outlives its Python
    driver by a second or two): TERM it, then KILL what stays, and wait
    until the session is empty."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in session_procs(sid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10.0
        while session_procs(sid) and time.time() < deadline:
            time.sleep(0.05)
        if not session_procs(sid):
            return
    raise RuntimeError(f"processes of session {sid} survived SIGKILL")

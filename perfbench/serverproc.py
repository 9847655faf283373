"""The server under test as a child process tree, read through /proc.

The server runs in its own session, so its JVM child (Spark local mode
keeps every executor thread inside that one java process) shares its
process group: CPU and RSS are summed over the group, and stopping the
server waits until no process of the group is left."""

from __future__ import annotations

import os
import select
import signal
import subprocess
import sys
import time
from typing import Dict, List, Optional

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> Optional[List[str]]:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def group_pids(pgid: int) -> List[int]:
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None and int(st[2]) == pgid and st[0] != "Z":
                out.append(int(name))
    return out


def group_cpu_s(pgid: int) -> float:
    """User + system CPU seconds of every live process in the group."""
    total = 0
    for pid in group_pids(pgid):
        st = _stat(pid)
        if st is not None:
            total += int(st[11]) + int(st[12])
    return total / _CLK


def group_peak_rss_mb(pgid: int) -> float:
    """Sum of each group process's peak resident set (VmHWM), MiB."""
    kb = 0
    for pid in group_pids(pgid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def host_record() -> Dict[str, float]:
    """nproc, 1-minute load average and the CPU steal share since boot,
    so a reader can tell a noisy run from a slow one."""
    rec: Dict[str, float] = {"nproc": float(os.cpu_count() or 1)}
    try:
        rec["loadavg_1m"] = os.getloadavg()[0]
        with open("/proc/stat") as f:
            cpu = [int(x) for x in f.readline().split()[1:]]
        rec["steal_pct"] = 100.0 * cpu[7] / max(1, sum(cpu)) if len(cpu) > 7 else 0.0
    except (OSError, ValueError):
        pass
    return rec


def calibration_ms() -> float:
    """CPU milliseconds this process needs for a fixed pure-Python loop:
    how fast the host runs code at this moment. On a shared host the
    same code takes up to twice the CPU time when neighbours are busy,
    and this loop slows with it."""
    t0 = time.process_time()
    acc = 0
    for i in range(200_000):
        acc += i * i % 7
    return 1000.0 * (time.process_time() - t0)


def steal_ticks() -> int:
    try:
        with open("/proc/stat") as f:
            cpu = f.readline().split()
        return int(cpu[8]) if len(cpu) > 8 else 0
    except (OSError, ValueError):
        return 0


class Server:
    """One ``python -m seqspark`` (or traced bootstrap) process."""

    def __init__(self, cmd: List[str], cwd: str, env: dict, log_path: str,
                 ready_timeout_s: float = 120.0):
        self.log_path = log_path
        self._log = open(log_path, "wb")
        self.proc = subprocess.Popen(
            cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=self._log,
            start_new_session=True,
        )
        self.pgid = self.proc.pid
        try:
            self.http_port, self.grpc_port = self._wait_ready(ready_timeout_s)
        except BaseException:
            self.stop()
            raise

    def _wait_ready(self, timeout_s: float):
        deadline = time.monotonic() + timeout_s
        buf = b""
        while time.monotonic() < deadline:
            if self.proc.poll() is not None:
                raise RuntimeError(f"server exited with {self.proc.returncode}; "
                                   f"see {self.log_path}")
            r, _, _ = select.select([self.proc.stdout], [], [], 0.5)
            if not r:
                continue
            chunk = os.read(self.proc.stdout.fileno(), 4096)
            buf += chunk
            for line in buf.decode(errors="replace").splitlines():
                if line.startswith("seqspark serving "):
                    parts = line.split()
                    http = int(parts[2].rsplit(":", 1)[1])
                    grpc = int(parts[3].rsplit(":", 1)[1])
                    return http, grpc
        raise TimeoutError("server did not become ready")

    def cpu_s(self) -> float:
        return group_cpu_s(self.pgid)

    def wait_idle(self, quiet_s: float, limit_s: float = 20.0) -> None:
        """Wait until the server tree used under a tenth of one core over
        the last ``quiet_s``: with ``quiet_s`` longer than the server's
        maintenance period, a maintenance pass started inside that span
        and found nothing left to do. Gives up after ``limit_s``."""
        samples = [(time.perf_counter(), self.cpu_s())]
        while samples[-1][0] < samples[0][0] + limit_s:
            time.sleep(0.05)
            samples.append((time.perf_counter(), self.cpu_s()))
            t, cpu = samples[-1]
            old = [s for s in samples if s[0] <= t - quiet_s]
            if old and cpu - old[-1][1] < 0.1 * (t - old[-1][0]):
                return

    def peak_rss_mb(self) -> float:
        return group_peak_rss_mb(self.pgid)

    def signal(self, sig: int) -> None:
        os.kill(self.proc.pid, sig)

    def stop(self, graceful: bool = True, timeout_s: float = 90.0) -> int:
        """SIGTERM the server (a graceful CLI stop) if ``graceful``, then
        SIGKILL whatever of its group is left and wait until the group is
        gone."""
        if graceful and self.proc.poll() is None:
            try:
                self.proc.send_signal(signal.SIGTERM)
                self.proc.wait(timeout_s)
            except subprocess.TimeoutExpired:
                pass
        deadline = time.monotonic() + 30
        while True:
            left = group_pids(self.pgid)
            if not left:
                break
            try:
                os.killpg(self.pgid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            if self.proc.poll() is None:
                self.proc.wait(5)
            if time.monotonic() > deadline:
                print(f"processes {left} did not exit", file=sys.stderr)
                break
            time.sleep(0.1)
        if self.proc.stdout is not None:
            self.proc.stdout.close()
        self._log.close()
        return self.proc.returncode if self.proc.returncode is not None else -9

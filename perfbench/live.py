"""Live workloads: a daemon process, driven from one asyncio loop in this
process, which plays the producer and every SSE subscriber.  The only
other thread samples the daemon's resident set, so its blocking /proc
reads never delay a send or a frame's receipt time.

The producer runs an open loop: each event is due at a time fixed by
``schedule`` whatever the daemon does, and each delivery's latency is
timed from that due time.  Events due in the first ``WARMUP_S`` seconds
warm the daemon up; the next ``seconds`` seconds form the measured window.
The producer keeps sending until every delivery expected for the window
has arrived, for ``DRAIN_S`` seconds at most; a delivery still missing
``DRAIN_S`` seconds after that is a failure.
"""

from __future__ import annotations

import asyncio
import bisect
import os
import signal
import socket
import statistics
import sys
import time
from dataclasses import dataclass, field
from urllib.parse import urlencode

from perfbench import trace as tracing
from perfbench.sut import session_alive, sut_env, tree_rss_kb
from perfbench.workloads import LiveInputs, LiveSpec, make_inputs

HERE = os.path.dirname(os.path.abspath(__file__))
# a run whose producer sent a window event later than this is invalid
MAX_LATENESS_S = 0.25
# events due in the first WARMUP_S seconds warm the daemon up; the first
# RAMP_S of them come at RAMP_FRAC of the rate, so the first, cold
# micro-batches leave no backlog for the measured window to drain
WARMUP_S = 16.0
RAMP_S = 10.0
RAMP_FRAC = 0.1
# after the window, events keep coming for at most DRAIN_S seconds while
# the window's last deliveries arrive; then the run waits DRAIN_S more
DRAIN_S = 10.0
PING = b"event: ping\r\n"


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Daemon:
    """One ``daemon_host.py`` process in its own session and directory."""

    def __init__(self, root: str, run_dir: str, trace_path: str | None):
        self.root = root
        self.run_dir = run_dir
        self.trace_path = trace_path
        self.port = _free_port()
        # relative, so a deep checkout cannot overflow the Unix socket
        # path limit; the daemon runs with ``run_dir`` as its cwd
        self.socket = os.path.relpath(os.path.join(run_dir, "daemon.sock"))
        self.proc: asyncio.subprocess.Process | None = None
        self.peak_rss_kb = 0
        self._sampler: asyncio.Task | None = None

    async def start(self) -> float:
        """Launch; returns the launch time (loop clock)."""
        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp)
        cmd = [
            sys.executable, os.path.join(HERE, "daemon_host.py"),
            "--socket", "daemon.sock",
            "--work-dir", "work",
            "--port", str(self.port),
        ]
        if self.trace_path:
            cmd += ["--trace", os.path.abspath(self.trace_path)]
        log = open(os.path.join(self.run_dir, "daemon.log"), "wb")
        launched = asyncio.get_running_loop().time()
        try:
            self.proc = await asyncio.create_subprocess_exec(
                *cmd, cwd=self.run_dir, env=sut_env(self.root, tmp),
                stdin=asyncio.subprocess.PIPE,
                stdout=log, stderr=log, start_new_session=True,
            )
        finally:
            log.close()
        self._sampler = asyncio.create_task(self._sample_rss())
        return launched

    async def _sample_rss(self) -> None:
        while True:
            rss = await asyncio.to_thread(tree_rss_kb, self.proc.pid)
            self.peak_rss_kb = max(self.peak_rss_kb, rss)
            await asyncio.sleep(0.2)

    async def wait_ready(self, timeout: float = 120.0) -> None:
        """Until the daemon accepts on its Unix socket and HTTP port."""
        deadline = asyncio.get_running_loop().time() + timeout
        for kind in ("unix", "tcp"):
            while True:
                if self.proc.returncode is not None:
                    raise RuntimeError(f"daemon exited; see {self.run_dir}/daemon.log")
                if asyncio.get_running_loop().time() > deadline:
                    raise RuntimeError("daemon not ready in time")
                try:
                    if kind == "unix":
                        _, w = await asyncio.open_unix_connection(self.socket)
                    else:
                        _, w = await asyncio.open_connection("127.0.0.1", self.port)
                except OSError:
                    await asyncio.sleep(0.02)
                    continue
                w.close()
                break

    async def stop(self, graceful: bool) -> None:
        """Stop the whole process tree and wait for it.  A graceful stop
        lets the daemon write its trace first."""
        if self.proc is None:
            return
        if graceful and self.proc.returncode is None:
            self.proc.stdin.close()
            try:
                await asyncio.wait_for(self.proc.wait(), 90)
            except asyncio.TimeoutError:
                pass
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        await self.proc.wait()
        # the JVM and Python workers are in the same session: wait for them
        while session_alive(self.proc.pid):
            await asyncio.sleep(0.05)
        if self._sampler is not None:
            self._sampler.cancel()
            try:
                await self._sampler
            except asyncio.CancelledError:
                pass


@dataclass
class Subscriber:
    sub: int  # index into the subscriptions
    reader: asyncio.StreamReader
    writer: asyncio.StreamWriter
    received: dict[int, float] = field(default_factory=dict)  # seq -> loop time
    wrong: int = 0
    duplicate: int = 0


async def _subscribe(port: int, sub: int, subsystem: str, filters) -> Subscriber:
    reader, writer = await asyncio.open_connection("127.0.0.1", port)
    query = urlencode([("subsystem", subsystem)] + [("filter", f) for f in filters])
    writer.write(f"GET /events?{query} HTTP/1.1\r\nHost: perfbench\r\n\r\n".encode())
    status = await reader.readline()
    if not status.startswith(b"HTTP/1.1 200"):
        raise RuntimeError(f"subscription {subsystem} {filters}: {status!r}")
    while (await reader.readline()) not in (b"\r\n", b""):
        pass
    return Subscriber(sub, reader, writer)


@dataclass
class _Window:
    end: int  # first sequence number after the measured window
    got: int = 0  # deliveries of events before ``end`` received so far


async def _receive(s: Subscriber, inputs: LiveInputs, window: _Window) -> None:
    """Read the chunked SSE stream and check each frame byte for byte."""
    loop = asyncio.get_running_loop()
    expected = inputs.expected[s.sub]
    buf = b""
    while True:
        data = await s.reader.read(1 << 16)
        if not data:
            return
        now = loop.time()
        buf += data
        pos = 0
        while True:
            eol = buf.find(b"\r\n", pos)
            if eol < 0:
                break
            size = int(buf[pos:eol], 16)
            end = eol + 2 + size
            if len(buf) < end + 2:
                break
            frame = buf[eol + 2 : end]
            pos = end + 2
            if frame.startswith(PING):
                continue
            at = frame.find(b'"seq":')
            digits = frame[at + 6 : at + 26].split(b",", 1)[0].split(b"}", 1)[0]
            try:
                seq = int(digits) if at >= 0 else -1
            except ValueError:
                seq = -1
            if seq not in expected or inputs.frames[seq] != frame:
                s.wrong += 1
            elif seq in s.received:
                s.duplicate += 1
            else:
                s.received[seq] = now
                if seq < window.end:
                    window.got += 1
        buf = buf[pos:]


async def _connect_all(daemon: Daemon, spec: LiveSpec, inputs: LiveInputs) -> list[Subscriber]:
    subs = []
    for i in range(spec.subscribers):
        k = i % len(inputs.subscriptions)
        subsystem, filters = inputs.subscriptions[k]
        subs.append(await _subscribe(daemon.port, k, subsystem, filters))
    return subs


def _close(subs: list[Subscriber]) -> None:
    for s in subs:
        s.writer.close()


async def _launch(root: str, run_dir: str, spec, inputs, trace_path=None):
    """Launch a daemon and connect every subscriber; returns the daemon,
    its subscribers and the set-up time in seconds."""
    daemon = Daemon(root, run_dir, trace_path)
    launched = await daemon.start()
    try:
        await daemon.wait_ready()
        subs = await _connect_all(daemon, spec, inputs)
    except BaseException:
        await daemon.stop(graceful=False)
        raise
    return daemon, subs, asyncio.get_running_loop().time() - launched


@dataclass
class LiveResult:
    setup_s: float
    latencies: list[float]
    attempted: int
    missing: int
    wrong: int
    duplicate: int
    lateness_max_s: float
    peak_rss_mb: float
    layers: dict[str, tuple[float, str]] | None = None


def schedule(rate: float, seconds: int) -> tuple[list[float], int, int]:
    """Due times (seconds after the start) of every event, and the first
    and one-past-last sequence numbers of the measured window."""
    step = 1.0 / (rate * RAMP_FRAC)
    due = [i * step for i in range(int(RAMP_S / step))]
    t = RAMP_S
    ends = []
    for span in (WARMUP_S - RAMP_S, seconds, DRAIN_S):
        n = int(span * rate)
        due.extend(t + i / rate for i in range(n))
        t += n / rate
        ends.append(len(due))
    return due, ends[0], ends[1]


async def run_live(
    root: str, work: str, spec: LiveSpec, seed: int, seconds: int, traced: bool
) -> LiveResult:
    loop = asyncio.get_running_loop()
    due, n_warm, n_end = schedule(spec.rate, seconds)
    n_total = len(due)
    inputs = make_inputs(spec, seed, n_total)

    trace_path = os.path.join(work, "spans.json") if traced else None
    daemon, subs, setup_s = await _launch(root, work, spec, inputs, trace_path)
    window = _Window(n_end)
    readers = [asyncio.create_task(_receive(s, inputs, window)) for s in subs]
    try:
        _, producer = await asyncio.open_unix_connection(daemon.socket)
        window_expected = sum(
            sum(1 for q in inputs.expected[s.sub] if q < n_end) for s in subs
        )
        wall0 = time.time() - loop.time()
        t0 = loop.time() + 0.05
        lateness_max = 0.0
        sent = 0
        while sent < n_end or window.got < window_expected:
            now = loop.time()
            ready = bisect.bisect_right(due, now - t0)
            if ready > sent:
                if sent < n_end:
                    lateness_max = max(lateness_max, now - (t0 + due[sent]))
                producer.write(b"".join(inputs.lines[sent:ready]))
                sent = ready
                await producer.drain()
            elif now > t0 + due[-1] + DRAIN_S:
                break  # the window's stragglers count as missing
            for r in readers:
                if r.done():
                    r.result()  # a reader failed: surface its error
                    raise RuntimeError("a subscriber stream ended early")
            wake = t0 + due[sent] if sent < n_total else now + 0.05
            await asyncio.sleep(max(0.0, min(wake, now + 0.05) - loop.time()))
        producer.close()
        stopped = loop.time()
    finally:
        _close(subs)
        for r in readers:
            r.cancel()
        await asyncio.gather(*readers, return_exceptions=True)
        await daemon.stop(graceful=traced)

    latencies, missing, attempted = [], 0, 0
    for s in subs:
        for seq in inputs.expected[s.sub]:
            if seq >= n_end:
                continue
            attempted += 1
            at = s.received.get(seq)
            if at is None:
                # never delivered: it counts as at least as late as the
                # moment the run gave up on it
                missing += 1
                at = stopped
            if seq >= n_warm:
                latencies.append(at - (t0 + due[seq]))
    result = LiveResult(
        setup_s=setup_s,
        latencies=latencies,
        attempted=attempted,
        missing=missing,
        wrong=sum(s.wrong for s in subs),
        duplicate=sum(s.duplicate for s in subs),
        lateness_max_s=lateness_max,
        peak_rss_mb=daemon.peak_rss_kb / 1024.0,
    )
    if traced:
        result.layers = tracing.live_layers(
            trace_path, subs, due, t0 + wall0, wall0, n_warm, n_end,
            statistics.median(latencies) if latencies else 0.0,
        )
    return result

"""Open-loop HTTP client: sends each request when it is due, whatever the
state of earlier ones, from one process.

Each of a fixed number of worker threads takes the next request in due
order, waits for its due time and sends it on a fresh connection. A request
due while every worker is busy goes out late. Its latency still runs from
its due time, so a stall is charged to every request that waited behind it.
The worst lateness and the most requests outstanding (due, not yet answered)
are reported, so a run where the client fell behind is visible.
"""

from __future__ import annotations

import http.client
import json
import threading
import time
from dataclasses import dataclass
from urllib.parse import quote

# route -> (URL path segment, query parameter), as the REST surface names them
ROUTES = {
    "keyword": ("query", "query"),
    "hashtag": ("hashtag", "tag"),
    "user": ("user", "id"),
}
TIMEOUT_S = 60.0


@dataclass
class Request:
    rid: int
    due: float  # seconds after the client's start
    route: str  # keyword | hashtag | user
    arg: str
    rung: int = 0


@dataclass
class Result:
    req: Request
    sent: float
    done: float
    body: dict | None
    error: str | None
    gen_sent: int
    gen_done: int

    @property
    def route(self) -> str:
        return self.req.route

    @property
    def arg(self) -> str:
        return self.req.arg

    @property
    def latency(self) -> float:
        return self.done - self.req.due


class OpenLoop:
    """Runs ``schedule`` (in due order) against ``url`` with ``workers``
    threads, one connection each.

    ``generation`` returns ``(published, publishing)``: the generation
    whose refresh has finished and the one whose refresh may have begun. A
    result carries the first before sending and the second after the
    answer, so the snapshot that answered lies between them. No request is
    sent at or after ``end`` (seconds after the start), nor one due then;
    setting it while the client runs ends the schedule early."""

    def __init__(self, url: str, schedule: list[Request], workers: int,
                 generation=None) -> None:
        host, port = url.split("//", 1)[1].split(":")
        self.host, self.port = host, int(port)
        self.schedule = schedule
        self.workers = workers
        self.generation = generation or (lambda: (0, 0))
        self.end = float("inf")
        self.results: list[Result] = []
        self._next = 0
        self._lock = threading.Lock()
        self._threads: list[threading.Thread] = []
        self.t0 = 0.0

    def now(self) -> float:
        return time.perf_counter() - self.t0

    def start(self) -> None:
        self.t0 = time.perf_counter()
        self._threads = [
            threading.Thread(target=self._work, daemon=True)
            for _ in range(self.workers)
        ]
        for t in self._threads:
            t.start()

    def join(self) -> None:
        for t in self._threads:
            t.join()

    def _work(self) -> None:
        while True:
            with self._lock:
                if self._next == len(self.schedule):
                    return
                req = self.schedule[self._next]
                self._next += 1
            wait = req.due - self.now()
            if wait > 0:
                time.sleep(wait)
            if req.due >= self.end or self.now() >= self.end:
                return
            sent = self.now()
            gen_sent = self.generation()[0]
            body, error = None, None
            try:
                body = self.get(req.route, req.arg, req.rid)
            except (OSError, http.client.HTTPException, ValueError) as e:
                error = f"{type(e).__name__}: {e}"
            res = Result(req, sent, self.now(), body, error, gen_sent,
                         self.generation()[1])
            with self._lock:
                self.results.append(res)

    @property
    def lateness_max(self) -> float:
        return max((r.sent - r.req.due for r in self.results), default=0.0)

    @property
    def outstanding_max(self) -> int:
        """The most requests due and not yet answered at one time."""
        events = sorted(
            [(r.req.due, 1) for r in self.results] + [(r.done, -1) for r in self.results]
        )
        peak = cur = 0
        for _, d in events:
            cur += d
            peak = max(peak, cur)
        return peak

    def results_by_rid(self) -> dict[int, Result]:
        return {r.req.rid: r for r in self.results}

    def get(self, route: str, arg: str, rid: int = 0) -> dict:
        """One request on a fresh connection; the parsed JSON answer."""
        path, param = ROUTES[route]
        conn = http.client.HTTPConnection(self.host, self.port, timeout=TIMEOUT_S)
        try:
            conn.request("GET", f"/api/search/{path}?{param}={quote(arg)}&rid={rid}")
            resp = conn.getresponse()
            raw = resp.read()
            if resp.status != 200:
                raise ValueError(f"HTTP {resp.status}")
            return json.loads(raw)
        finally:
            conn.close()


def tail(values: list[float], min_beyond: int = 10) -> tuple[float, float, int] | None:
    """The highest percentile with at least ``min_beyond`` samples above it,
    but not below the 75th (with few samples the first lies under the
    median, and the maximum is too noisy to compare runs by): (value,
    percentile, sample count), or None without samples."""
    n = len(values)
    if not n:
        return None
    xs = sorted(values)
    # exactly min_beyond samples lie above xs[n - 1 - min_beyond]
    idx = max(n - 1 - min_beyond, -(-3 * n // 4) - 1)
    return xs[idx], 100.0 * (idx + 1) / n, n

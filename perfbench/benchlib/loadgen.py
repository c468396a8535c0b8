"""Open-loop load generator: one process, separate from the JVM under
test, with at most `workers` keep-alive connections per route. Requests
are sent on a fixed schedule whatever the server does; each is timed from
its due time. When every connection is busy, due requests wait, and that
wait is part of their latency.
"""

import http.client
import threading
import time


class Request:
    __slots__ = ("route", "qidx", "due", "start", "end", "status", "body")

    def __init__(self, route, qidx, due):
        self.route, self.qidx, self.due = route, qidx, due
        self.start = self.end = self.status = None
        self.body = None

    def record(self):
        return {"route": self.route, "qidx": self.qidx, "due": self.due,
                "start": self.start, "end": self.end, "status": self.status}


def schedule(steps, pick, t0_ns):
    """Requests of a ladder: `steps` is [(rate, seconds)], `pick()` returns
    (route, qidx). Sends are evenly spaced at each step's rate."""
    out, bounds, t = [], [], t0_ns
    for rate, secs in steps:
        n = int(round(rate * secs))
        gap = 1e9 / rate
        reqs = [Request(*pick(), int(t + i * gap)) for i in range(n)]
        out += reqs
        t = int(t + secs * 1e9)
        bounds.append((rate, reqs, t))
    return out, bounds


def run(requests, ports, payloads, workers, drain_s=3.0, timeout_s=10.0):
    """Send `requests` (due-ordered) over `workers` threads. `payloads` maps
    (route, qidx) to the body bytes, `ports` maps route to port. Requests
    still unsent `drain_s` after the last due time fail unsent."""
    lock = threading.Lock()
    nxt = [0]
    cutoff = requests[-1].due + int(drain_s * 1e9) if requests else 0

    def worker():
        conns = {}
        while True:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            if i >= len(requests):
                break
            r = requests[i]
            wait = (r.due - time.monotonic_ns()) / 1e9
            if wait > 0:
                time.sleep(wait)
            r.start = time.monotonic_ns()
            if r.start > cutoff:
                r.status, r.end = -1, r.start
                continue
            try:
                c = conns.get(r.route)
                if c is None:
                    c = conns[r.route] = http.client.HTTPConnection(
                        "127.0.0.1", ports[r.route], timeout=timeout_s)
                c.request("POST", "/" + r.route, body=payloads[(r.route, r.qidx)],
                          headers={"Content-Type": "application/octet-stream"})
                resp = c.getresponse()
                r.body = resp.read()
                r.status = resp.status
            except (OSError, http.client.HTTPException):
                r.status = -2
                conns.pop(r.route, None)
            r.end = time.monotonic_ns()
        for c in conns.values():
            c.close()

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(workers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

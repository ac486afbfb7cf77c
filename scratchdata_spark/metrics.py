"""Prometheus metrics in text exposition format (stdlib only — no
client library in this environment).

Mirrors the reference's instrument set:
* ``latency{route,status_code}`` request-latency histogram,
  exponential 0.05s→30s ×20 (``pkg/api/router.go:18-22``)
* ``bytes_returned{route}`` response-size histogram, 1 KB→100 MB ×20
  (``router.go:24-28``)
* ``insert_bytes`` per-request ingest size, 1 KB→100 MB ×5
  (``pkg/api/data.go:20-24``)
* ``insert_array_length`` docs per request, linear 1+50i ×10
  (``data.go:26-30``)

plus callback gauges and counters sampled at scrape time (queue depth,
plan-cache hits and misses per destination).
"""

from __future__ import annotations

import math
import threading


def exponential_buckets_range(lo: float, hi: float, n: int) -> list[float]:
    """n buckets spaced geometrically from lo to hi (inclusive), the
    same shape as prometheus.ExponentialBucketsRange."""
    if n == 1:
        return [lo]
    ratio = (hi / lo) ** (1.0 / (n - 1))
    return [lo * ratio**i for i in range(n)]


def linear_buckets(start: float, width: float, n: int) -> list[float]:
    return [start + width * i for i in range(n)]


def _fmt_labels(labels: dict[str, str], extra: dict[str, str] | None = None) -> str:
    both = {**labels, **(extra or {})}
    if not both:
        return ""
    inner = ",".join(f'{k}="{v}"' for k, v in both.items())
    return "{" + inner + "}"


def _fmt_num(v: float) -> str:
    if v == math.inf:
        return "+Inf"
    return repr(v) if isinstance(v, float) and not v.is_integer() else str(int(v))


class Histogram:
    def __init__(self, name: str, help_: str, buckets: list[float],
                 label_names: tuple[str, ...] = ()):
        self.name = name
        self.help = help_
        self.buckets = sorted(buckets)
        self.label_names = label_names
        self._lock = threading.Lock()
        # label-values tuple -> [bucket_counts..., +inf_count, sum, count]
        self._series: dict[tuple[str, ...], list] = {}

    def observe(self, value: float, **labels: str) -> None:
        key = tuple(str(labels.get(n, "")) for n in self.label_names)
        with self._lock:
            s = self._series.get(key)
            if s is None:
                s = [0] * (len(self.buckets) + 1) + [0.0, 0]
                self._series[key] = s
            for i, b in enumerate(self.buckets):
                if value <= b:
                    s[i] += 1
            s[len(self.buckets)] += 1  # +Inf
            s[-2] += value
            s[-1] += 1

    def render(self) -> str:
        lines = [f"# HELP {self.name} {self.help}",
                 f"# TYPE {self.name} histogram"]
        with self._lock:
            for key, s in sorted(self._series.items()):
                labels = dict(zip(self.label_names, key))
                cum = 0
                for i, b in enumerate(self.buckets):
                    cum = s[i]
                    lines.append(
                        f"{self.name}_bucket"
                        f"{_fmt_labels(labels, {'le': _fmt_num(b)})} {cum}"
                    )
                lines.append(
                    f"{self.name}_bucket{_fmt_labels(labels, {'le': '+Inf'})} "
                    f"{s[len(self.buckets)]}"
                )
                lines.append(f"{self.name}_sum{_fmt_labels(labels)} {s[-2]}")
                lines.append(f"{self.name}_count{_fmt_labels(labels)} {s[-1]}")
        return "\n".join(lines)


class Counter:
    def __init__(self, name: str, help_: str, label_names: tuple[str, ...] = ()):
        self.name = name
        self.help = help_
        self.label_names = label_names
        self._lock = threading.Lock()
        self._series: dict[tuple[str, ...], float] = {}

    def inc(self, amount: float = 1.0, **labels: str) -> None:
        key = tuple(str(labels.get(n, "")) for n in self.label_names)
        with self._lock:
            self._series[key] = self._series.get(key, 0.0) + amount

    def render(self) -> str:
        lines = [f"# HELP {self.name} {self.help}",
                 f"# TYPE {self.name} counter"]
        with self._lock:
            for key, v in sorted(self._series.items()):
                labels = dict(zip(self.label_names, key))
                lines.append(f"{self.name}{_fmt_labels(labels)} {_fmt_num(v)}")
        return "\n".join(lines)


class Gauge:
    """Callback gauge: the value is sampled at scrape time, so queue
    depth / dead-letter counts are always current without a polling
    thread."""

    def __init__(self, name: str, help_: str, fn):
        self.name = name
        self.help = help_
        self.fn = fn

    def render(self) -> str:
        try:
            v = float(self.fn())
        except Exception:  # noqa: BLE001 — a scrape must never 500
            v = float("nan")
        return (
            f"# HELP {self.name} {self.help}\n"
            f"# TYPE {self.name} gauge\n"
            f"{self.name} {_fmt_num(v) if v == v else 'NaN'}"
        )


class SampledCounter:
    """Callback counter with one label: ``fn`` returns {label value:
    count} at scrape time, read from counts the counted object keeps
    (each destination's plan cache); a series restarts from 0 when its
    object is replaced."""

    def __init__(self, name: str, help_: str, label: str, fn):
        self.name = name
        self.help = help_
        self.label = label
        self.fn = fn

    def render(self) -> str:
        lines = [f"# HELP {self.name} {self.help}",
                 f"# TYPE {self.name} counter"]
        try:
            series = self.fn()
        except Exception:  # noqa: BLE001 — a scrape must never 500
            series = {}
        for value, count in sorted(series.items()):
            lines.append(
                f"{self.name}{_fmt_labels({self.label: value})} {_fmt_num(count)}"
            )
        return "\n".join(lines)


class Metrics:
    """The gateway's instrument set + /metrics rendering."""

    def __init__(self):
        self.sampled: list[Gauge | SampledCounter] = []
        self.latency = Histogram(
            "latency", "Request latency",
            exponential_buckets_range(0.05, 30, 20), ("route", "status_code"),
        )
        self.bytes_returned = Histogram(
            "bytes_returned", "Bytes returned",
            exponential_buckets_range(1000, 100_000_000, 20), ("route",),
        )
        self.insert_bytes = Histogram(
            "insert_bytes", "Bytes inserted in single request",
            exponential_buckets_range(1000, 100_000_000, 5),
        )
        self.insert_array_length = Histogram(
            "insert_array_length", "Items in single request",
            linear_buckets(1, 50, 10),
        )
        self.requests = Counter(
            "requests_total", "Requests by route", ("route", "status_code")
        )

    def observe_request(
        self, route: str, status: int, seconds: float, resp_bytes: int
    ) -> None:
        self.latency.observe(seconds, route=route, status_code=str(status))
        self.bytes_returned.observe(resp_bytes, route=route)
        self.requests.inc(route=route, status_code=str(status))

    def add_gauge(self, name: str, help_: str, fn) -> None:
        self.sampled.append(Gauge(name, help_, fn))

    def add_counter(self, name: str, help_: str, label: str, fn) -> None:
        self.sampled.append(SampledCounter(name, help_, label, fn))

    def render(self) -> str:
        parts = [
            self.latency.render(),
            self.bytes_returned.render(),
            self.insert_bytes.render(),
            self.insert_array_length.render(),
            self.requests.render(),
        ]
        parts.extend(g.render() for g in self.sampled)
        return "\n".join(parts) + "\n"

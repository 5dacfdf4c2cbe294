"""Pure helpers: percentiles, the sample-count rule, quantity parsing."""

from __future__ import annotations

import math
import re
from datetime import datetime

TAIL_QUANTILES = (0.99, 0.95, 0.9, 0.75)
MIN_BEYOND = 10


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (NumPy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_quantile(n: int) -> float | None:
    """Highest reported quantile above the median that leaves at least
    ``MIN_BEYOND`` of ``n`` samples beyond it, or None when none does."""
    for q in TAIL_QUANTILES:
        if n * (1.0 - q) >= MIN_BEYOND - 1e-9:
            return q
    return None


def summarize(values) -> dict:
    """Median, the supported tail quantile and the sample count."""
    out = {"n": len(values), "p50": quantile(values, 0.5)}
    q = tail_quantile(len(values))
    if q is not None:
        out["tail_q"] = q
        out["tail"] = quantile(values, q)
    return out


def describe(name: str, values) -> str:
    """One human-readable line of seconds: median, tail (or why there is
    none), n."""
    s = summarize(values)
    line = f"{name:<28} p50 {s['p50']:.4f} s"
    if "tail" in s:
        line += f", p{round(s['tail_q'] * 100)} {s['tail']:.4f} s"
    else:
        line += (f", max {max(values):.4f} s (no quantile above p50 "
                 f"leaves {MIN_BEYOND} samples beyond it)")
    return line + f" [n={s['n']}: " + " ".join(f"{v:.3f}" for v in values) + "]"


_UNITS = {"ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0,
          "m": 60.0, "min": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30,
          "TiB": 2.0**40}
_QTY = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-zµ]+)?")


def parse_quantity(text: str) -> float:
    """Parse a Spark UI metric value into seconds, bytes or a count.

    Handles plain values (``"564 ms"``, ``"1015.3 KiB"``, ``"20,000"``) and
    the per-task form ``"total (min, med, max ...)\\n1.2 s (...)"``, where
    the total comes first on the second line."""
    line = text.split("\n", 1)[1] if text.startswith("total") else text
    m = _QTY.search(line)
    if not m:
        raise ValueError(f"no quantity in {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _UNITS[unit] if unit in _UNITS else value


def parse_instant(text: str) -> float:
    """Epoch seconds of a Spark ISO instant such as
    ``2026-10-16T23:26:47.653Z`` or ``2026-10-16T23:26:47.653GMT``."""
    t = text.replace("GMT", "Z").replace("Z", "+00:00")
    return datetime.fromisoformat(t).timestamp()


def batch_latency_s(progress: dict) -> float | None:
    """Commit time of a micro-batch minus the newest event time in it:
    ``timestamp + durationMs.triggerExecution - eventTime.max``. None when
    the batch carried no events."""
    mx = progress.get("eventTime", {}).get("max")
    if not mx or not progress.get("numInputRows"):
        return None
    done = (parse_instant(progress["timestamp"])
            + progress["durationMs"]["triggerExecution"] / 1000.0)
    return done - parse_instant(mx)
